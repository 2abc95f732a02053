package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis passes of a training-data pipeline: language ID, quality
  * scoring, token counting, document fingerprinting. All single-pass
  * column expressions (codegen-friendly, no UDFs, no shuffles) — at
  * 100 TB these run at scan speed as map-side transforms.
  */
object TextAnalysis {

  /** Stopword markers per language for the n-gram/stopword-hit heuristic.
    * Tiny closed lists — the point is the *operator shape* (argmax over
    * per-language evidence scores), swappable for real profiles. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "dans"),
    "es" -> Seq("el", "los", "las", "es", "una", "que", "por", "con"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "他", "不"))

  private def markerHits(text: Column, words: Seq[String]): Column = {
    // \b boundaries are ASCII-word-based: correct for Latin-script
    // markers, but CJK characters are not \w so \b(的)\b can never match
    // — non-Latin marker sets match bare (each marker is a single
    // ideograph, so false positives are not a concern).
    val latin = words.forall(_.forall(c => c < 0x80))
    val pat = if (latin) "(?i)\\b(" + words.mkString("|") + ")\\b"
              else "(" + words.mkString("|") + ")"
    regexp_count(text, lit(pat))
  }

  /** Heuristic language ID: argmax of marker-hit counts; "und"
    * (undetermined) when no marker fires. Ties break by language code. */
  def langId(text: Column): Column = {
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, ws) =>
      struct(markerHits(text, ws).as("hits"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Whitespace token count (robust to empty/blank strings). */
  def tokenCount(text: Column): Column = regexp_count(text, lit("\\S+"))

  /** BPE-ish subword count: word-boundary pieces + digit runs +
    * punctuation, the usual ~chars/4 pre-tokenizer estimate shape. */
  def subwordCount(text: Column): Column =
    regexp_count(text, lit("\\p{L}{1,4}|\\p{N}{1,3}|[^\\s\\p{L}\\p{N}]"))

  /** Quality signals: length, token stats, punctuation/digit/upper
    * ratios, stopword density — the filter features of C4/Gopher-style
    * cleaning, as one struct column. */
  def qualitySignals(text: Column): Column = {
    val toks   = tokenCount(text)
    val chars  = length(text)
    val punct  = regexp_count(text, lit("[\\p{Punct}]"))
    val digits = regexp_count(text, lit("[0-9]"))
    val uppers = regexp_count(text, lit("[A-Z]"))
    val stops  = markerHits(text, langMarkers("en"))
    def ratio(n: Column) =
      when(chars > 0, n.cast("double") / chars.cast("double")).otherwise(lit(0.0))
    struct(
      chars.as("n_chars"), toks.as("n_tokens"),
      punct.as("n_punct"), stops.as("n_stopwords"),
      ratio(punct).as("punct_ratio"),
      ratio(digits).as("digit_ratio"),
      ratio(uppers).as("upper_ratio"),
      when(toks > 0, stops.cast("double") / toks.cast("double"))
        .otherwise(lit(0.0)).as("stopword_ratio"),
      when(toks > 0, chars.cast("double") / toks.cast("double"))
        .otherwise(lit(0.0)).as("chars_per_token"))
  }

  /** Gopher-style keep/drop decision from the signals. */
  def qualityKeep(text: Column,
                  minTokens: Int = 8, maxTokens: Int = 100000,
                  maxPunctRatio: Double = 0.3,
                  minStopwordRatio: Double = 0.0): Column = {
    val s = qualitySignals(text)
    s.getField("n_tokens").between(minTokens, maxTokens) &&
      s.getField("punct_ratio") <= maxPunctRatio &&
      s.getField("stopword_ratio") >= minStopwordRatio
  }

  // -------------------------------------------------------------------
  // Gopher rule battery (Rae et al. 2021, Appendix A): the full
  // document-level quality gate of a web-scale curation pipeline, as
  // ONE map-only pass of integer counts plus cross-multiplied
  // threshold comparisons. Counts stay integers and every ratio rule
  // is a·count ≤ b·count (never a float division) — a rational ratio
  // ties at the rounding digit across engines, the integer
  // cross-product cannot (the NOTES determinism rule). Patterns stay
  // in the Java∩RE2 subset so a DuckDB oracle replays them exactly.
  // -------------------------------------------------------------------

  /** The Gopher stopword list ("contains at least two of"). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Per-document integer counts feeding [[gopherKeep]], one struct:
    * words, word chars, symbol hits (# / ellipsis), lines, bullet-start
    * and ellipsis-end lines, words containing a letter, distinct
    * stopwords present. Single scan, codegen'd regexp counts. */
  def gopherCounts(text: Column): Column = {
    val nWords = regexp_count(text, lit("\\S+"))
    val stopsPresent = gopherStopwords.map { w =>
      when(regexp_count(text, lit("(?i)\\b" + w + "\\b")) > 0, 1).otherwise(0)
    }.reduce(_ + _)
    struct(
      nWords.as("n_words"),
      regexp_count(text, lit("\\S")).as("n_word_chars"),
      regexp_count(text, lit("#")).as("n_hash"),
      regexp_count(text, lit("\\.\\.\\.")).as("n_ellipsis"),
      when(length(text) === 0, 0)
        .otherwise(regexp_count(text, lit("\n")) + 1).as("n_lines"),
      regexp_count(text, lit("(?m)^[ \\t]*[-*•]")).as("n_bullet_lines"),
      regexp_count(text, lit("(?m)\\.\\.\\.$")).as("n_ellipsis_lines"),
      regexp_count(text, lit("\\S*[A-Za-z]\\S*")).as("n_alpha_words"),
      stopsPresent.as("n_stopwords_present"))
  }

  /** The keep decision over [[gopherCounts]]: word count in range, mean
    * word length in [minMeanLen, maxMeanLen], symbol (# + "...") to
    * word ratio, bullet-start / ellipsis-end line fractions, fraction
    * of words with an alphabetic character, ≥ minStopwords distinct
    * stopwords. Ratio thresholds are per-mille integers and every rule
    * is cross-multiplied — exact integer math end to end. */
  def gopherKeep(counts: Column,
                 minWords: Int = 50, maxWords: Int = 100000,
                 minMeanLen: Int = 3, maxMeanLen: Int = 10,
                 maxSymbolPerMille: Int = 100,
                 maxBulletPerMille: Int = 900,
                 maxEllipsisLinePerMille: Int = 300,
                 minAlphaPerMille: Int = 800,
                 minStopwords: Int = 2): Column = {
    val w  = counts.getField("n_words")
    val ch = counts.getField("n_word_chars")
    val ln = counts.getField("n_lines")
    w.between(minWords, maxWords) &&
      ch >= lit(minMeanLen) * w && ch <= lit(maxMeanLen) * w &&
      lit(1000) * (counts.getField("n_hash") + counts.getField("n_ellipsis")) <=
        lit(maxSymbolPerMille) * w &&
      lit(1000) * counts.getField("n_bullet_lines") <=
        lit(maxBulletPerMille) * ln &&
      lit(1000) * counts.getField("n_ellipsis_lines") <=
        lit(maxEllipsisLinePerMille) * ln &&
      lit(1000) * counts.getField("n_alpha_words") >= lit(minAlphaPerMille) * w &&
      counts.getField("n_stopwords_present") >= minStopwords
  }

  /** Polynomial rolling-hash fingerprint over word tokens:
    * fp = Σ hash(w_i) * 31^(n-1-i)  (mod 2^61−1) — order-sensitive,
    * unlike a bag-of-words hash. The modulus lives in DECIMAL(38,0)
    * because Spark 4 runs ANSI mode (long overflow throws, no silent
    * wraparound) and acc*31 exceeds 2^63. */
  def rollingFingerprint(text: Column): Column = {
    val p = lit((1L << 61) - 1).cast("decimal(38,0)")
    aggregate(TextShingles.words(text), lit(0L),
      (acc, w) => pmod(acc.cast("decimal(38,0)") * lit(31L) +
        pmod(xxhash64(w), lit((1L << 61) - 1)).cast("decimal(38,0)"), p)
        .cast("long"))
  }

  /** Winnowing-style robust fingerprint set: min rolling hash per window
    * of `w` consecutive shingle hashes → small set of positions that
    * survives local edits. Returned as array<long>.
    *
    * COLUMN form — composition convenience only: the window lambda
    * references the hash-array expression, which interpreted evaluation
    * recomputes per window position (O(tokens²) per doc, the same trap
    * the native WordNgrams kernel fixed). Corpora should use
    * [[winnowingFingerprintsFrame]], which materializes the hash array
    * as a real column first. */
  def winnowingFingerprints(text: Column, ngram: Int = 3, window: Int = 4): Column =
    winnowOver(
      transform(TextShingles.wordNgrams(text, ngram), s => xxhash64(s)), window)

  /** Cross-engine-computable 60-bit shingle hash: the first 15 hex
    * digits of md5 parsed as an integer. Both Spark and DuckDB agree on
    * md5 of the same string, so winnowing built on this hash is
    * hash-checkable by the DuckDB oracle
    * (`('0x' || substring(md5(g),1,15))::BIGINT` on the DuckDB side) —
    * unlike xxhash64, which only Spark implements. Production keeps
    * xxhash64 (one codegen'd long op vs a full md5 + hex parse); this
    * exists so the gate variant of an operator is not weaker than the
    * operator. */
  def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Frame-level winnowing — the corpus path: the shingle-hash array
    * feeds the native fused sliding-min kernel
    * (graft.functions.WinnowMins — one allocation-free pass; the lambda
    * form below allocates a slice and rescans it per position,
    * interpreted). Bit-parity with [[winnowingFingerprints]] is pinned
    * in the spec. `hashFn` selects the shingle hash: xxhash64 default
    * (production), [[md5Hash60]] for oracle-checked gates — the
    * sliding-min kernel is hash-agnostic. */
  def winnowingFingerprintsFrame(df: org.apache.spark.sql.DataFrame,
                                 idCol: String, textCol: String,
                                 ngram: Int = 3, window: Int = 4,
                                 hashFn: Column => Column = xxhash64(_))
      : org.apache.spark.sql.DataFrame =
    df.select(col(idCol),
      graft.functions.TextFunctions.winnowMins(
        transform(TextShingles.wordNgrams(col(textCol), ngram),
          s => hashFn(s)),
        window).as("fingerprints"))

  private def winnowOver(hashes: Column, window: Int): Column = {
    val n = size(hashes)
    when(n <= 0, array().cast("array<bigint>")).otherwise(
      array_distinct(transform(sequence(lit(0), greatest(n - window, lit(0))),
        i => array_min(slice(hashes, i + 1, lit(window))))))
  }

  // -------------------------------------------------------------------
  // PII-style redaction — the scrubbing stage of a training-data
  // pipeline. Patterns stay in the Java∩RE2 common regex subset
  // (character classes, +, ?, {m,n} — no backrefs/lookarounds) so a
  // DuckDB oracle can replicate them byte-for-byte.
  // -------------------------------------------------------------------
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** whitespace spelled as an explicit class: Java's \s includes \x0B,
    * RE2's does not — [^\s] would redact different spans per engine. */
  val UrlPattern   = "https?://[^ \\t\\n\\x0B\\f\\r]+"
  /** digits/dashes only (no spaces — a spaced pattern would swallow
    * numeric word runs), 8+ chars, optional leading +. */
  val PhonePattern = "\\+?[0-9][0-9\\-]{6,}[0-9]"

  /** Counts of redactable spans (URL first — emails/digits inside URLs
    * must count as URL, so they are counted on the URL-stripped text). */
  def redactionCounts(text: Column): (Column, Column, Column) = {
    val noUrl = regexp_replace(text, UrlPattern, "<URL>")
    (regexp_count(noUrl, lit(EmailPattern)),
     regexp_count(text, lit(UrlPattern)),
     regexp_count(regexp_replace(noUrl, EmailPattern, "<EMAIL>"),
       lit(PhonePattern)))
  }

  /** LUHN-VALIDATED card-number detection — the precision stage the
    * [[redactionCounts]] digit patterns can't give: a 16-digit run is
    * only payment-card PII if its Luhn mod-10 checksum holds, which
    * cuts the false-positive rate on ids/timestamps/serials by ~90%
    * (only 1 in 10 random runs passes). Candidates are maximal digit
    * runs of 13–19 characters (PAN lengths); maximal-run extraction +
    * a length filter replaces lookaround anchors, which RE2 (the
    * oracle's regex engine) does not support — the redaction-pattern
    * Java∩RE2 contract.
    *
    * The checksum is pure higher-order-function arithmetic (filter /
    * transform / aggregate over the digit positions of the REVERSED
    * run — double every second digit, subtract 9 past 9, sum mod 10)
    * — exact integers, whole-stage codegen, no UDF.
    *
    * Returns (candidate-run count, Luhn-valid count) — route docs with
    * a positive valid count to the scrub path (q91's span machinery).
    *
    * Scale shape: map-only scan expressions. */
  def luhnCardCounts(text: Column): (Column, Column) = {
    val candidates = filter(
      regexp_extract_all(text, lit("[0-9]+"), lit(0)),
      c => length(c) >= 13 && length(c) <= 19)
    val valid = filter(candidates, c =>
      aggregate(
        transform(sequence(lit(1), length(c)), i => {
          val d = reverse(c).substr(i, lit(1)).cast("int")
          when(i % 2 === 1, d)
            .otherwise(when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
        }),
        lit(0),
        (acc, x) => acc + x) % 10 === 0)
    (size(candidates).cast("long"), size(valid).cast("long"))
  }

  /** READABILITY (Flesch–Kincaid grade, integer milli): the classic
    * surface-form quality score — 0.39·words/sentence +
    * 11.8·syllables/word − 15.59 — with syllables approximated as
    * VOWEL GROUPS ([aeiouy]+ runs, the standard cheap estimator),
    * every ratio floored to milli so both engines agree bit-for-bit.
    * All three patterns live in the Java∩RE2 ASCII subset (the
    * redaction-pattern contract); non-Latin text scores only its
    * ASCII-word content, documented. NULL when a doc has no words.
    *
    * Output columns appended: (words, sentences, syl, fk_milli) —
    * sentences floors at 1 (fragment docs).
    *
    * Scale shape: map-only scan expressions, whole-stage codegen. */
  def readability(df: org.apache.spark.sql.DataFrame,
                  textCol: String): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    df.withColumn("words",
        regexp_count(t, lit("[A-Za-z]+")).cast("long"))
      .withColumn("sentences",
        greatest(regexp_count(t, lit("[.!?]+")), lit(1)).cast("long"))
      .withColumn("syl",
        regexp_count(lower(t), lit("[aeiouy]+")).cast("long"))
      .withColumn("fk_milli",
        when(col("words") === 0, lit(null).cast("long"))
          .otherwise(expr(
            """(390 * ((1000 * words) div sentences)
              |+ 11800 * ((1000 * syl) div words)) div 1000 - 15590"""
              .stripMargin.replace("\n", " "))))
  }

  /** Scrub emails/URLs/phone-like runs with placeholder tokens.
    * Replacement order matters: URLs first (emails and digit runs can
    * appear inside them), then emails, then phones. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlPattern, "<URL>"),
        EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Canonical text normalization for equality-based operations (exact
    * dedup, n-gram containment): Unicode NFC composition (native
    * `nfc_normalize` expression — é as one code point, matching DuckDB's
    * `nfc_normalize`), unicode lowercasing, whitespace runs collapsed to
    * single spaces, ends trimmed. Whitespace is the explicit ASCII class
    * (Java's `\s` and RE2's disagree on \x0B — same rule as the
    * redaction patterns). Map-only, scan-speed. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      graft.functions.TextFunctions.nfcNormalize(lower(text)),
      "[ \\t\\n\\x0B\\f\\r]+", " "))

  // -------------------------------------------------------------------
  // Markup stripping — the raw-crawl → plain-text extraction stage that
  // runs BEFORE every text operator in this file (a WET/CC-style corpus
  // arrives as HTML). Patterns stay in the Java∩RE2 common subset
  // (inline (?is) flags + non-greedy quantifiers, no backrefs — RE2 has
  // none, which is why script/style close-tags are spelled out instead
  // of back-referenced). Map-only, scan-speed.
  // -------------------------------------------------------------------

  /** Count of markup tags in the raw text (the "how much was markup"
    * diagnostic surfaced next to the stripped text). */
  def markupTagCount(text: Column): Column =
    regexp_count(text, lit("</?[A-Za-z!][^>]*>"))

  /** Strip HTML/XML-style markup to plain text: script/style blocks
    * dropped whole (their payload is code, not prose), comments dropped,
    * tags replaced by a space (so `a</p><p>b` does not fuse into `ab`),
    * the six ubiquitous entities decoded LAST (an entity-encoded
    * `&lt;p&gt;` is text, not a tag — decoding after tag removal keeps
    * it), whitespace collapsed to single spaces, ends trimmed. The tag
    * pattern requires a letter or `!` after `<`, so bare comparisons
    * (`a < b`) survive. */
  def stripMarkup(text: Column): Column = {
    val noScript = regexp_replace(text, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "</?[A-Za-z!][^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&amp;" -> "&", "&lt;" -> "<",
      "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'"
    ).foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(decoded, "[ \\t\\n\\x0B\\f\\r]+", " "))
  }

  /** Sentence segmentation — the regex rule shared by Java and RE2:
    * split on runs of terminal punctuation `[.!?]+` followed by
    * whitespace, trim, drop empties. The terminal punctuation of
    * non-final sentences is consumed by the delimiter (a deterministic,
    * engine-shared rule); abbreviation-aware segmentation ("Dr. Smith")
    * needs a model, not a regex — this is the cheap deterministic tier
    * sentence-level dedup/decontamination runs on. Map-only,
    * scan-speed; returns array<string>. */
  def splitSentences(text: Column): Column =
    filter(
      transform(split(text, "[.!?]+[ \\t\\n]+"), s => trim(s)),
      s => length(s) > 0)

  // -------------------------------------------------------------------
  // Trained character-n-gram language ID (Cavnar & Trenkle 1994 /
  // textcat family) — the data-driven sibling of the heuristic
  // [[langId]]: profiles are LEARNED from a labeled corpus, so new
  // languages need labels, not code.
  // -------------------------------------------------------------------

  /** Character n-grams of `text` as array<string> (empty array when the
    * text is shorter than n). r13: the fused native expression
    * (functions.CharNgrams) — one boundary walk per document — replaces
    * the interpreted `transform` lambda, whose per-element `substr`
    * re-scanned the string from its start (O(chars²) per doc,
    * CodegenFallback). Element-for-element identical to that lambda
    * form, kept as `KernelReferences.charNgrams` in the test sources
    * (parity spec in TextExtractSpec). */
  def charNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    graft.functions.TextFunctions.charNgrams(text, n)
  }

  /** Train per-language character-n-gram profiles from a labeled corpus:
    * the `topM` most frequent n-grams of `lower(text)` per label, ranked
    * (count DESC, gram ASC), output (label, gram, rank ∈ [1, topM]).
    *
    * Scale shape: one scan + one map-side-partial groupBy on
    * (label, gram). The per-label rank IS a window, but over the
    * char-n-gram count table, whose size is bounded by |alphabet|^n per
    * label — a property of the character set, not the corpus; the same
    * bounded-domain argument as the IVF centroid table. The profile
    * result is langs·topM rows — broadcast-sized by construction. */
  def trainLangProfiles(df: DataFrame, labelCol: String, textCol: String,
                        n: Int = 3, topM: Int = 300): DataFrame = {
    require(topM >= 1, s"topM must be >= 1, got $topM")
    import org.apache.spark.sql.expressions.Window
    // the gram explode is the corpus-scan hot loop — fan a single-file
    // scan out to all cores (no-op on real layouts / repartitioned input)
    val counts = graft.ops.ScanFanout(df)
      .where(col(labelCol).isNotNull)
      .select(col(labelCol).as("label"),
        explode(charNgrams(lower(col(textCol)), n)).as("gram"))
      .groupBy(col("label"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("cnt").desc, col("gram").asc)))
      .where(col("rank") <= topM)
      .select(col("label"), col("gram"), col("rank"))
  }

  /** Classify each document against [[trainLangProfiles]] output:
    * per (doc, label) score = Σ over the doc's n-gram OCCURRENCES that
    * hit the label's profile of (topM + 1 − rank) — hot profile grams
    * weigh most — argmax by (score DESC, label ASC), docs with no
    * profile hit → (`fallback`, 0). Output (idCol, lang_pred, score).
    * Integer end to end; one gram groupBy, profile broadcast
    * (langs·topM rows), argmax via min(struct), never a window. */
  def classifyByProfile(df: DataFrame, idCol: String, textCol: String,
                        profiles: DataFrame, n: Int = 3, topM: Int = 300,
                        fallback: String = "und"): DataFrame = {
    val docGrams = graft.ops.ScanFanout(df)
      .select(col(idCol), explode(charNgrams(lower(col(textCol)), n)).as("gram"))
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("dc"))
    val scored = docGrams
      .join(broadcast(profiles), "gram")
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("dc") * (lit(topM + 1) - col("rank"))).as("score"))
      .groupBy(col(idCol))
      .agg(min(struct((-col("score")).as("neg"), col("label").as("l")))
        .as("best"))
      .select(col(idCol), col("best.l").as("lang_pred"),
        (-col("best.neg")).as("score"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("lang_pred"), lit(fallback)).as("lang_pred"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** Gopher-style repetition signals: per-document token/bigram counts,
    * distinct counts, and the hottest token/bigram frequency — the exact
    * integer numerators a repetition filter thresholds on (surface counts,
    * not ratios: a rational average ties at the rounding digit across
    * engines — threshold by cross-multiplication downstream).
    *
    * Shape at 100 TB: ONE corpus scan (tokens and bigrams are emitted from
    * the same explode as a tagged union), then two shuffles — the first
    * keyed by (doc, kind, gram) so even a degenerate all-same-token
    * document spreads over the gram dimension, the second by doc. Both are
    * map-side partial aggregates; no windows.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tagged = concat(
      transform(TextShingles.words(col(textCol)),
        w => struct(lit("t").as("kind"), w.as("g"))),
      transform(TextShingles.wordNgrams(col(textCol), 2),
        g => struct(lit("b").as("kind"), g.as("g"))))
    // one (doc,kind,gram) rollup, then conditional aggregates straight to
    // doc level — two exchanges total, not three
    def isKind(kind: String) = col("kind") === kind
    df.select(col(idCol), explode(tagged).as("tg"))
      .select(col(idCol), col("tg.kind").as("kind"), col("tg.g").as("g"))
      .groupBy(col(idCol), col("kind"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(
        coalesce(sum(when(isKind("t"), col("c"))), lit(0L)).as("n_tokens"),
        count(when(isKind("t"), lit(1))).as("n_distinct_tokens"),
        coalesce(max(when(isKind("t"), col("c"))), lit(0L)).as("top_token_cnt"),
        coalesce(sum(when(isKind("b"), col("c"))), lit(0L)).as("n_bigrams"),
        count(when(isKind("b"), lit(1))).as("n_distinct_bigrams"),
        coalesce(max(when(isKind("b"), col("c"))), lit(0L)).as("top_bigram_cnt"))
  }

  /** CORPUS-level n-gram diversity (distinct-n, Li et al. 2016) per
    * sub-corpus: total n-gram instances, distinct n-grams, and the
    * type-token ratio `ttr` = distinct/instances — the generation-
    * diversity / template-saturation diagnostic at corpus granularity
    * ([[repetitionSignals]] is the per-document sibling; this one says
    * whether a whole slice is template spam). No reference analog; gate
    * query q125.
    *
    * Determinism: grams hash to int64 BEFORE the shuffle (`hashFn` —
    * xxhash64 production, [[md5Hash60]] at the gate); a collision
    * conflates two grams corpus-wide (ttr undercounts) at 2^-64 per
    * pair, the q99 trade. The one rational divides ONCE via the shared
    * decimal(27,4)→(18,6) recipe.
    *
    * Scale shape: map-only shingle+hash inside the scan stage, one
    * groupBy(group, gram-hash) — map-side partial, so a hot gram
    * combines before the exchange and the shuffle moves (group, int64)
    * pairs — then a tiny groupBy over the |groups| domain. Never a
    * distinct over raw gram strings. */
  def ngramDiversity(df: DataFrame, textCol: String, n: Int,
                     groupCols: Seq[String],
                     hashFn: Column => Column = xxhash64(_)): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val g = groupCols.map(col)
    val distinctC = count(lit(1)).cast("decimal(27,4)")
    val totalC = sum(col("__cnt")).cast("decimal(27,4)")
    df.select(g :+
        explode(TextShingles.wordNgrams(col(textCol), n)).as("__g"): _*)
      .select(g :+ hashFn(col("__g")).as("__gh"): _*)
      .groupBy(g :+ col("__gh"): _*)
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(g: _*)
      .agg(sum(col("__cnt")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        (distinctC / totalC).cast("decimal(18,6)").as("ttr"))
  }

  /** Full document-profile pass over a corpus frame. */
  def profile(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      langId(col(textCol)).as("lang_pred"),
      tokenCount(col(textCol)).as("n_tokens"),
      subwordCount(col(textCol)).as("n_subwords"),
      qualitySignals(col(textCol)).as("quality"),
      qualityKeep(col(textCol)).as("keep"),
      rollingFingerprint(col(textCol)).as("fingerprint"))

  /** PMI collocation mining — the top-k word pairs that co-occur far
    * more than their unigram frequencies predict ("new york", "machine
    * learning"): the phrase-detection pass a tokenizer/corpus pipeline
    * runs before vocabulary induction (Mikolov et al.'s word2vec phrase
    * step uses exactly this statistic). Score is PMI's rational core
    * scaled to an exact integer, the house ordering recipe:
    * `ppm = 10⁶·c_ab·N div (c_a·c_b)` — a divided float log would tie
    * unpredictably at the rounding digit; the integer cross-product
    * cannot, and log is monotone so the ORDER is PMI's order exactly.
    *
    * Output: (w1, w2, pair_cnt, ppm) — the `topK` pairs with pair_cnt ≥
    * `minPairCount` by (ppm DESC, w1, w2), a total order.
    *
    * Scale shape: one scan explodes tokens once for unigram counts and
    * once for bigrams (two map-side-partial groupBys); the score join
    * keys on single words (vocabulary-keyed, never corpus-keyed); the
    * final top-k is orderBy+limit = TakeOrderedAndProject (per-partition
    * k-lists, no global sort). */
  def collocations(df: DataFrame, textCol: String, minPairCount: Long,
                   topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = df.select(explode(split(col(textCol), " ")).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nTok = toks.agg(count(lit(1)).as("n_total"))
    val grams = df.select(
        explode(TextShingles.wordNgrams(col(textCol), 2)).as("g"))
      .select(split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
    val pairs = grams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minPairCount)
    pairs
      .join(uni.select(col("w").as("w1"), col("c").as("__ca")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("__cb")), "w2")
      .crossJoin(broadcast(nTok))
      .withColumn("ppm", expr(
        """CAST((CAST(pair_cnt AS DECIMAL(38,0)) * n_total * 1000000)
          |div (CAST(__ca AS DECIMAL(38,0)) * __cb) AS BIGINT)"""
          .stripMargin.replace("\n", " ")))
      .select(col("w1"), col("w2"), col("pair_cnt"), col("ppm"))
      .orderBy(col("ppm").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** COMPRESSION-RATIO quality signal — the CCNet/Gopher-family screen
    * the repetition and entropy heuristics approximate: DEFLATE the
    * UTF-8 text and report compressed/raw in ppm. Boilerplate, keyboard
    * mash, and template spam compress far below natural prose (which
    * sits roughly 300–600‰); both tails are suspect. The ratio is a
    * single number that catches repetition patterns n-gram counters
    * miss (long-range, structural).
    *
    * Spec-pinned rather than oracle-gated: DEFLATE output is zlib-
    * version-dependent, so no SQL engine can replay it — determinism
    * within the JVM plus the ordering contract (repetitive ≪ diverse)
    * is what the spec pins.
    *
    * Output: (id, n_bytes, n_deflate, ratio_ppm) — NULLs for empty
    * text.
    *
    * Scale shape: mapPartitions with ONE reused Deflater per
    * partition — map-only, payloads never shuffle, runs at scan
    * speed next to the other quality signals. */
  def compressionSignals(df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, text) =>
          val raw = if (text == null) Array.emptyByteArray
                    else text.getBytes("UTF-8")
          if (raw.isEmpty) (id, None: Option[Long], None: Option[Long],
            None: Option[Long])
          else {
            deflater.reset()
            deflater.setInput(raw)
            deflater.finish()
            var out = 0L
            while (!deflater.finished())
              out += deflater.deflate(buf)
            (id, Some(raw.length.toLong), Some(out),
              Some(1000000L * out / raw.length))
          }
        }
      }
      .toDF(idCol, "n_bytes", "n_deflate", "ratio_ppm")
  }

  /** TEXTTILING-STYLE TOPIC BOUNDARIES (Hearst 1997, block-comparison
    * form) — where does a document change subject? The chunking signal
    * for long-document training prep: split-points that respect topic
    * shifts beat fixed-size windows (ops/Packing.chunkByTokens) for
    * retrieval and packing alike.
    *
    * At every sentence gap g (1..S−1, sentences via [[splitSentences]]),
    * compare the w-sentence blocks either side by VOCABULARY Jaccard
    * (the exact-integer stand-in for Hearst's cosine — same valleys,
    * no sqrt): tokens are non-empty `[^a-z0-9]+` splits of the
    * lowercased sentences, deduplicated per block.
    *   sim_ppm(g)  = (10⁶ · |L ∩ R|) div |L ∪ R|
    *   is_boundary = 1 iff sim_ppm < thresholdPpm
    * Gaps whose blocks contain no tokens at all carry sim_ppm NULL and
    * is_boundary 0 (no evidence — not a boundary call). Docs with a
    * single sentence emit no rows (no gaps).
    *
    * Output rows: (idCol, gap_pos, sim_ppm, is_boundary) — gap_pos g
    * means "between sentence g−1 and g".
    *
    * Scale shape: sentence/token explode is map-side; each token row
    * fans out to ≤ 2w gap memberships (w bounded by contract), one
    * (doc, gap, token) groupBy, one (doc, gap) groupBy — shuffles at
    * the token grain, never doc × doc. */
  def topicBoundaries(df: DataFrame, idCol: String, textCol: String,
                      w: Int = 2,
                      thresholdPpm: Long = 150000L): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    require(thresholdPpm >= 0 && thresholdPpm <= 1000000,
      s"thresholdPpm must be in [0, 10^6], got $thresholdPpm")
    val sents = df.where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(splitSentences(col(textCol))).as(Seq("__p", "__s")))
    val sc = sents.groupBy(col("__id")).agg(max(col("__p")).as("__maxp"))
    val sw = sents.select(col("__id"), col("__p"),
        explode(filter(split(lower(col("__s")), "[^a-z0-9]+"),
          t => length(t) > 0)).as("__wd"))
      .distinct()
      .join(sc, "__id")
    // guard: Spark sequence(a, b) counts DOWN when a > b — emit an
    // empty array instead (the charNgrams lesson)
    def gapsBetween(lo: Column, hi: Column): Column =
      when(lo <= hi, sequence(lo, hi))
        .otherwise(array().cast("array<int>"))
    val mem = sw.select(col("__id"), col("__wd"),
        explode(gapsBetween(col("__p") + 1,
          least(col("__p") + w, col("__maxp")))).as("__g"),
        lit(1).as("__l"), lit(0).as("__r"))
      .unionByName(sw.select(col("__id"), col("__wd"),
        explode(gapsBetween(greatest(col("__p") - (w - 1), lit(1)),
          least(col("__p"), col("__maxp")))).as("__g"),
        lit(0).as("__l"), lit(1).as("__r")))
    val perGap = mem.groupBy(col("__id"), col("__g"), col("__wd"))
      .agg(max(col("__l")).as("__hl"), max(col("__r")).as("__hr"))
      .groupBy(col("__id"), col("__g"))
      .agg(sum(when(col("__hl") === 1 && col("__hr") === 1, 1L)
        .otherwise(0L)).as("__inter"), count(lit(1)).as("__uni"))
    // gap spine keeps wordless gaps visible (sim NULL, not a boundary)
    val spine = sc.where(col("__maxp") >= 1)
      .select(col("__id"), explode(sequence(lit(1),
        col("__maxp").cast("int"))).as("__g"))
    spine.join(perGap, Seq("__id", "__g"), "left")
      .select(col("__id").as(idCol),
        col("__g").cast("long").as("gap_pos"),
        when(col("__uni").isNull || col("__uni") === 0,
            lit(null).cast("long"))
          .otherwise(expr("(1000000 * __inter) div __uni"))
          .as("sim_ppm"))
      .withColumn("is_boundary",
        when(col("sim_ppm").isNotNull && col("sim_ppm") < thresholdPpm,
          lit(1L)).otherwise(lit(0L)))
  }

  /** VOCABULARY GROWTH (Heaps-law curve) — cumulative distinct-token
    * count vs cumulative token count as the corpus is consumed in
    * doc-id order, the diagnostic behind "will my tokenizer's vocab
    * saturate?" and "is this crawl slice adding new language or just
    * more of the same?". A natural corpus grows its vocabulary like
    * V ≈ K·nᵝ (β ≈ 0.4–0.6); a template-farm slice goes flat, a
    * machine-generated-gibberish slice stays near-linear — the curve's
    * SHAPE is the quality signal, read next to the TTR column.
    *
    * The doc-id axis is cut into `buckets` equal-width id ranges via a
    * broadcast 1-row extrema frame (lazy, the exactHistogram rule:
    * w = ⌈(hi−lo+1)/buckets⌉, bucket = (id−lo) div w). Tokens follow
    * the repo's pinned tokenizer (lower, split on [^a-z0-9]+, drop
    * empties); a token is NEW in the bucket of its smallest doc_id.
    * Only buckets containing at least one token surface (the
    * non-empty-bins stance); every cell is an exact integer and
    *   ttr_ppm = (10⁶·vocab_cum) div tokens_cum
    * is the cumulative type-token ratio at the bucket boundary.
    *
    * Output: (bucket, tokens_cum, vocab_cum, ttr_ppm), ascending
    * bucket = corpus prefix order.
    *
    * Scale shape: the token explode is map-side and re-runs once per
    * consumer (two scans — deliberately cheaper than caching a
    * token-grain frame at 100 TB); one (bucket) groupBy for token
    * totals, one (token) groupBy for first occurrences (tokens
    * shuffle at the token grain — the vocabulary is the natural key,
    * never doc × doc), then a buckets²-bounded triangle join for both
    * prefix sums. No global window, no collect. */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
                  buckets: Int = 16): DataFrame = {
    require(buckets >= 1 && buckets <= 1000,
      s"buckets must be in [1, 1000], got $buckets")
    val base = df.select(col(idCol).cast("long").as("__id"),
        col(textCol).as("__tx"))
      .where(col("__id").isNotNull && col("__tx").isNotNull)
    val ext = base.agg(min(col("__id")).as("__lo"),
      max(col("__id")).as("__hi"))
    val tok = base.select(col("__id"),
      explode(filter(split(lower(col("__tx")), "[^a-z0-9]+"),
        t => length(t) > 0)).as("__w"))
    def bucketOf(idc: String) = expr(
      s"($idc - __lo) div ((__hi - __lo + $buckets) div $buckets)")
    val perBucket = tok.crossJoin(broadcast(ext))
      .groupBy(bucketOf("__id").as("__b"))
      .agg(count(lit(1)).as("__tk"))
    val intro = tok.groupBy(col("__w")).agg(min(col("__id")).as("__fd"))
      .crossJoin(broadcast(ext))
      .groupBy(bucketOf("__fd").as("__b2"))
      .agg(count(lit(1)).as("__nv"))
    val spine = perBucket.join(intro, col("__b") <=> col("__b2"), "left")
      .select(col("__b"), col("__tk"),
        coalesce(col("__nv"), lit(0L)).as("__nv"))
    val upto = spine.select(col("__b").as("__bu"),
      col("__tk").as("__tku"), col("__nv").as("__nvu"))
    spine.join(upto, col("__bu") <= col("__b"))
      .groupBy(col("__b").as("bucket"))
      .agg(sum(col("__tku")).as("tokens_cum"),
        sum(col("__nvu")).as("vocab_cum"))
      .select(col("bucket"), col("tokens_cum"), col("vocab_cum"),
        expr("""CAST((1000000 * CAST(vocab_cum AS DECIMAL(38,0)))
               |div tokens_cum AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("ttr_ppm"))
  }
}

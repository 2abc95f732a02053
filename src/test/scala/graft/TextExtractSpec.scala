package graft

import graft.llm.TextAnalysis
import org.apache.spark.sql.functions._

/** TextAnalysis markup stripping (raw-crawl → plain text) and the
  * trained character-n-gram language-ID family (charNgrams /
  * trainLangProfiles / classifyByProfile). */
class TextExtractSpec extends SparkTestBase {
  import spark.implicits._

  private def strip1(s: String): String =
    Seq(s).toDF("text").select(TextAnalysis.stripMarkup(col("text")))
      .as[String].collect().head

  test("stripMarkup drops script/style/comment blocks whole and tags to spaces") {
    val html = "<html><head><style>p{x:1}</style></head>" +
      "<body><p>one</p><!-- gone --><script>if (a<b) {}</script>two</body></html>"
    assert(strip1(html) == "one two")
  }

  test("stripMarkup decodes entities AFTER tag removal — encoded tags stay text") {
    assert(strip1("a &lt;p&gt; b &amp; c&nbsp;d &#39;e&#39; &quot;f&quot;") ==
      "a <p> b & c d 'e' \"f\"")
  }

  test("stripMarkup keeps bare comparisons and collapses whitespace") {
    assert(strip1("3 < 5 and x >\t2\n\nok") == "3 < 5 and x > 2 ok")
    // '<2' is not a tag (needs a letter/!), so the text survives verbatim
    assert(strip1("if x<2 then") == "if x<2 then")
  }

  test("stripMarkup is idempotent on its own output") {
    val html = "<div a=\"1\">x &amp; y</div><p>z</p>"
    val once = strip1(html)
    assert(strip1(once) == once)
  }

  test("markupTagCount counts open/close/self-closing tags only") {
    val got = Seq("<a href=\"x\">t</a><br/> plain < 5 <!doctype html>")
      .toDF("text")
      .select(TextAnalysis.markupTagCount(col("text"))).as[Int].collect().head
    assert(got == 4) // <a>, </a>, <br/>, <!doctype html>
  }

  test("charNgrams: exact trigrams, short-text empty, n=1 identity") {
    def grams(s: String, n: Int) =
      Seq(s).toDF("t").select(TextAnalysis.charNgrams(col("t"), n))
        .as[Seq[String]].collect().head
    assert(grams("abcd", 3) == Seq("abc", "bcd"))
    assert(grams("ab", 3).isEmpty)
    assert(grams("", 2).isEmpty)
    assert(grams("abc", 1) == Seq("a", "b", "c"))
    intercept[IllegalArgumentException] { TextAnalysis.charNgrams(col("t"), 0) }
  }

  test("charNgrams: fused expression ≡ lambda reference (code points, " +
       "nulls, multi-byte)") {
    import org.apache.spark.sql.DataFrame
    // adversarial inventory: ASCII, 2-byte (é/ß), 3-byte (CJK), 4-byte
    // (emoji, astral), mixed widths, spaces/newlines, boundary lengths
    val texts: Seq[String] = Seq(
      null, "", "a", "ab", "abc", "abcd", "  a b ", "a\nb\nc",
      "héllo wörld", "的是了在我有他不", "日本語テキスト",
      "naïve café ß", "🎉🎊🎈", "a🎉b🎊c", "é", "é🎉", "mixed 的 é 🎉 end",
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaab")
    val df: DataFrame = texts.toDF("t")
    for (n <- Seq(1, 2, 3, 5)) {
      val got = df.select(TextAnalysis.charNgrams(col("t"), n).as("g"))
        .as[Seq[String]].collect().toSeq
      val ref = df.select(
          KernelReferences.charNgrams(col("t"), n).as("g"))
        .as[Seq[String]].collect().toSeq
      assert(got == ref, s"fused charNgrams diverged from reference at n=$n")
    }
    // the langid plan must carry the fused expression, not the lambda
    val plan = df.select(TextAnalysis.charNgrams(col("t"), 3))
      .queryExecution.executedPlan.toString
    assert(plan.contains("char_ngrams"), plan)
  }

  // Two synthetic "languages" with disjoint character inventories so the
  // trained profiles separate them provably.
  private val labeled = Seq(
    (1L, "aa", "aaaa bbbb aaaa bbbb aaaa"),
    (2L, "aa", "abab baba abab baba"),
    (3L, "zz", "zzzz yyyy zzzz yyyy zzzz"),
    (4L, "zz", "zyzy yzyz zyzy yzyz"))

  test("trainLangProfiles ranks by (count DESC, gram ASC) and caps at topM") {
    val prof = TextAnalysis.trainLangProfiles(
        labeled.toDF("doc_id", "lang", "text"), "lang", "text",
        n = 2, topM = 3)
      .as[(String, String, Int)].collect().toSet
    // driver reference: bigram counts per label over lower(text)
    def ref(label: String): Seq[(String, String, Int)] = {
      val txts = labeled.filter(_._2 == label).map(_._3.toLowerCase)
      val counts = txts.flatMap(t => t.sliding(2).toSeq)
        .groupBy(identity).map { case (g, v) => g -> v.size }
      counts.toSeq.sortBy { case (g, c) => (-c, g) }.take(3)
        .zipWithIndex.map { case ((g, _), i) => (label, g, i + 1) }
    }
    assert(prof == (ref("aa") ++ ref("zz")).toSet)
  }

  test("classifyByProfile assigns the matching language; no-hit docs fall back") {
    val docs = labeled.toDF("doc_id", "lang", "text")
    val prof = TextAnalysis.trainLangProfiles(docs, "lang", "text",
      n = 2, topM = 10)
    val probes = Seq(
      (101L, "aaa bb aab"),   // aa-charset
      (102L, "zzz yy zzy"),   // zz-charset
      (103L, "qqqq wwww")     // neither → und
    ).toDF("doc_id", "text")
    val got = TextAnalysis.classifyByProfile(probes, "doc_id", "text",
        prof, n = 2, topM = 10)
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(101L)._1 == "aa")
    assert(got(102L)._1 == "zz")
    assert(got(103L) == ("und", 0L))
  }

  test("classifyByProfile ties break to the smallest label and are partition-independent") {
    // one doc whose grams hit both profiles with identical weight: the
    // shared gram " a" is planted at the same rank in both labels
    val sym = Seq((1L, "l1", "pq pq"), (2L, "l2", "pq pq"))
      .toDF("doc_id", "lang", "text")
    val prof = TextAnalysis.trainLangProfiles(sym, "lang", "text", n = 2, topM = 5)
    val probe = Seq((9L, "pq")).toDF("doc_id", "text")
    val a = TextAnalysis.classifyByProfile(probe, "doc_id", "text", prof,
      n = 2, topM = 5).as[(Long, String, Long)].collect().head
    assert(a._2 == "l1") // identical scores → lexicographically first label
    val docs = labeled.toDF("doc_id", "lang", "text")
    val p2 = TextAnalysis.trainLangProfiles(docs, "lang", "text", n = 3, topM = 50)
    val one = TextAnalysis.classifyByProfile(docs, "doc_id", "text", p2,
      n = 3, topM = 50).as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val many = TextAnalysis.classifyByProfile(docs.repartition(7), "doc_id",
      "text", p2, n = 3, topM = 50)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(one == many)
  }

  test("splitSentences: punctuation runs, passthrough, empties") {
    def split(s: String) =
      Seq(s).toDF("t").select(TextAnalysis.splitSentences(col("t")))
        .as[Seq[String]].collect().head
    assert(split("One here. Two now! Three? End.") ==
      Seq("One here", "Two now", "Three", "End."))
    assert(split("no punctuation") == Seq("no punctuation"))
    assert(split("Dr. Smith arrived... Then left!  Done.") ==
      Seq("Dr", "Smith arrived", "Then left", "Done."))
    assert(split("") == Seq.empty)
    assert(split("!. ?  ") == Seq.empty) // all-delimiter input
  }

  test("trainLangProfiles drops NULL labels and guards topM") {
    val withNull = (labeled.map { case (i, l, t) => (i, Option(l), t) } :+
      ((9L, None: Option[String], "aaaa"))).toDF("doc_id", "lang", "text")
    val prof = TextAnalysis.trainLangProfiles(withNull, "lang", "text",
      n = 2, topM = 100)
    assert(prof.select("label").distinct().as[String].collect().toSet ==
      Set("aa", "zz"))
    intercept[IllegalArgumentException] {
      TextAnalysis.trainLangProfiles(withNull, "lang", "text", topM = 0)
    }
  }

  test("collocations: planted phrase wins by PMI, frequency alone does not") {
    // "new york" always co-occurs (8×); "the cat"/"the dog"/"cat the"…
    // are more FREQUENT words but spread across partners, so their PMI
    // core is lower; words below minPairCount vanish
    val docs = (Seq.fill(8)("new york") ++
      Seq.fill(6)("the cat") ++ Seq.fill(6)("the dog") ++
      Seq.fill(6)("cat the") ++ Seq.fill(6)("dog the") ++
      Seq.fill(2)("rare pair")).toDF("text")
    val got = TextAnalysis.collocations(docs, "text",
        minPairCount = 5, topK = 3)
      .as[(String, String, Long, Long)].collect()
    assert(got.head._1 == "new" && got.head._2 == "york")
    // exact integer core: N = 68 tokens, c_ab = 8, c_new = c_york = 8
    // → ppm = 10⁶·8·68 div 64 = 8_500_000
    assert(got.head._4 == 8500000L)
    // "rare pair" (count 2) filtered by minPairCount
    assert(!got.exists(r => r._1 == "rare"))
    assert(got.length == 3)
    // deterministic tiebreak: "the cat" vs "the dog" share a score —
    // w2 ascending resolves it
    val theRows = got.filter(_._1 == "the")
    if (theRows.length == 2)
      assert(theRows.map(_._2).toSeq == Seq("cat", "dog"))
  }

  test("topicBoundaries: hand Jaccard valleys, topic shift fires") {
    // 4 sentences, topic shift after sentence 1:
    // gap1: L={the,cat,sat,on,mat} R=9 words, ∩={the,cat} →
    //   2·10⁶ div 12 = 166666, above the 150000 floor → not a boundary
    // gap2/gap3: zero vocabulary overlap → sim 0 → boundaries
    val doc = Seq((1L,
      "the cat sat on the mat. the cat ate fish. " +
        "stock markets fell hard today. investors sold bank shares."))
      .toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis
      .topicBoundaries(doc, "doc_id", "text", w = 2,
        thresholdPpm = 150000L)
      .orderBy("gap_pos")
      .as[(Long, Long, Option[Long], Long)].collect().toSeq
    assert(got == Seq((1L, 1L, Some(166666L), 0L),
      (1L, 2L, Some(0L), 1L), (1L, 3L, Some(0L), 1L)), s"got $got")
  }

  test("topicBoundaries: single-sentence docs emit no gaps; wordless gap NULL") {
    val single = Seq((1L, "just one sentence here")).toDF("doc_id", "text")
    assert(graft.llm.TextAnalysis
      .topicBoundaries(single, "doc_id", "text").count() == 0L)
    // two sentences with no [a-z0-9] tokens at all: the gap exists on
    // the spine but carries NULL sim and no boundary call
    val punct = Seq((2L, "-- --. ;; ;;.")).toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis
      .topicBoundaries(punct, "doc_id", "text")
      .as[(Long, Long, Option[Long], Long)].collect().toSeq
    assert(got == Seq((2L, 1L, None, 0L)), s"got $got")
  }

  test("vocabGrowth: hand-traced Heaps curve, empty docs add nothing") {
    // ids 0..3, buckets=2 → w = (3−0+2) div 2 = 2, bucket = id div 2.
    // d0 "a b a" (3 toks), d1 "b c" (2), d2 "" (0), d3 "c d d" (3).
    // First occurrences: a→d0, b→d0, c→d1 (all bucket 0), d→d3 (b1).
    // b0: tokens 5, vocab 3, ttr = ⌊10⁶·3/5⌋ = 600000
    // b1: tokens 8, vocab 4, ttr = 500000
    val docs = Seq((0L, "a b a"), (1L, "b c"), (2L, ""),
      (3L, "c d d")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabGrowth(docs, "doc_id", "text",
        buckets = 2)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, 5L, 3L, 600000L), (1L, 8L, 4L, 500000L)),
      s"got $got")
    // tokenization is the pinned recipe: case-folded, [^a-z0-9]+ splits
    val mixed = Seq((0L, "The THE the"), (1L, "x-y,z 42")).toDF(
      "doc_id", "text")
    val m = TextAnalysis.vocabGrowth(mixed, "doc_id", "text",
        buckets = 1)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // 3 "the" + x,y,z,42 → 7 tokens, 5 distinct → ⌊10⁶·5/7⌋ = 714285
    assert(m == Seq((0L, 7L, 5L, 714285L)), s"got $m")
  }
}

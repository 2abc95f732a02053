package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.ops.Pins

/** WordPiece subword tokenization — the third member of the tokenizer
  * family next to [[Bpe]] (frequency-greedy merges) and [[UnigramLm]]
  * (probabilistic pruning). Two halves:
  *
  *   - TRAINING picks merges by the BERT likelihood score
  *     `count(lr) / (count(l)·count(r))` — the pair whose fusion most
  *     raises a unigram LM's corpus likelihood — instead of BPE's raw
  *     pair count. Scores are compared EXACTLY by BigInt
  *     cross-multiplication (`c₁·a₂·b₂ vs c₂·a₁·b₁` — no float
  *     division, no overflow), ties lexicographic on (l, r), so the
  *     learned sequence is a pure function of the corpus.
  *   - ENCODING is greedy longest-match-first against the final vocab
  *     (NOT merge-order replay, the operational difference from BPE):
  *     at each position take the longest vocab piece that matches —
  *     continuation pieces carry the `##` prefix — and if any position
  *     has no match the WHOLE word becomes `[UNK]` (BERT semantics).
  *
  * Scale shape (the [[Bpe]] contract): the corpus is read once into a
  * vocabulary-sized word-frequency table; every training pass runs
  * two map-side-partial aggregations over that table plus a
  * partition-local argmax (≤ p candidate rows to the driver — never a
  * sort, never a full collect); encoding runs the match kernel once
  * per DISTINCT word and documents pick encodings up by a join.
  * Training is spec-checked against an in-memory reference (iterative
  * argmax has no SQL form); ENCODING is oracle-gated — greedy longest
  * match replays in SQL as a recursive CTE.
  */
object WordPiece {

  val Unk = "[UNK]"
  val ContPrefix = "##"

  /** Initial symbol split of a word: first char plain, the rest
    * `##`-prefixed — the BERT-style representation where a piece's
    * spelling says whether it may start a word. */
  private[graft] def initialPieces(word: String): Seq[String] =
    word.headOption.map(_.toString).toSeq ++
      word.drop(1).map(c => ContPrefix + c)

  /** Word-frequency table as (syms, cnt) — the one corpus pass. */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(TextShingles.words(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
      .map { case (w, c) => (initialPieces(w), c) }
      .toDF("syms", "cnt")
  }

  /** Fuse adjacent (l, r) into the WordPiece join `l ++ r-minus-##`
    * (the merged piece keeps l's word-position marking). */
  private[graft] def join2(l: String, r: String): String =
    l + r.stripPrefix(ContPrefix)

  private[graft] def mergeOnce(syms: Seq[String], l: String,
                               r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += join2(l, r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** One merge candidate: pair (l, r) with its pair count and the two
    * symbol counts the likelihood score divides by. */
  // private[llm], not private: the Dataset encoder's generated
  // SafeProjection is a separate JVM class — a Java-private case class
  // fails Janino compilation ("Private member cannot be accessed");
  // package-qualified access compiles to public bytecode.
  private[llm] final case class Cand(l: String, r: String, c: Long,
                                cl: Long, cr: Long)

  /** score(x) > score(y) by exact cross-multiplication; ties break on
    * (l, r) lexicographically. */
  private[llm] def better(x: Cand, y: Cand): Boolean = {
    val sx = BigInt(x.c) * BigInt(y.cl) * BigInt(y.cr)
    val sy = BigInt(y.c) * BigInt(x.cl) * BigInt(x.cr)
    if (sx != sy) sx > sy
    else if (x.l != y.l) x.l < y.l
    else x.r < y.r
  }

  /** Learn up to `numMerges` likelihood-scored merges from a
    * (syms, cnt) frame. Returns the merged PIECES in rank order (the
    * vocab extension beyond the initial alphabet). Pairs rarer than
    * `minPairCount` are excluded from CANDIDACY before the argmax —
    * not used as a stop signal after it — because the likelihood score
    * count/(count_l·count_r) is maximal exactly for rare-symbol pairs
    * (1/(1·1) scores "infinitely" well): thresholding after the argmax
    * would let one noise pair halt training while good candidates
    * remain. Training stops when no candidate survives the filter. */
  def learnMerges(wordFreq: DataFrame, numMerges: Int,
                  minPairCount: Long = 2): Seq[String] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(minPairCount >= 1,
      s"minPairCount must be >= 1, got $minPairCount")
    val spark = wordFreq.sparkSession
    import spark.implicits._
    var vocab: Dataset[(Seq[String], Long)] =
      wordFreq.select(col("syms"), col("cnt")).as[(Seq[String], Long)]
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    vocab.count()
    // superseded generation's checkpoint, freed once the next one is
    // materialized (the Bpe.learnMerges lineage discipline)
    var prevGen: Option[org.apache.spark.rdd.RDD[(Seq[String], Long)]] = None
    val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
    var done = false
    while (!done && pieces.size < numMerges) {
      val pairs = vocab.flatMap { case (syms, cnt) =>
          syms.iterator.zip(syms.iterator.drop(1))
            .map { case (a, b) => ((a, b), cnt) }.toSeq
        }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map { case ((a, b), c) => (a, b, c) }.toDF("l", "r", "c")
        .filter(col("c") >= minPairCount)
      val symc = vocab.flatMap { case (syms, cnt) =>
          syms.iterator.map((_, cnt)).toSeq
        }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map { case (s, c) => (s, c) }.toDF("s", "sc")
      // symbol-count table is alphabet+merges-bounded — broadcast twice
      val cands = pairs
        .join(broadcast(symc).withColumnRenamed("s", "__ls")
          .withColumnRenamed("sc", "cl"), col("l") === col("__ls"))
        .join(broadcast(symc).withColumnRenamed("s", "__rs")
          .withColumnRenamed("sc", "cr"), col("r") === col("__rs"))
        .select(col("l"), col("r"), col("c"), col("cl"), col("cr"))
        .as[Cand]
      // partition-local argmax → ≤ p winners to the driver
      val bestOpt = cands.rdd
        .mapPartitions(it => it.reduceOption((a, b) =>
          if (better(a, b)) a else b).iterator)
        .collect()
        .reduceOption((a, b) => if (better(a, b)) a else b)
      bestOpt match {
        case None => done = true
        case Some(best) =>
          pieces += join2(best.l, best.r)
          val gen = vocab.map { case (syms, cnt) =>
              (mergeOnce(syms, best.l, best.r), cnt)
            }.rdd
          Pins.cutCount(gen)
          vocab.unpersist(false)
          prevGen.foreach(Pins.free)
          prevGen = Some(gen)
          vocab = spark.createDataset(gen)
      }
    }
    vocab.unpersist(false)
    prevGen.foreach(Pins.free)
    pieces.toSeq
  }

  /** [[wordFrequencies]] + [[learnMerges]] + alphabet: the full encode
    * vocab (every initial piece seen in the corpus, plus the learned
    * merges). */
  def learnVocab(docs: DataFrame, textCol: String, numMerges: Int,
                 minPairCount: Long = 2): Seq[String] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wf = wordFrequencies(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val alphabet = wf.select(explode(col("syms")).as("s")).distinct()
      .as[String].collect().sorted.toSeq
    val merged = learnMerges(wf, numMerges, minPairCount)
    wf.unpersist(false)
    alphabet ++ merged
  }

  /** Greedy longest-match-first encode of one word — the executor
    * kernel. Any unmatchable position collapses the whole word to
    * `[UNK]`. */
  def encodeWord(word: String, vocab: Set[String]): Seq[String] = {
    if (word.isEmpty) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = 0
    while (pos < word.length) {
      var end = word.length
      var found: String = null
      while (found == null && end > pos) {
        val cand =
          if (pos == 0) word.substring(pos, end)
          else ContPrefix + word.substring(pos, end)
        if (vocab(cand) && (pos > 0 || !cand.startsWith(ContPrefix)))
          found = cand
        else end -= 1
      }
      if (found == null) return Seq(Unk)
      out += found
      pos = end
    }
    out.toSeq
  }

  /** Tokenize the corpus: (doc_id, tokens space-joined, n_subwords) —
    * match kernel once per DISTINCT word, documents re-assemble by a
    * join + in-doc array_sort (bounded by one doc, never a window).
    * String surface like the vocab-id gates: arrays render differently
    * across the driver's two read paths, a string cannot. */
  def encodeDocs(docs: DataFrame, idCol: String, textCol: String,
                 vocab: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vset = vocab.toSet
    val words = docs.select(col(idCol).as("doc_id"),
        posexplode(TextShingles.words(col(textCol))).as(Seq("pos", "w")))
      .where(length(col("w")) > 0)
    val dict = words.select(col("w")).distinct().as[String]
      .map(w => (w, encodeWord(w, vset)))
      .toDF("word", "tokens")
    words.join(dict, col("w") === col("word"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("tokens"))))
        .as("ps"))
      .select(col("doc_id"),
        array_join(flatten(col("ps.tokens")), " ").as("toks"),
        size(flatten(col("ps.tokens"))).as("n_subwords"))
  }
}

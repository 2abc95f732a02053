package graft

import graft.llm.Bpe
import org.apache.spark.sql.functions._

/** BPE merge learning vs an independent in-memory reference — the
  * oracle-substitute for an operator whose per-round argmax feeds the
  * next round's transform (not single-statement-SQL expressible).
  */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  /** Straight-line reference implementation on plain Scala maps. */
  private def referenceMerges(wordCounts: Map[String, Long], numMerges: Int,
                              minPairCount: Long): Seq[(String, String)] = {
    var vocab: Map[Seq[String], Long] = wordCounts.map { case (w, c) =>
      (w.split("").toSeq :+ Bpe.EndOfWord) -> c
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.size < numMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.zip(syms.tail).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + c }
      }
      val best = counts.toSeq
        .sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some((p, c)) if c >= minPairCount =>
          merges += p
          vocab = vocab.groupMapReduce {
            case (syms, _) => Bpe.mergeOnce(syms, p._1, p._2)
          } { case (_, c) => c }(_ + _)
        case _ => done = true
      }
    }
    merges.toSeq
  }

  test("classic fixture: merge sequence matches the hand-derivable order") {
    // the BPE paper's example vocabulary; es/est ties break
    // lexicographically, then word-boundary and stem merges follow
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val docs = words.toSeq.flatMap { case (w, c) =>
      Seq.fill(c.toInt)(w) }.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val got = Bpe.learn(docs, "text", numMerges = 6)
    val ref = referenceMerges(words, 6, 2)
    assert(got == ref)
    assert(got.take(2) == Seq(("e", "s"), ("es", "t")),
      s"es then est must merge first (9 occurrences each, lex tie-break): $got")
    // encoding through the learned merges segments a training word
    assert(Bpe.encodeWord("newest", got).mkString(" ").contains("est"))
  }

  test("distributed learner == reference on a randomized corpus; partition-independent") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcd"
    val words = (0 until 40).map { _ =>
      (0 until (2 + rnd.nextInt(5))).map(_ => alphabet(rnd.nextInt(4))).mkString
    }
    val counts = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val ref = referenceMerges(counts, 10, 2)
    val got = Bpe.learn(docs, "text", numMerges = 10)
    assert(got == ref, s"engine $got vs reference $ref")
    val got2 = Bpe.learn(docs.repartition(9), "text", numMerges = 10)
    assert(got2 == got, "merge sequence must not depend on partitioning")
  }

  test("learning stops when no pair reaches minPairCount; encode covers every word") {
    val docs = Seq((1L, "ab cd ef")).toDF("doc_id", "text")
    // every adjacent pair occurs once -> below the default floor of 2
    assert(Bpe.learn(docs, "text", numMerges = 5).isEmpty)
    val merges = Bpe.learn(
      Seq((1L, "ab ab ab cd")).toDF("doc_id", "text"), "text", numMerges = 3)
    val enc = Bpe.encodeWords(
        Seq((1L, "ab ab ab cd")).toDF("doc_id", "text"), "text", merges)
      .as[(String, Seq[String])].collect().toMap
    assert(enc.keySet == Set("ab", "cd"))
    assert(enc("ab") == Seq("ab" + Bpe.EndOfWord) || enc("ab").nonEmpty)
    // round trip: concatenated tokens minus the sentinel rebuild the word
    enc.foreach { case (w, toks) =>
      assert(toks.mkString.stripSuffix(Bpe.EndOfWord) == w)
    }
  }

  test("encodeDocs tokenizes the corpus in word order; empty docs get empty arrays") {
    val docs = Seq(
      (1L, "low lower lowest"),
      (2L, "lowest low"),
      (3L, "")).toDF("doc_id", "text")
    val merges = Bpe.learn(docs, "text", numMerges = 6, minPairCount = 2)
    assert(merges.nonEmpty)
    val got = Bpe.encodeDocs(docs, "doc_id", "text", merges)
      .as[(Long, Seq[String], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // the distributed doc encode must equal the driver-side reference:
    // encodeWord over each doc's words, concatenated in order
    for ((id, text) <- Seq(1L -> "low lower lowest", 2L -> "lowest low")) {
      val ref = text.split(" ").toSeq.flatMap(w => Bpe.encodeWord(w, merges))
      assert(got(id)._1 == ref, s"doc $id: ${got(id)._1} vs $ref")
      assert(got(id)._2 == ref.length.toLong)
    }
    assert(got(3L) == ((Seq.empty[String], 0L)), "empty doc -> empty tokens")
    // subword round trip: tokens rebuild the original text
    val rebuilt = got(1L)._1.mkString.replace(Bpe.EndOfWord, " ").trim
    assert(rebuilt == "low lower lowest")
    // no Window node in the encode plan
    val plan = Bpe.encodeDocs(docs, "doc_id", "text", merges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "doc encode must not plan a Window")
  }

  test("batched candidate evaluation: identical merge sequence, fewer Spark jobs") {
    // the round-trip cut behind the batchSize default: same learned
    // sequence as merge-at-a-time, measurably fewer driver round trips
    // (each pass = one count job + one apply job for up to batchSize
    // merges). Counted on the engine's own job listener.
    //
    // Corpus shape matters: chain-heavy corpora (one dominant word whose
    // merges feed each other) are INHERENTLY sequential — created pairs
    // tie with their parent and win the next argmax — so batching
    // correctly degrades to one merge per pass there. The shape that
    // batches well is the natural-text one: frequent bigrams embedded in
    // DIVERSE contexts (every precursor pair is context-diluted), with
    // decaying frequencies. Build exactly that: 30 symbol-disjoint target
    // bigrams with strictly decaying counts, each occurrence wrapped in
    // random neighbors from a 62-char alphabet.
    val rnd = new scala.util.Random(13)
    val chars = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).map(_.toString)
    val words = (0 until 30).flatMap { i =>
      val (l, r) = (chars(2 * i), chars(2 * i + 1))
      Seq.fill(300 - 9 * i)(
        chars(rnd.nextInt(62)) + l + r + chars(rnd.nextInt(62)))
    }
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val wf = Bpe.wordFrequencies(docs, "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    wf.count()
    def countJobs(body: => Seq[(String, String)]): (Seq[(String, String)], Int) = {
      val (r, jobs) = JobProbe.jobs(spark)(body)
      (r, jobs.size)
    }
    val (seq1, jobs1) = countJobs(Bpe.learnMerges(wf, 20, batchSize = 1))
    val (seqN, jobsN) = countJobs(Bpe.learnMerges(wf, 20, batchSize = 16))
    wf.unpersist(false)
    assert(seqN == seq1, s"batched $seqN must equal sequential $seq1")
    assert(seq1.size >= 10, s"corpus too trivial to exercise batching: $seq1")
    assert(jobsN < jobs1 / 2,
      s"batching must cut driver round trips: $jobsN vs $jobs1 jobs")
  }
}

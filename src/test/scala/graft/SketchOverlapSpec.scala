package graft

import graft.llm.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Sign-bit embedding sketches (q72) and winnowing-overlap pairs (q71). */
class SketchOverlapSpec extends SparkTestBase {
  import spark.implicits._

  test("signSketch packs sign bits 32 per word, little-endian within the word") {
    val v = Array.fill(64)(-1.0f)
    v(0) = 1f; v(5) = 2f; v(33) = 0.5f
    val df = Seq((1L, v.toSeq)).toDF("id", "vec")
    val sk = df.select(Similarity.signSketch(col("vec"), 64).as("s"))
      .as[Seq[Long]].head()
    assert(sk == Seq((1L << 0) | (1L << 5), 1L << 1))
  }

  test("sketch words stay in [0, 2^32) even with the top dim set") {
    val v = Array.fill(64)(1.0f) // all bits set -> each word = 2^32 - 1
    val sk = Seq((1L, v.toSeq)).toDF("id", "vec")
      .select(Similarity.signSketch(col("vec"), 64).as("s"))
      .as[Seq[Long]].head()
    assert(sk == Seq((1L << 32) - 1, (1L << 32) - 1))
  }

  test("hamming distance: zero to self, dim to negation, matches popcount reference") {
    def mk(seed: Long) = Array.tabulate(64)(i =>
      (((seed * 6364136223846793005L + i * 1442695040888963407L) >>> 33) % 7).toFloat - 3f)
    val vecs = (0L until 50L).map(s => (s, mk(s).toSeq))
    val df = vecs.toDF("vec_id", "embedding")
    // reference: sign bits + popcount in plain Scala
    def bits(v: Seq[Float]): Seq[Long] =
      (0 until 64 by 32).map(f => (0 until 32).map(i =>
        if (v(f + i) > 0) 1L << i else 0L).sum)
    def ham(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val ref = vecs.map { case (id, v) => id -> bits(v) }.toMap
    val got = Similarity.hammingTopK(
        df.where($"vec_id" < 3), df, "vec_id", "embedding", dim = 64, k = 5)
      .select("query_id", "cand_id", "hamming")
      .as[(Long, Long, Int)].collect()
    assert(got.nonEmpty)
    got.foreach { case (q, c, h) =>
      assert(h == ham(ref(q), ref(c)), s"pair ($q,$c)")
    }
    // self-distance sanity on the raw distance column
    val self = df.limit(1).select(
      Similarity.hammingDistance(
        Similarity.signSketch($"embedding", 64),
        Similarity.signSketch($"embedding", 64)).as("h"))
      .as[Int].head()
    assert(self == 0)
  }

  test("native hamming kernel agrees with the lambda reference form") {
    val vecs = (0L until 40L).map { s =>
      (s, Array.tabulate(64)(i => ((s * 31 + i * 7) % 5).toFloat - 2f).toSeq)
    }
    val sk = vecs.toDF("vec_id", "embedding")
      .select($"vec_id", Similarity.signSketch($"embedding", 64).as("s"))
    val joined = sk.as("a").join(sk.as("b"), $"a.vec_id" < $"b.vec_id")
    val diff = joined.select(
        Similarity.hammingDistance($"a.s", $"b.s").as("native"),
        KernelReferences.hammingDistance($"a.s", $"b.s").as("ref"))
      .where($"native" =!= $"ref").count()
    assert(diff == 0)
  }

  private def fill(seed: Int, n: Int): String =
    (0 until n).map(i => s"f${seed}x$i").mkString(" ")

  test("winnowing overlap finds a planted shared run and skips unrelated docs") {
    val shared = (0 until 12).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, fill(1, 20) + " " + shared + " " + fill(11, 20)),
      (2L, fill(2, 25) + " " + shared + " " + fill(22, 15)),
      (3L, fill(3, 40))).toDF("doc_id", "text")
    val pairs = Dedup.winnowingOverlapPairs(docs, "doc_id", "text",
        minShared = 1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)),
      "only the pair sharing the 12-token run may surface")
  }

  test("decontamination flags exactly the test docs sharing a planted n-gram run") {
    val leak = (0 until 6).map(i => s"leak$i").mkString(" ")
    val train = Seq(
      (10L, fill(1, 20) + " " + leak),
      (11L, fill(2, 30))).toDF("doc_id", "text")
    val test = Seq(
      (20L, leak + " " + fill(3, 20)),   // contaminated
      (21L, fill(4, 25))).toDF("doc_id", "text")
    val hits = Dedup.crossCorpusContamination(train, test,
        "doc_id", "text", ngram = 5, minShared = 1)
      .select("test_id", "train_id", "n_shared")
      .as[(Long, Long, Long)].collect()
    assert(hits.map(h => (h._1, h._2)).toSet == Set((20L, 10L)))
    // a 6-token run holds exactly two 5-grams
    assert(hits.head._3 == 2L)
  }

  test("decontamination train-side maxDf cap drops boilerplate grams from both sides") {
    val boiler = (0 until 6).map(i => s"bp$i").mkString(" ")
    val train = (1L to 8L).map(id => (id, boiler + " " + fill(id.toInt, 20)))
      .toDF("doc_id", "text")
    val test = Seq((100L, boiler + " " + fill(99, 20))).toDF("doc_id", "text")
    val uncapped = Dedup.crossCorpusContamination(train, test, "doc_id", "text",
      ngram = 5, minShared = 1)
    assert(uncapped.count() == 8, "boilerplate links the test doc to every train doc")
    val capped = Dedup.crossCorpusContamination(train, test, "doc_id", "text",
      ngram = 5, minShared = 1, maxDf = 4)
    assert(capped.count() == 0)
  }

  test("centroid update stats: exact counts, sums match a double reference, partition-independent") {
    val vecs = (0L until 60L).map { s =>
      (s, (s % 3).toInt, Array.tabulate(8)(i => ((s * 13 + i * 5) % 11).toFloat / 7f - 0.6f).toSeq)
    }
    val df = vecs.toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidUpdateStats(df, "label", "embedding")
      .as[(Int, Int, Double, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got.size == 3 * 8)
    // reference: plain double sums (decimal path must agree to ~1e-6)
    val ref = vecs.groupBy(_._2).flatMap { case (lbl, vs) =>
      (0 until 8).map(p => (lbl, p) ->
        (vs.map(_._3(p).toDouble).sum, vs.size.toLong))
    }
    ref.foreach { case (k, (s, n)) =>
      assert(got(k)._2 == n, s"count at $k")
      assert(math.abs(got(k)._1 - s) < 1e-6, s"sum at $k: ${got(k)._1} vs $s")
    }
    val re = Similarity.centroidUpdateStats(df.repartition(7), "label", "embedding")
      .as[(Int, Int, Double, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(re == got)
  }

  test("contamination report aggregates per test doc") {
    val leak = (0 until 6).map(i => s"lk$i").mkString(" ")
    val train = Seq((1L, leak + " " + fill(1, 10)),
                    (2L, leak + " " + fill(2, 10))).toDF("doc_id", "text")
    val test = Seq((9L, leak + " " + fill(9, 10))).toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(
        Dedup.crossCorpusContamination(train, test, "doc_id", "text",
          ngram = 5, minShared = 1))
      .as[(Long, Long, Long, Long)].collect()
    // test doc 9 leaks against both train docs, 2 shared grams each
    assert(rep.toSeq == Seq((9L, 2L, 2L, 4L)))
  }

  test("md5 plane components: driver-side digest == the md5Hash60 expression parity") {
    // the literal coefficient matrix baked into lshSignatureMd5 must
    // match what the DuckDB oracle computes from md5('lsh:p:d') — pin
    // it against the same-engine expression over a (p, d) grid
    val grid = for (p <- 0 until 6; d <- 0 until 10) yield (p, d)
    val fromExpr = grid.map { case (p, d) => s"lsh:$p:$d" }
      .toDF("s")
      .select(when(pmod(TextAnalysis.md5Hash60($"s"), lit(2)) === 0, 1.0)
        .otherwise(-1.0))
      .as[Double].collect()
    val fromDigest = grid.map { case (p, d) =>
      Similarity.md5PlaneComponent(p, d) }
    assert(fromExpr.toSeq == fromDigest,
      "literal hyperplanes diverge from the expression/oracle md5 parity")
  }

  test("md5Hash60 matches the cross-engine constant and stays in 60 bits") {
    // 864072481952782817 = int(md5('hello a b').hexdigest()[:15], 16),
    // the exact value DuckDB's ('0x' || substring(md5(g),1,15))::BIGINT
    // produces — the constant both engines must agree on for q71's
    // oracle to hash-match
    val got = Seq("hello a b").toDF("s")
      .select(TextAnalysis.md5Hash60($"s")).as[Long].head()
    assert(got == 864072481952782817L)
    val max = (0 until 200).map(i => s"probe $i string")
      .toDF("s").select(max_by(TextAnalysis.md5Hash60($"s"),
        TextAnalysis.md5Hash60($"s"))).as[Long].head()
    assert(max >= 0 && max < (1L << 60))
  }

  test("winnowing overlap with the md5 gate hash finds the same planted pair") {
    // the recall guarantee (a shared run >= window+ngram-1 tokens leaves
    // a common fingerprint) is hash-agnostic; the md5 gate variant must
    // detect exactly what the xxhash64 production path detects on the
    // planted fixture, even though the sampled fingerprint VALUES differ
    val shared = (0 until 12).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, fill(1, 20) + " " + shared + " " + fill(11, 20)),
      (2L, fill(2, 25) + " " + shared + " " + fill(22, 15)),
      (3L, fill(3, 40))).toDF("doc_id", "text")
    val md5Pairs = Dedup.winnowingOverlapPairs(docs, "doc_id", "text",
        minShared = 1, hashFn = TextAnalysis.md5Hash60)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val xxPairs = Dedup.winnowingOverlapPairs(docs, "doc_id", "text",
        minShared = 1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(md5Pairs == Set((1L, 2L)) && xxPairs == md5Pairs)
  }

  test("sequence decontamination flags a mutated leak that exact containment misses") {
    // a 13-token leak with its MIDDLE word swapped in the test copy:
    // every 12-gram crossing the edit dies, so 12-gram exact containment
    // finds nothing — but the edit splits the leak into two clean >= 6
    // token runs, each of which winnowing (ngram 3, window 4) guarantees
    // at least one shared fingerprint for
    val leak = (0 until 13).map(i => s"leak$i")
    val mutated = leak.updated(6, "EDITED")
    val train = Seq(
      (10L, fill(1, 20) + " " + leak.mkString(" ") + " " + fill(11, 10)),
      (11L, fill(2, 30))).toDF("doc_id", "text")
    val test = Seq(
      (20L, fill(3, 15) + " " + mutated.mkString(" ") + " " + fill(33, 15)),
      (21L, fill(4, 25))).toDF("doc_id", "text")
    val exact = Dedup.crossCorpusContamination(train, test, "doc_id", "text",
      ngram = 12, minShared = 1)
    assert(exact.count() == 0, "exact 12-gram containment must miss the edited leak")
    val seq = Dedup.sequenceDecontamination(train, test, "doc_id", "text",
        minShared = 2)
      .select("test_id", "train_id").as[(Long, Long)].collect().toSet
    assert(seq == Set((20L, 10L)),
      "winnowing must flag exactly the mutated leak pair")
  }

  test("contaminationReport aggregates sequence-level pairs like exact ones") {
    // the report contract (test_id, n_train_docs, max_shared,
    // total_shared) is shared across both decontamination operators —
    // sequence pairs must feed it unchanged
    val leak = (0 until 13).map(i => s"rl$i").mkString(" ")
    val train = Seq((1L, leak + " " + fill(1, 10)),
                    (2L, leak + " " + fill(2, 10))).toDF("doc_id", "text")
    val test = Seq((9L, leak + " " + fill(9, 10))).toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(
        Dedup.sequenceDecontamination(train, test, "doc_id", "text",
          minShared = 1))
      .as[(Long, Long, Long, Long)].collect()
    assert(rep.length == 1)
    val (testId, nTrain, maxShared, totalShared) = rep.head
    assert(testId == 9L && nTrain == 2L)
    assert(maxShared >= 1L && totalShared >= maxShared * 2 - 1,
      "doc 9 leaks against both train docs")
  }

  test("indexed sequence decontamination == direct, and rejects hash mismatch") {
    val leak = (0 until 13).map(i => s"ix$i")
    val mutated = leak.updated(6, "EDITED")
    val train = Seq(
      (10L, fill(1, 20) + " " + leak.mkString(" ") + " " + fill(11, 10)),
      (11L, fill(2, 30))).toDF("doc_id", "text")
    val test = Seq(
      (20L, fill(3, 15) + " " + mutated.mkString(" ") + " " + fill(33, 15)),
      (21L, fill(4, 25))).toDF("doc_id", "text")
    val direct = Dedup.sequenceDecontamination(train, test, "doc_id", "text",
        minShared = 2)
      .select("test_id", "train_id", "n_shared")
      .as[(Long, Long, Long)].collect().toSet
    val store = new graft.io.ParquetTableStore(spark, tmpDir("decontam-idx"))
    Dedup.buildDecontamIndex(store, "dc", train, "doc_id", "text")
    val indexed = Dedup.sequenceDecontaminationIndexed(store, "dc", test,
        "doc_id", "text", minShared = 2)
      .select("test_id", "train_id", "n_shared")
      .as[(Long, Long, Long)].collect().toSet
    assert(indexed == direct && direct.nonEmpty,
      "probing the persisted index must equal the direct two-corpus run")
    intercept[IllegalArgumentException] {
      Dedup.sequenceDecontaminationIndexed(store, "dc", test,
        "doc_id", "text", hashFn = TextAnalysis.md5Hash60,
        hashLabel = "md5hash60")
    }
  }

  test("sequence decontamination honors the train-side df cap") {
    val boiler = (0 until 10).map(i => s"sb$i").mkString(" ")
    val train = (1L to 8L).map(id => (id, boiler + " " + fill(id.toInt, 15)))
      .toDF("doc_id", "text")
    val test = Seq((100L, boiler + " " + fill(99, 15))).toDF("doc_id", "text")
    val uncapped = Dedup.sequenceDecontamination(train, test, "doc_id", "text",
      minShared = 1)
    assert(uncapped.count() == 8, "boilerplate links the test doc to every train doc")
    val capped = Dedup.sequenceDecontamination(train, test, "doc_id", "text",
      minShared = 1, maxDf = 4)
    assert(capped.count() == 0)
  }

  test("the DEFAULT maxDf is finite: corpus-wide boilerplate never joins f^2") {
    // 1100 identical docs — every fingerprint is shared by all 1100,
    // above the default cap of 1000, so with no maxDf argument at all
    // the hot fingerprints must drop before the self-join (uncapped
    // this fixture would emit 1100*1099/2 = 604k pair rows)
    val boiler = (0 until 12).map(i => s"bp$i").mkString(" ")
    val docs = (1L to 1100L).map(id => (id, boiler)).toDF("doc_id", "text")
    assert(Dedup.winnowingOverlapPairs(docs, "doc_id", "text",
      minShared = 1).count() == 0,
      "an argument-free call must still engage the hot-fingerprint guard")
  }

  test("maxDf stop-fingerprint cap drops corpus-wide boilerplate") {
    val boiler = (0 until 12).map(i => s"b$i").mkString(" ")
    val docs = (1L to 10L).map(id =>
      (id, boiler + " " + fill(id.toInt, 30))).toDF("doc_id", "text")
    val all = Dedup.winnowingOverlapPairs(docs, "doc_id", "text", minShared = 1)
    assert(all.count() == 45, "boilerplate links every pair without the cap")
    val capped = Dedup.winnowingOverlapPairs(docs, "doc_id", "text",
      minShared = 1, maxDf = 5)
    assert(capped.count() == 0, "df cap must drop the corpus-wide fingerprints")
  }
}

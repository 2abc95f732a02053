package graft

import graft.llm._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class LlmOpsSpec extends SparkTestBase {
  import spark.implicits._

  def docs(rows: (Long, String)*): DataFrame = rows.toSeq.toDF("doc_id", "text")

  test("exact dedup keeps one survivor per content, counts copies") {
    val df = docs((1, "aa bb"), (2, "aa bb"), (3, "cc"), (4, "aa bb"))
    val out = Dedup.exact(df, "doc_id", "text")
    val got = out.select("doc_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 3L), (3L, 1L)))
  }

  test("ngramDiversity: exact instance/distinct counts, ttr, short docs drop, hash-agnostic") {
    // en bigrams: "a b" ×3, "b a" ×1, "b c" ×1 → 5 instances, 3 distinct
    // fr: single-word doc emits nothing → group absent entirely
    val df = Seq(
      (1L, "a b a b", "en"),   // (a,b) (b,a) (a,b)
      (2L, "a b c", "en"),     // (a,b) (b,c)
      (3L, "solo", "fr"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.ngramDiversity(df, "text", 2, Seq("lang"))
      .select($"lang", $"n_grams", $"n_distinct", $"ttr".cast("double"))
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map("en" -> ((5L, 3L, 0.6))))
    // gate hash (md5Hash60) counts identically to production xxhash64
    val md5Got = TextAnalysis.ngramDiversity(df, "text", 2, Seq("lang"),
        hashFn = TextAnalysis.md5Hash60)
      .select($"lang", $"n_grams", $"n_distinct", $"ttr".cast("double"))
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(md5Got == got)
    // ungrouped variant: one corpus-wide row (fr's zero grams included)
    val all = TextAnalysis.ngramDiversity(df, "text", 2, Nil)
      .select($"n_grams", $"n_distinct").as[(Long, Long)].collect()
    assert(all.toSeq == Seq((5L, 3L)))
  }

  test("incremental exact dedup: batches probe the persisted index, novel hashes accumulate") {
    val store = new graft.io.ParquetTableStore(spark, tmpDir("dedup-idx"))
    Dedup.buildExactIndex(store, "ix",
      docs((1L, "aa bb"), (2L, "cc dd"), (3L, "aa bb")), "doc_id", "text")
    // index holds one row per distinct content with the min-id survivor
    val idx = store.read("ix.hashes").select("survivor_id")
      .as[Long].collect().toSet
    assert(idx == Set(1L, 2L))
    // batch: 10 dups corpus content, 11/13 repeat each other, 12 novel
    val batch = docs((10L, "aa bb"), (11L, "ee ff"), (12L, "gg hh"), (13L, "ee ff"))
    val novel = Dedup.dedupAgainstIndex(store, "ix", batch, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(novel == Set(11L, 12L), "corpus dup and within-batch later copy must drop")
    // admit the batch; the returned frame must survive RE-ACTIONS after
    // the index has grown under its lineage (checkpoint contract)
    val admitted = Dedup.updateExactIndex(store, "ix", batch, "doc_id", "text")
    assert(admitted.select("doc_id").as[Long].collect().toSet == Set(11L, 12L))
    assert(admitted.count() == 2, "re-action after the append must not recompute to empty")
    // a second batch repeating batch-1 content is now fully known
    val second = Dedup.dedupAgainstIndex(store, "ix",
      docs((20L, "ee ff"), (21L, "ii jj")), "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(second == Set(21L))
    assert(store.read("ix.hashes").count() == 4,
      "index = 2 seed + 2 admitted contents")
  }

  test("property: incremental dedup over random batch splits == global batch dedup") {
    // the invariant continuous ingest lives on: slicing a corpus into
    // ANY ordered batch sequence and probing/admitting each must keep
    // exactly the global min-id survivor set
    val rnd = new scala.util.Random(73)
    for (trial <- 1 to 3) {
      val contents = (1 to 8).map(c => s"content version number $c")
      val corpus = (1L to 60L).map(i =>
        (i, contents(rnd.nextInt(contents.length))))
      val globalKeep = corpus.groupBy(_._2).map(_._2.minBy(_._1)._1).toSet
      val store = new graft.io.ParquetTableStore(spark, tmpDir(s"pdx$trial"))
      // random ordered batch split (ids ascend across batches so
      // first-arrival == min-id)
      val cuts = (1 to 3).map(_ => 1 + rnd.nextInt(59)).distinct.sorted
      val batches = (Seq(0) ++ cuts ++ Seq(60)).distinct.sorted
        .sliding(2).map { case Seq(a, b) => corpus.slice(a, b) }.toSeq
      Dedup.buildExactIndex(store, "px",
        batches.head.toDF("doc_id", "text"), "doc_id", "text")
      batches.tail.foreach { b =>
        Dedup.updateExactIndex(store, "px", b.toDF("doc_id", "text"),
          "doc_id", "text")
      }
      val kept = store.read("px.hashes").select("survivor_id")
        .as[Long].collect().toSet
      assert(kept == globalKeep,
        s"trial $trial: incremental $kept != global $globalKeep")
    }
  }

  test("incremental fuzzy dedup: batches probe the persisted band index for NEAR-dups") {
    // corpus doc 1 is a 16-token run; the batch repeats it with ONE word
    // changed (high Jaccard — exact dedup would miss it)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi"
    val store = new graft.io.ParquetTableStore(spark, tmpDir("fuzzy-idx"))
    Dedup.buildFuzzyIndex(store, "fx",
      docs((1L, base), (2L, "completely different words about storage engines and query planners running here")),
      "doc_id", "text")
    assert(store.exists("fx.sigs") && store.exists("fx.bands") && store.exists("fx.meta"))
    // batch: 10 = near-dup of corpus 1; 11/13 near-dups of each other
    // (keep-first → 13 drops); 12 novel
    val batch = docs(
      (10L, base.replace("theta", "CHANGED")),
      (11L, "one two three four five six seven eight nine ten eleven twelve thirteen fourteen"),
      (12L, "entirely novel content with its own vocabulary spanning many unique tokens today"),
      (13L, "one two three four five six seven eight nine ten eleven twelve thirteen ALTERED"))
    val novel = Dedup.dedupFuzzyAgainstIndex(store, "fx", batch, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(novel == Set(11L, 12L),
      s"corpus near-dup and within-batch later copy must drop, got $novel")
    // admit; the returned frame must survive re-actions after the append
    val admitted = Dedup.updateFuzzyIndex(store, "fx", batch, "doc_id", "text")
    assert(admitted.select("doc_id").as[Long].collect().toSet == Set(11L, 12L))
    assert(admitted.count() == 2,
      "re-action after the append must not recompute against the grown index")
    // a second batch near-duplicating batch-1 admitted content is now known
    val second = Dedup.dedupFuzzyAgainstIndex(store, "fx",
      docs((20L, "one two three four five six seven eight nine ten eleven twelve REVISED fourteen"),
           (21L, "fresh material unrelated to anything indexed so far with distinct terms")),
      "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(second == Set(21L), s"near-dup of admitted doc 11 must drop, got $second")
    assert(store.read("fx.sigs").count() == 4, "sigs = 2 seed + 2 admitted")
  }

  test("paragraph dedup: keep-first vs drop-all, minLen exemption, ordered reassembly") {
    // boilerplate "HEADER TEXT HERE" repeats across docs 1/2/3; "ok" is a
    // short connective under minLen; doc 3 is all boilerplate
    val df = docs(
      (1L, "HEADER TEXT HERE\n\nunique alpha content\n\nok"),
      (2L, "second unique body\n\nHEADER TEXT HERE\n\nok"),
      (3L, "HEADER TEXT HERE"))
    val paras = Dedup.splitParagraphs(df, "doc_id", "text")
    assert(paras.count() == 7)
    // keep-first: the (1, 0) instance of the header survives, later ones
    // drop; "ok" (< minLen chars) is exempt in BOTH docs
    val first = Dedup.dedupParagraphInstances(paras, keepFirst = true, minLen = 3)
      .select("doc_id", "pos", "para").as[(Long, Long, String)].collect().toSet
    assert(first == Set(
      (1L, 0L, "HEADER TEXT HERE"), (1L, 1L, "unique alpha content"),
      (1L, 2L, "ok"), (2L, 0L, "second unique body"), (2L, 2L, "ok")))
    // drop-all: every header instance goes, including doc 1's
    val strict = Dedup.dedupParagraphInstances(paras, keepFirst = false, minLen = 3)
      .select("doc_id", "para").as[(Long, String)].collect().toSet
    assert(!strict.exists(_._2 == "HEADER TEXT HERE"))
    assert(strict.map(_._2).intersect(Set("unique alpha content", "second unique body")).size == 2)
    // reassembly joins surviving paragraphs in pos order; doc 3 lost
    // everything and is absent (the gate left-joins it back as "")
    val rebuilt = Dedup.reassembleParagraphs(
        Dedup.dedupParagraphInstances(paras, keepFirst = true, minLen = 3))
      .as[(Long, String)].collect().toMap
    assert(rebuilt(1L) == "HEADER TEXT HERE\n\nunique alpha content\n\nok")
    assert(rebuilt(2L) == "second unique body\n\nok")
    assert(!rebuilt.contains(3L))
    // the dedup plan is groupBy-only: no Window node
    val plan = Dedup.dedupParagraphInstances(paras, keepFirst = true, minLen = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "paragraph dedup must not plan a Window")
  }

  test("repeated-span scrub removes shared runs at any alignment; unique text survives") {
    val boiler = (1 to 10).map(i => s"B$i").mkString(" ")   // the shared run
    val df = docs(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"$boiler epsilon zeta eta theta"),              // different alignment
      (3L, "iota kappa lambda mu nu xi omicron pi rho sigma tau"),
      (4L, boiler))                                         // nothing but the run
    // flagged starts: doc 1 at pos 2, doc 2 at pos 0, doc 4 at pos 0
    val starts = Dedup.repeatedSpanStarts(df, "doc_id", "text", n = 10)
      .as[(Long, Long)].collect().toSet
    assert(starts == Set((1L, 2L), (2L, 0L), (4L, 0L)))
    val out = Dedup.scrubRepeatedSpans(df, "doc_id", "text", n = 10)
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == (("alpha beta gamma delta", 10L)))
    assert(out(2L) == (("epsilon zeta eta theta", 10L)))
    assert(out(3L)._2 == 0L && out(3L)._1.startsWith("iota"),
      "unique doc untouched")
    assert(out(4L) == (("", 10L)), "fully-boilerplate doc scrubs to empty")
    // overlapping flagged windows must not double-count removals: two
    // docs sharing an 11-token run flag two overlapping 10-windows whose
    // union is 11 tokens
    val run11 = (1 to 11).map(i => s"C$i").mkString(" ")
    val df2 = docs((1L, s"$run11 tail1 tail2"), (2L, s"pre1 $run11"))
    val out2 = Dedup.scrubRepeatedSpans(df2, "doc_id", "text", n = 10)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(out2 == Map(1L -> 11L, 2L -> 11L))
    // shape: no Window node anywhere in the scrub plan
    val plan = Dedup.scrubRepeatedSpans(df, "doc_id", "text", n = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "span scrub must not plan a Window")
    // production hashed-gram mode == exact-string gate mode (collisions
    // aside, which 2^-64 makes unobservable here), and the hashed plan
    // must not carry gram strings into the count exchange
    val hashed = Dedup.scrubRepeatedSpans(df, "doc_id", "text", n = 10,
        hashGrams = true)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val exact = Dedup.scrubRepeatedSpans(df, "doc_id", "text", n = 10,
        hashGrams = false)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(hashed == exact, "hashed and exact gram modes must agree")
    val hplan = Dedup.repeatedSpanStarts(df, "doc_id", "text", n = 10)
      .queryExecution.executedPlan.toString
    assert(hplan.contains("xxhash64"), "production mode must key on the hash")
  }

  test("minhash signature similarity tracks jaccard; near-dups found, distinct docs not") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    val far  = "completely different words nothing shared at all whatsoever zero overlap here now"
    val df = docs((1, base), (2, near), (3, far))
    val pairs = Dedup.minHashCandidates(df, "doc_id", "text",
      k = 32, bands = 16, ngram = 2, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: near-identical docs within hamming 3, unrelated docs far apart") {
    // long docs so per-bit votes are far from the sign boundary: one
    // changed token among 400 flips only the few bits whose vote ≈ 0
    val base = (1 to 400).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok400", "tok401")        // one token changed
    val far  = (1000 to 1400).map(i => s"other$i").mkString(" ")
    val df = docs((1, base), (2, near), (3, far))
    val sh = df.select(Dedup.simHash(TextShingles.words($"text")).as("sh"))
      .as[Long].collect()
    assert(java.lang.Long.bitCount(sh(0) ^ sh(1)) <= 3)
    assert(java.lang.Long.bitCount(sh(0) ^ sh(2)) > 10)
    val pairs = Dedup.simHashPairs(df, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("jaccardVerify keeps exactly the candidate pairs clearing the exact threshold") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = base.split(" ").drop(1).mkString(" ")   // drop first word
    val mid  = (1 to 20).map(i => s"w$i").mkString(" ") + " " +
               (100 to 119).map(i => s"x$i").mkString(" ")
    val df = docs((1, base), (2, near), (3, mid))
    val cands = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.jaccardVerify(cands, df, "doc_id", "text", minJaccard = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))   // (1,3)/(2,3) share only half the grams
    // and the surfaced jaccard is an exact ratio: 38 shared / 39 union
    val j = Dedup.jaccardVerify(cands, df, "doc_id", "text", 0.8)
      .select("jaccard").as[Double].head()
    assert(math.abs(j - BigDecimal(38) ./(BigDecimal(39)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("multisetVerify keeps reordered copies, drops near-but-unequal multisets") {
    val a = "alpha beta gamma delta alpha"
    val b = "alpha alpha delta gamma beta"        // same multiset, reordered
    val c = "alpha beta gamma delta delta"        // different multiset
    val df = docs((1, a), (2, b), (3, c))
    val cands = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
      .withColumn("hamming", lit(0))
    val got = Dedup.multisetVerify(cands, df, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("simhash of a word-reversed doc is identical (bag-of-tokens invariance)") {
    val base = (1 to 100).map(i => s"tok${i % 37}").mkString(" ")
    val rev  = base.split(" ").reverse.mkString(" ")
    val sh = docs((1, base), (2, rev))
      .select(Dedup.simHash(TextShingles.words($"text")).as("sh"))
      .as[Long].collect()
    assert(sh(0) == sh(1))
  }

  test("ngramJaccardPairs maxDf drops boilerplate grams from sizes AND join") {
    // 6 docs share a boilerplate prefix; two of them are true near-dups
    val boiler = "copyright all rights reserved please read carefully"
    val df = docs(
      (1, s"$boiler unique one text body alpha beta gamma delta"),
      (2, s"$boiler unique one text body alpha beta gamma epsilon"),
      (3, s"$boiler totally different payload here nothing shared"),
      (4, s"$boiler another separate body of words entirely distinct"),
      (5, s"$boiler yet more unrelated content goes right here now"),
      (6, s"$boiler final filler document with its own words too"))
    // uncapped: the shared boilerplate inflates jaccard of EVERY pair
    val uncapped = Dedup.ngramJaccardPairs(df, "doc_id", "text", minJaccard = 0.2)
      .count()
    // capped at df<=2: boilerplate grams (df=6) vanish; only the true
    // near-dup pair (1,2) clears the threshold
    val capped = Dedup.ngramJaccardPairs(df, "doc_id", "text",
        minJaccard = 0.2, maxDf = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped > 1)
    assert(capped == Set((1L, 2L)))
  }

  test("ngramJaccardPairsPrefix: lossless vs the uncapped full-index join") {
    // real fixture slice + planted near-dups (first word dropped) — the
    // completeness claim must hold on messy text, not a toy alphabet
    val base = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .filter($"doc_id" < 120).select($"doc_id", $"text")
    val corpus = base.unionByName(base.select(($"doc_id" + 1000000L).as("doc_id"),
      regexp_replace($"text", "^\\S+\\s*", "").as("text")))
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val full = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", minJaccard = t)
        .select("doc_a", "doc_b", "n_shared").as[(Long, Long, Long)]
        .collect().toSet
      val pref = Dedup.ngramJaccardPairsPrefix(corpus, "doc_id", "text", minJaccard = t)
        .select("doc_a", "doc_b", "n_shared").as[(Long, Long, Long)]
        .collect().toSet
      assert(pref == full, s"prefix filter lost/invented pairs at t=$t")
      assert(full.nonEmpty, s"fixture must plant recallable pairs at t=$t")
    }
    // the point of the filter: the posting list the join runs on is a
    // strict fraction (~1−t) of the full inverted index
    val grams = corpus.select($"doc_id",
      explode(graft.llm.TextShingles.wordNgrams($"text", 2)).as("gram")).distinct()
    val fullPostings = grams.count()
    // reproduce the operator's internal prefix size at t=0.8
    val dfc = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    val pref08 = grams.join(dfc, Seq("gram"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
          .orderBy($"df".asc, $"gram".asc)))
      .join(grams.groupBy("doc_id").agg(count(lit(1)).as("n")), Seq("doc_id"))
      .filter($"rk" <= $"n" - expr("(800 * n + 999) div 1000") + 1)
      .count()
    assert(pref08 * 3 < fullPostings,
      s"prefix index $pref08 should be well under a third of $fullPostings")
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairsPrefix(corpus, "doc_id", "text", minJaccard = 1.0)
    }
    // sub-per-mille thresholds are rejected, not clamped: clamping
    // 1e-4 up to 1‰ would shorten prefixes below the pigeonhole bound
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairsPrefix(corpus, "doc_id", "text", minJaccard = 1e-4)
    }
  }

  test("pair-mode LSH matches the windowed top-k path and plans no Window") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .limit(120).select($"vec_id", $"embedding")
    val planted = emb.unionByName(emb.select(($"vec_id" + 1000000L).as("vec_id"),
      transform($"embedding", x => x * lit(1.001f)).as("embedding")))
    val pairMode = Dedup.embeddingNearDup(planted, "vec_id", "embedding",
      minCosine = 0.999, deterministic = true)
    // no top-k window in the pair-mode plan (the bucket-size skew guard
    // is a bucket-PARTITIONED window — scale-safe; the round-1 defect
    // was the per-query row_number sort)
    val plan = pairMode.queryExecution.executedPlan.toString
    assert(!plan.contains("row_number"),
      "pair-mode LSH must not plan a top-k row_number window")
    val got = pairMode.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // old path (windowed top-k with unbounded k) for comparison
    val old = Similarity.lshBucketTopK(planted, planted, "vec_id", "embedding",
        k = Int.MaxValue, deterministic = true)
      .filter($"cosine" >= 0.999).filter($"query_id" < $"cand_id")
      .select($"query_id", $"cand_id").as[(Long, Long)].collect().toSet
    assert(got == old)
    assert(got.size >= 100)   // planted pairs recovered
  }

  test("corpus-aware LSH sizing keeps bucket occupancy bounded on a 1e5-vector corpus") {
    // the width formula itself
    assert(Similarity.suggestLshBits(1000, bands = 4) == 16)     // 4-bit floor
    assert(Similarity.suggestLshBits(100000, bands = 4) == 44)   // 11-bit bands
    // widths are no longer capped by one long (bandKeysOf switches to
    // the multi-long kernel past 63 total bits) — only the per-corpus
    // occupancy target and the 30-bit width cap apply
    assert(Similarity.suggestLshBits(10000000L, bands = 4) == 72)  // 18-bit bands
    assert(Similarity.suggestLshBits(10000000L, bands = 8) == 144)
    for (b <- 1 to 63)   // 30-bit cap per band for ANY corpus size
      assert(Similarity.suggestLshBits(Long.MaxValue, bands = b) == 30 * b)
    // 1e5 deterministic pseudo-random 16-dim vectors (hash-derived
    // components) — the banding under the derived width must spread the
    // corpus instead of the old fixed 16/4's 16-buckets-per-band blowup
    val dims = 16
    val vecs = spark.range(100000).select($"id",
      array((0 until dims).map(d =>
        (pmod(xxhash64($"id", lit(d)), lit(2000)).cast("double") / 1000.0 - 1.0)): _*)
        .as("v"))
    val bits = Similarity.suggestLshBits(100000, bands = 4)
    val buckets = vecs.select(
        explode(Similarity.bandKeys(
          Similarity.lshSignature($"v", bits), bits, 4)).as("b"))
      .groupBy($"b").count()
    val (nBuckets, maxBucket) = buckets
      .agg(count(lit(1)), max($"count")).as[(Long, Long)].head()
    // 2^11 = 2048 buckets/band × 4 bands; expected occupancy ≈ 49
    assert(nBuckets > 2000, s"only $nBuckets distinct buckets")
    assert(maxBucket < 2000,
      s"hot bucket of $maxBucket rows — sizing failed to spread the corpus")
  }

  test("langId picks the language whose markers dominate (incl. CJK without \\b)") {
    val got = Seq(
      "the cat and the dog of the house is in that corner it seems",
      "der hund und die katze das ist nicht ein problem zu haben",
      "le chat et la maison est une belle chose que dans paris",
      "el perro y los gatos es una cosa que por la casa con amigos",
      "我的书是他的不是我们的",         // pure CJK: \b can never match here
      "mmmh zz qq xx"
    ).toDF("text").select(TextAnalysis.langId($"text")).as[String].collect().toSeq
    assert(got == Seq("en", "de", "fr", "es", "zh", "und"))
  }

  test("connected components works with string ids (no numeric cast)") {
    val pairs = Seq(("doc-a", "doc-b"), ("doc-b", "doc-c"))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    assert(comp == Map("doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a"))
  }

  test("driver union-find and distributed propagation agree") {
    val rnd = new scala.util.Random(5)
    val pairs = (1 to 200).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, driverThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
  }

  test("ngramContainmentPairs: directional, catches sub-documents Jaccard misses") {
    val long = (1 to 50).map(i => s"w$i").mkString(" ")
    val short = (10 to 19).map(i => s"w$i").mkString(" ")  // inside long
    val other = (100 to 120).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, long), (2L, short), (3L, other))
      .toDF("doc_id", "text")
    val got = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
        minContainPerMille = 900, ngram = 2)
      .select($"doc_a", $"doc_b", $"n_shared", $"grams_a")
      .as[(Long, Long, Long, Long)].collect()
    // short (9 bigrams, all in long) flags against long — one direction only
    assert(got.toSeq == Seq((2L, 1L, 9L, 9L)))
    // symmetric Jaccard on the same pair is far below any near-dup bar
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        minJaccard = 0.0, ngram = 2)
      .where($"doc_a" === 1L && $"doc_b" === 2L)
      .select($"jaccard".cast("double")).as[Double].head()
    assert(jac < 0.2, s"jaccard $jac should be low where containment is 1.0")
    // the df cap silently drops ubiquitous grams from the index
    val spam = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "a b d"), (4L, "a b e"))
      .toDF("doc_id", "text")
    val capped = Dedup.ngramContainmentPairs(spam, "doc_id", "text",
      minContainPerMille = 500, ngram = 2, maxDf = 2)
    assert(capped.count() == 0, "the hot gram must not drive pairs")
  }

  test("corpusDiff classifies added/removed/changed/unchanged, null-safely") {
    val old = Seq(
      (1L, "same"), (2L, "gone"), (3L, "before"), (4L, null: String))
      .toDF("doc_id", "text")
    val neu = Seq(
      (1L, "same"), (3L, "after"), (4L, null: String), (5L, "fresh"))
      .toDF("doc_id", "text")
    val got = Dedup.corpusDiff(old, neu, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "unchanged", 2L -> "removed", 3L -> "changed",
      4L -> "unchanged",   // null text in both: null-safe equality
      5L -> "added"))
  }

  test("leakageSafeSplits: whole clusters land on one split side") {
    // 30 docs; clusters {1,2,3}, {10,11}; rest singletons
    val docs = (1L to 30L).toList.toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.leakageSafeSplits(docs, pairs, "doc_id",
        Seq("train" -> 500, "val" -> 250, "test" -> 250))
      .select($"doc_id", $"rep".cast("long"), $"split")
      .as[(Long, Long, String)].collect()
    assert(got.length == 30)
    val byId = got.map(r => r._1 -> r).toMap
    // reps: cluster members share the min-id label, singletons self-rep
    assert(Seq(1L, 2L, 3L).forall(byId(_)._2 == 1L))
    assert(Seq(10L, 11L).forall(byId(_)._2 == 10L))
    assert(byId(7L)._2 == 7L)
    // the point: cluster members share the SPLIT, and it equals the
    // rep's own singleton assignment under the same weights
    assert(Seq(1L, 2L, 3L).map(byId(_)._3).distinct.size == 1)
    assert(Seq(10L, 11L).map(byId(_)._3).distinct.size == 1)
    val repSplit = graft.ops.Sampling.assignSplits(
        Seq(1L).toDF("doc_id"), graft.ops.Sampling.lcgKey($"doc_id"),
        Seq("train" -> 500, "val" -> 250, "test" -> 250))
      .select($"split").as[String].head()
    assert(byId(2L)._3 == repSplit)
    // output-column guard
    intercept[IllegalArgumentException] {
      Dedup.leakageSafeSplits(docs.withColumn("rep", lit(1L)), pairs,
        "doc_id", Seq("train" -> 1000))
    }
  }

  test("quality signals + keep decision") {
    val good = "the quick brown fox jumps over the lazy dog and runs to the house in town"
    val bad  = "!!! ??? ,,, ..."
    val out = Seq(good, bad).toDF("text")
      .select(TextAnalysis.qualitySignals($"text").as("q"),
              TextAnalysis.qualityKeep($"text").as("keep"))
    val rows = out.select($"q.n_tokens", $"q.punct_ratio", $"keep")
      .as[(Int, Double, Boolean)].collect()
    assert(rows(0)._3 && rows(0)._1 == 16)
    assert(!rows(1)._3 && rows(1)._2 > 0.5)
  }

  test("gopher rule battery: each rule independently drops its violator") {
    import TextAnalysis._
    // base doc passes every rule with defaults (50+ words, mean len in
    // [3,10], no symbols/bullets, alphabetic, 2 distinct stopwords)
    val okWords = (1 to 60).map(i => if (i % 2 == 0) "have" else "word")
    val ok = okWords.mkString(" ") + " the end"
    val tooShort   = "the quick brown fox and the dog"          // < 50 words
    val tooSymbol  = okWords.map(_ + " #").mkString(" ")        // 1 hash/word
    val bulletDoc  = (1 to 10).map(i => "- have word the item " + i)
      .mkString("\n")                                            // all bullets
    val ellipsisDoc = (1 to 10).map(i => "have word the item " + i + " ...")
      .mkString("\n")                                            // all ... ends
    val numeric    = (1 to 60).map(i => i.toString).mkString(" ") +
      " the have"                                                // <80% alpha
    val noStops    = (1 to 60).map(_ => "word").mkString(" ")    // 0 stopwords
    val longWords  = (1 to 60).map(_ => "pneumonoultramicroscopic")
      .mkString(" ") + " the have"                               // mean len >10
    val docs = Seq(
      (0L, ok), (1L, tooShort), (2L, tooSymbol), (3L, bulletDoc),
      (4L, ellipsisDoc), (5L, numeric), (6L, noStops), (7L, longWords))
      .toDF("doc_id", "text")
    val got = docs.select($"doc_id",
        gopherCounts($"text").as("c"))
      .select($"doc_id", gopherKeep($"c").as("keep"), $"c")
      .orderBy("doc_id")
    val keeps = got.select("keep").as[Boolean].collect()
    assert(keeps(0), "clean doc must pass")
    assert(!keeps.tail.exists(identity),
      "every planted violator must drop: " + keeps.mkString(","))
    // counts are exact integers on a known doc
    val c = docs.where($"doc_id" === 3L)
      .select(gopherCounts($"text").as("c")).select($"c.*")
      .as[(Int, Int, Int, Int, Int, Int, Int, Int, Int)].head()
    assert(c._5 == 10, s"10 lines, got ${c._5}")      // n_lines
    assert(c._6 == 10, s"10 bullet lines, got ${c._6}") // n_bullet_lines
  }

  test("readability: hand Flesch–Kincaid, fragment floor, no-word NULL") {
    import graft.llm.TextAnalysis
    // "The cat sat. It ran!": 5 words, 2 sentence groups, 5 vowel groups
    // → fk = (390·2500 + 11800·1000) div 1000 − 15590 = −2815
    val docs = Seq((0L, "The cat sat. It ran!"),
      (1L, "abc"),        // no terminator: sentences floors at 1
      (2L, "123 456 !!")  // no words → NULL grade
    ).toDF("doc_id", "text")
    val got = TextAnalysis.readability(docs, "text")
      .select($"doc_id", $"words", $"sentences", $"syl", $"fk_milli")
      .as[(Long, Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(0L) == ((5L, 2L, 5L, Some(-2815L))))
    assert(got(1L)._2 == 1L && got(1L)._4.isDefined)
    assert(got(2L) == ((0L, 1L, 0L, None)))
    // longer words push the grade UP (more vowel groups per word)
    val hard = Seq((0L, "incomprehensibilities notwithstanding."))
      .toDF("doc_id", "text")
    val fk = TextAnalysis.readability(hard, "text")
      .select($"fk_milli").as[Long].head()
    assert(fk > got(0L)._4.get, "polysyllabic text must grade harder")
  }

  test("rolling fingerprint is order-sensitive; winnowing survives a local edit") {
    val df = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "beta alpha gamma delta epsilon zeta eta theta iota kappa",  // swapped
      "alpha beta gamma delta epsilon zeta eta theta iota kappaX"  // tail edit
    ).toDF("text")
    val fps = df.select(TextAnalysis.rollingFingerprint($"text")).as[Long].collect()
    assert(fps(0) != fps(1))
    val wins = df.select(TextAnalysis.winnowingFingerprints($"text", 3, 4))
      .as[Seq[Long]].collect()
    val overlap = wins(0).toSet.intersect(wins(2).toSet).size.toDouble /
      wins(0).toSet.size
    assert(overlap >= 0.5, s"winnowing overlap $overlap")
  }

  test("brute-force cosine topk: self-similar planted vector ranks first") {
    val base = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val nearV = base.map(x => (x * 1.01f))
    val rnd = new scala.util.Random(7)
    val noise = (3L to 30L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val df = ((1L, base) +: (2L, nearV) +: noise).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      df.filter($"vec_id" === 1), df, "vec_id", "embedding", k = 3)
    val first = top.filter($"rnk" === 1).select("cand_id").as[Long].head()
    assert(first == 2L)
  }

  test("marginMining: hub vectors demote below mutual near-pairs, formula exact vs driver reference") {
    // x0↔y0: an isolated mutual pair (moderate cosine, low neighborhoods
    // → margin > 1). yHub sits near EVERY src vector, so its backward
    // neighborhood sum is large → margin < the mutual pair's despite a
    // comparable raw cosine.
    val rnd = new scala.util.Random(41)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val e0 = unit(Array.tabulate(8)(i => if (i == 0) 1f else 0.05f * i))
    val hubDir = unit(Array.fill(8)(1f))
    // src: x0 ≈ e0 plus 5 vectors clustered around hubDir
    val src = (0L, e0.map(x => (x + 0.02f))) +: (1L to 5L).map(i =>
      (2 * i, unit(hubDir.map(x => x + rnd.nextGaussian().toFloat * 0.15f))))
    // tgt: y0 ≈ e0, yHub = hubDir, plus noise
    val tgt = Seq((1001L, e0), (1003L, hubDir)) ++ (2L to 5L).map(i =>
      (1001L + 2 * i, unit(Array.fill(8)(rnd.nextGaussian().toFloat))))
    val sdf = src.toDF("vec_id", "embedding")
    val tdf = tgt.toDF("vec_id", "embedding")
    val got = Similarity.marginMining(sdf, tdf, "vec_id", "embedding", k = 3)
      .select($"query_id", $"cand_id", $"cosine",
        $"margin".cast("double"), $"rnk")
      .as[(Long, Long, Double, Double, Int)].collect()
    val byPair = got.map(r => (r._1, r._2) -> r._4).toMap
    assert(byPair((0L, 1001L)) > 1.0,
      s"mutual isolated pair must clear margin 1, got ${byPair((0L, 1001L))}")
    // every hub pairing scores a LOWER margin than the mutual pair
    val hubMargins = got.filter(_._2 == 1003L).map(_._4)
    assert(hubMargins.nonEmpty && hubMargins.forall(_ < byPair((0L, 1001L))),
      s"hub margins $hubMargins must sit below ${byPair((0L, 1001L))}")
    // exact-formula parity with a driver-side reference (cosines rounded
    // to 6dp pre-sum, 2·kf·kb·cos / (sf·kb + sb·kf))
    def cosRef(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => BigDecimal(x.toDouble * y.toDouble).setScale(15, BigDecimal.RoundingMode.HALF_UP) }.sum
      val na = a.map(x => BigDecimal(x.toDouble * x.toDouble).setScale(15, BigDecimal.RoundingMode.HALF_UP)).sum
      val nb = b.map(x => BigDecimal(x.toDouble * x.toDouble).setScale(15, BigDecimal.RoundingMode.HALF_UP)).sum
      dot.toDouble / math.sqrt(na.toDouble * nb.toDouble)
    }
    val tMap = tgt.toMap
    def top3(cands: Seq[(Long, Double)]) =
      cands.sortBy { case (id, c) => (-c, id) }.take(3)
    val refMargins = for {
      (qid, qv) <- src
      fwd = top3(tgt.map { case (cid, cv) => cid -> cosRef(qv, cv) })
      (cid, c) <- fwd
    } yield {
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val sf = fwd.map(p => r6(p._2)).sum
      val bwd = top3(src.map { case (sid, sv) => sid -> cosRef(tMap(cid), sv) })
      val sb = bwd.map(p => r6(p._2)).sum
      val kf = fwd.size; val kb = bwd.size
      val num = r6(c) * 2 * kf * kb
      val den = sf * kb + sb * kf
      (qid, cid) -> (num / den).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    refMargins.foreach { case (pair, m) =>
      assert(math.abs(byPair(pair) - m) < 1e-9,
        s"pair $pair: engine ${byPair(pair)} != reference $m")
    }
  }

  test("hardNegatives: only cross-label candidates, = brute force on the filtered corpus") {
    val rnd = new scala.util.Random(13)
    val df = (0L until 60L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val queries = df.filter($"vec_id" < 4)
    val got = Similarity.hardNegatives(queries, df, "vec_id", "embedding",
        "label", k = 5)
      .select("query_id", "cand_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet
    // no same-label candidate ever surfaces
    val labelOf = (0L until 60L).map(i => i -> (i % 3)).toMap
    assert(got.forall { case (q, c, _) => labelOf(q) != labelOf(c) })
    // per query, identical to brute force over the pre-filtered corpus
    val ref = (0L until 4L).flatMap { q =>
      Similarity.bruteForceTopK(
          df.filter($"vec_id" === q),
          df.filter($"label" =!= labelOf(q)), "vec_id", "embedding", k = 5)
        .select("query_id", "cand_id", "rnk")
        .as[(Long, Long, Int)].collect()
    }.toSet
    assert(got == ref)
    // null-labeled rows are excluded from both sides
    val withNull = df.withColumn("label",
      when($"vec_id" === 7L, lit(null: String)).otherwise($"label"))
    val gotN = Similarity.hardNegatives(withNull, withNull, "vec_id",
        "embedding", "label", k = 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
    assert(!gotN.exists(_._2 == 7L) && !gotN.exists(_._1 == 7L))
  }

  test("LSH bucket topk achieves high recall vs brute force on clustered data") {
    val rnd = new scala.util.Random(11)
    // 4 clusters of 25 vectors each
    val centers = Array.fill(4)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 100).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 4)
    val exact = Similarity.bruteForceTopK(queries, df, "vec_id", "embedding", 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshBucketTopK(queries, df, "vec_id", "embedding", 5,
      bits = 16, bands = 8)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("multi-long (128-bit) LSH keeps high recall on clustered data") {
    // bits > 63 exercises the wide band-key kernel end-to-end through
    // lshBucketTopK — the ≫10^8-vector corpus configuration that the
    // single-long signature could not express
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(4)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 100).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 4)
    val exact = Similarity.bruteForceTopK(queries, df, "vec_id", "embedding", 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val wide = Similarity.lshBucketTopK(queries, df, "vec_id", "embedding", 5,
      bits = 128, bands = 16)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(wide).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
    // and the pair path (lshBucketPairs → embeddingNearDup) accepts the
    // wide configuration too
    val pairs = Dedup.embeddingNearDup(df, "vec_id", "embedding",
      minCosine = 0.95, bits = 128, bands = 16)
    assert(pairs.count() > 0)
  }

  test("connected components groups transitive near-dup chains") {
    // two chains: 1-2-3-4 (via consecutive pairs) and 10-11; singleton 99
    // appears only as a node in a self-contained pair list
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (99L, 99L))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L && comp(4L) == 1L)
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp(99L) == 99L)
    val losers = Dedup.nearDupLosers(pairs).as[Long].collect().toSet
    assert(losers == Set(2L, 3L, 4L, 11L))
  }

  test("IVF topk achieves high recall vs brute force on clustered data") {
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(4)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 120).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 4)
    val exact = Similarity.bruteForceTopK(queries, df, "vec_id", "embedding", 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, df, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 3, iters = 2)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
    // determinism: same inputs → same result
    val ivf2 = Similarity.ivfTopK(queries, df, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 3, iters = 2)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(ivf == ivf2)
  }

  test("unified ANN dispatch: thresholds, schema parity, recall floor on every path") {
    import Similarity._
    // the rule itself, without running a search
    assert(chooseAnnPath(100L, hasIndex = false) == BruteForce)
    assert(chooseAnnPath(1000000L, hasIndex = false) == BruteForce,
      "threshold is inclusive")
    assert(chooseAnnPath(1000001L, hasIndex = false) == LshBanding)
    assert(chooseAnnPath(100L, hasIndex = true) == IvfIndexed,
      "a persisted index always wins")
    // one clustered corpus through all three routes
    val rnd = new scala.util.Random(31)
    val centers = Array.fill(4)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 120).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 4)
    val exact = Similarity.bruteForceTopK(queries, df, "vec_id", "embedding", 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    def run(res: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      assert(res.columns.toSeq == Seq("query_id", "cand_id", "cosine", "rnk"),
        "every dispatch path must emit the unified schema")
      res.select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    }
    // small corpus -> brute force: identical pair set to the exact scan
    assert(run(Similarity.topK(queries, df, "vec_id", "embedding", 5)) == exact)
    // forced LSH (threshold below corpus): recall floor
    val lsh = run(Similarity.topK(queries, df, "vec_id", "embedding", 5,
      bruteForceThreshold = 10L))
    assert(exact.intersect(lsh).size.toDouble / exact.size >= 0.8)
    // persisted index -> IVF probe: recall floor
    val store = new graft.io.ParquetTableStore(spark, tmpDir("ann-idx"))
    Similarity.buildIvfIndex(store, "ann", df, "vec_id", "embedding",
      nlist = 8, iters = 2)
    val ivf = run(Similarity.topK(queries, df, "vec_id", "embedding", 5,
      index = Some((store, "ann")), nprobe = 3))
    assert(exact.intersect(ivf).size.toDouble / exact.size >= 0.9)
  }

  test("unified dispatch routes SQ8/PQ indices through exact-cosine rerank, uniform schema") {
    import Similarity._
    val rnd = new scala.util.Random(37)
    val centers = Array.fill(4)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 120).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 4)
    val exact = Similarity.bruteForceTopK(queries, df, "vec_id", "embedding", 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    def run(res: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      assert(res.columns.toSeq == Seq("query_id", "cand_id", "cosine", "rnk"),
        "indexed routes must emit the unified cosine schema, not approx_dist")
      res.select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    }
    val sqStore = new graft.io.ParquetTableStore(spark, tmpDir("sq-idx"))
    Similarity.buildSqIndex(sqStore, "sq", df, "vec_id", "embedding")
    assert(detectIndexKind(sqStore, "sq").contains(SqIndexed))
    val sq = run(Similarity.topK(queries, df, "vec_id", "embedding", 5,
      index = Some((sqStore, "sq"))))
    assert(exact.intersect(sq).size.toDouble / exact.size >= 0.8,
      s"SQ8-indexed recall too low: ${exact.intersect(sq).size}/5-sets")
    // PQ on a tight-cluster corpus ties in ADC space (within-cluster
    // codes are near-identical), so its honest check is planted-clone
    // recovery on individually-separated vectors: ADC shortlists the
    // clone, the exact rerank pins it rank-1
    val base = (0 until 120).map(i =>
      (100L + i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val clones = (0 until 4).map(i =>
      (500L + i, base(i)._2.map(x => x + rnd.nextGaussian().toFloat * 0.02f)))
    val pdf = (base ++ clones).toDF("vec_id", "embedding")
    val pQueries = pdf.filter($"vec_id" < 104)
    val pqStore = new graft.io.ParquetTableStore(spark, tmpDir("pq-idx"))
    Similarity.buildPqIndex(pqStore, "pq", pdf, "vec_id", "embedding",
      m = 4, dims = 64, nlist = 16)
    assert(detectIndexKind(pqStore, "pq").contains(PqIndexed))
    val pqRes = Similarity.topK(pQueries, pdf, "vec_id", "embedding", 5,
      index = Some((pqStore, "pq")))
    assert(pqRes.columns.toSeq == Seq("query_id", "cand_id", "cosine", "rnk"))
    val rank1 = pqRes.filter($"rnk" === 1)
      .select($"query_id", $"cand_id").as[(Long, Long)].collect().toMap
    (0 until 4).foreach { i =>
      assert(rank1(100L + i) == 500L + i,
        s"query ${100 + i}: planted clone must be rank-1, got ${rank1(100L + i)}")
    }
    // IVF detection priority unaffected
    val ivStore = new graft.io.ParquetTableStore(spark, tmpDir("iv-idx"))
    Similarity.buildIvfIndex(ivStore, "iv", df, "vec_id", "embedding",
      nlist = 8, iters = 2)
    assert(detectIndexKind(ivStore, "iv").contains(IvfIndexed))
    assert(detectIndexKind(ivStore, "nothing-here").isEmpty)
  }

  test("retrieval-eval ranker legs on the indexed dispatch route: no " +
       "full-corpus nested-loop scan, agreement within a recall floor " +
       "of brute") {
    // the q266/q336 shape past the brute threshold: the dense ranker
    // leg goes through Similarity.topK with a persisted index, and the
    // indexed plan must never nested-loop over the CORPUS (the
    // centroid-assignment crossJoin over nlist rows is fine — that is
    // bounded metadata, not data)
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val rnd = new scala.util.Random(43)
    val centers = Array.fill(4)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 4)
    val store = new graft.io.ParquetTableStore(spark, tmpDir("ranker-idx"))
    Similarity.buildIvfIndex(store, "rk", df, "vec_id", "embedding",
      nlist = 8, iters = 2)
    val denseIdx = Similarity.topK(queries, df, "vec_id", "embedding",
      k = 20, index = Some((store, "rk")), nprobe = 3)
    // PLAN assertion: any nested-loop join in the indexed route may
    // only touch the centroid table (cv/cnorm columns, nlist rows) —
    // never the bucketed corpus (cand_id/v columns)
    val nlJoins = denseIdx.queryExecution.executedPlan.collect {
      case j: BroadcastNestedLoopJoinExec => j.toString
    }
    nlJoins.foreach { j =>
      assert(j.contains("cv") || j.contains("cnorm"),
        s"nested-loop join outside the centroid assignment:\n$j")
      assert(!j.contains("cand_id"),
        s"indexed route nested-loops over the corpus:\n$j")
    }
    // the brute leg, by contrast, IS the broadcast full scan
    val brutePlan = Similarity.bruteForceTopK(queries, df, "vec_id",
      "embedding", 20).queryExecution.executedPlan.toString
    assert(brutePlan.contains("BroadcastNestedLoopJoin"))
    // AGREEMENT floor: ranker agreement computed with the indexed
    // dense leg must track the brute-legs agreement — the q336 metric
    // survives the route swap because indexed recall is high on
    // clustered data
    val ham = Similarity.hammingTopK(queries, df, "vec_id", "embedding",
      dim = 32, k = 20).select($"query_id", $"cand_id")
    val bruteDense = Similarity.bruteForceTopK(queries, df, "vec_id",
      "embedding", 20).select($"query_id", $"cand_id")
    def agree(dense: DataFrame): Map[Long, Long] =
      Relevance.rankerAgreement(dense, ham, "query_id", "cand_id")
        .select($"query_id", $"jaccard_ppm")
        .as[(Long, Long)].collect().toMap
    val aB = agree(bruteDense)
    val aI = agree(denseIdx.select($"query_id", $"cand_id"))
    assert(aI.keySet == aB.keySet)
    // per-query indexed top-20 recall vs brute ≥ 0.9 on this corpus,
    // so Jaccard vs the SAME hamming side moves by at most ~2 docs of
    // 20: pin |Δ| ≤ 150000 ppm per query
    aB.foreach { case (q, jb) =>
      assert(math.abs(aI(q) - jb) <= 150000L,
        s"query $q: indexed-leg agreement ${aI(q)} vs brute-leg $jb")
    }
    // and the indexed dense leg itself holds the recall floor
    val exact = bruteDense.as[(Long, Long)].collect().toSet
    val idx = denseIdx.select($"query_id", $"cand_id")
      .as[(Long, Long)].collect().toSet
    assert(exact.intersect(idx).size.toDouble / exact.size >= 0.9,
      s"indexed recall ${exact.intersect(idx).size}/${exact.size}")
  }

  test("semanticDedupLsh: paraphrase groups collapse to the first id " +
       "through the banded path, unrelated vectors survive, " +
       "partition-independent") {
    val rnd = new scala.util.Random(71)
    val centers = Array.fill(4)(Array.fill(32)(rnd.nextGaussian().toFloat))
    // ids 0..3 are the four distinct "meanings"; ids 4..23 are
    // paraphrases (tiny noise → cosine ≈ 1, so they share ALL sign
    // bits with their center w.h.p. — every band collides); ids 100..
    // are unrelated and must survive the exact-cosine verify even when
    // a band accidentally collides
    val paraphrases = (0 until 24).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.01f))
    }
    val unrelated = (0 until 6).map(i =>
      (100L + i, Array.fill(32)(rnd.nextGaussian().toFloat)))
    val df = (paraphrases ++ unrelated).toDF("vec_id", "embedding")
    val survivors = Dedup.semanticDedupLsh(df, "vec_id", "embedding",
        tau = 0.9, bits = 16, bands = 4, dims = 32)
      .select($"vec_id").as[Long].collect().toSet
    assert(survivors == (Set(0L, 1L, 2L, 3L) ++
      (0 until 6).map(100L + _)), s"got $survivors")
    // partition independence: banding + exact verify is a pure
    // function of (corpus, tau, bits, bands)
    val again = Dedup.semanticDedupLsh(df.repartition(7), "vec_id",
        "embedding", tau = 0.9, bits = 16, bands = 4, dims = 32)
      .select($"vec_id").as[Long].collect().toSet
    assert(again == survivors)
    intercept[IllegalArgumentException](
      Dedup.semanticDedupLsh(df, "vec_id", "embedding", 1.5, 16, 4, 32))
    intercept[IllegalArgumentException](
      Dedup.semanticDedupLsh(df, "vec_id", "embedding", 0.9, 16, 5, 32))
  }

  test("PQ: codes are bounded and complete; ADC search recalls clustered neighbors") {
    val rnd = new scala.util.Random(59)
    val centers = Array.fill(4)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 120).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(df, "vec_id", "embedding",
        m = 4, sub = 8, nlist = 16)
      .as[(Long, Int, Long)].collect()
    assert(codes.length == 120 * 4, "m code rows per vector")
    assert(codes.forall { case (_, _, code) => code >= 0 && code < 16 })
    val queries = df.filter($"vec_id" < 4)
    val pq = Similarity.pqTopKDeterministic(queries, df, "vec_id", "embedding",
        k = 5, m = 4, dims = 32, nlist = 16)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(pq.size == 4 * 5)
    // what coarse (iters=0) quantization actually promises: same-cluster
    // candidates share codes, so ADC ranks the query's HOME CLUSTER
    // ahead of the others (within-cluster order then ties to low ids) —
    // assert cluster-level recall, not exact-neighbor recall
    val homeCluster = pq.count { case (q, c) => c % 4 == q % 4 }
    assert(homeCluster >= 18,
      s"only $homeCluster/20 PQ results from the query's planted cluster")
    // determinism across partitionings
    val pq2 = Similarity.pqTopKDeterministic(queries, df.repartition(7),
        "vec_id", "embedding", k = 5, m = 4, dims = 32, nlist = 16)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(pq == pq2)
  }

  test("SQ8: codes bounded, reconstruction within one step, high recall") {
    val rnd = new scala.util.Random(61)
    val centers = Array.fill(4)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 120).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val stats = Similarity.sqStats(df, "embedding")
    val (mins, spans) = stats.as[(Seq[Double], Seq[Double])].head()
    assert(mins.length == 32 && spans.length == 32 && spans.forall(_ >= 0))
    val codes = Similarity.sqEncode(df, "vec_id", "embedding", stats)
      .as[(Long, Seq[Int])].collect()
    assert(codes.length == 120)
    assert(codes.forall(_._2.forall(c => c >= 0 && c <= 255)))
    // dequantized values sit within one quantization step of the input
    val dec = Similarity.sqDecode(
        Similarity.sqEncode(df, "vec_id", "embedding", stats), stats)
      .as[(Long, Seq[Double])].collect().toMap
    vecs.foreach { case (id, v) =>
      v.zip(dec(id)).zipWithIndex.foreach { case ((x, xh), d) =>
        val step = spans(d) / 255.0
        assert(math.abs(x - xh) <= step + 1e-12,
          s"vec $id dim $d: |$x - $xh| > step $step")
      }
    }
    // 8-bit per-dim resolution barely moves neighbor order: recall >= 0.9
    val queries = df.filter($"vec_id" < 4)
    val exact = Similarity.bruteForceTopK(queries, df, "vec_id", "embedding", 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val sq = Similarity.sqTopK(queries, df, "vec_id", "embedding", k = 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(sq.size == 4 * 5)
    val recall = exact.intersect(sq).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
    // determinism across partitionings
    val sq2 = Similarity.sqTopK(queries, df.repartition(7),
        "vec_id", "embedding", k = 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(sq == sq2)
    // constant dimension -> span 0 -> code 0, exact reconstruction
    val flat = Seq((0L, Array(1.5f, 2f)), (1L, Array(1.5f, 3f)))
      .toDF("vec_id", "embedding")
    val fStats = Similarity.sqStats(flat, "embedding")
    val fCodes = Similarity.sqEncode(flat, "vec_id", "embedding", fStats)
      .as[(Long, Seq[Int])].collect().toMap
    assert(fCodes(0L).head == 0 && fCodes(1L).head == 0)
    val fDec = Similarity.sqDecode(
        Similarity.sqEncode(flat, "vec_id", "embedding", fStats), fStats)
      .as[(Long, Seq[Double])].collect().toMap
    assert(fDec(0L).head == 1.5 && fDec(1L).head == 1.5)
  }

  test("SQ8 index: indexed == direct; admission encodes against frozen stats") {
    val rnd = new scala.util.Random(67)
    val vecs = (0 until 80).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    val store = new graft.io.ParquetTableStore(spark, tmpDir("sq-idx"))
    Similarity.buildSqIndex(store, "sq", df, "vec_id", "embedding")
    def run(res: org.apache.spark.sql.DataFrame) = res
      .select($"query_id", $"cand_id", $"rnk")
      .as[(Long, Long, Int)].collect().toSet
    val direct = run(Similarity.sqTopK(queries, df, "vec_id", "embedding", 5))
    val indexed = run(Similarity.sqTopKIndexed(store, "sq", queries,
      "vec_id", "embedding", 5))
    assert(indexed == direct, "the stored-codes path must be indistinguishable")
    // admission: a clone of vec 0 lands at a new id and must surface as
    // its nearest neighbor; out-of-range components clamp (frozen stats)
    val clone = Seq((1000L, vecs(0)._2.map(x => x * 1.001f)),
        (1001L, Array.fill(16)(99f)))                 // far outside range
      .toDF("vec_id", "embedding")
    val admitted = Similarity.updateSqIndex(store, "sq", clone,
      "vec_id", "embedding")
    assert(admitted.count() == 2)
    val after = Similarity.sqTopKIndexed(store, "sq", queries,
        "vec_id", "embedding", 5)
      .select($"query_id", $"cand_id", $"rnk")
      .as[(Long, Long, Int)].collect()
    assert(after.exists(r => r._1 == 0L && r._2 == 1000L && r._3 == 1),
      "the admitted near-clone must rank first for its source")
    // frozen stats: the out-of-range vector's codes all clamp to 0/255
    val codes = store.read("sq.codes").where($"cand_id" === 1001L)
      .select($"codes").as[Seq[Int]].head()
    assert(codes.forall(c => c == 0 || c == 255),
      s"out-of-range components must clamp, got $codes")
  }

  test("PQ index: indexed == direct; admission encodes against frozen codebooks") {
    val rnd = new scala.util.Random(71)
    val vecs = (0 until 80).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    val store = new graft.io.ParquetTableStore(spark, tmpDir("pq-idx"))
    Similarity.buildPqIndex(store, "pq", df, "vec_id", "embedding",
      m = 4, dims = 16, nlist = 8)
    def run(res: org.apache.spark.sql.DataFrame) = res
      .select($"query_id", $"cand_id", $"rnk")
      .as[(Long, Long, Int)].collect().toSet
    val direct = run(Similarity.pqTopKDeterministic(queries, df,
      "vec_id", "embedding", k = 5, m = 4, dims = 16, nlist = 8))
    val indexed = run(Similarity.pqTopKIndexed(store, "pq", queries,
      "vec_id", "embedding", 5))
    assert(indexed == direct, "the stored-codes path must be indistinguishable")
    // admission: an exact clone of vec 0 gets vec 0's CODES (frozen
    // books ⇒ identical subspace argmins) and must tie it per subspace
    val clone = Seq((1000L, vecs(0)._2)).toDF("vec_id", "embedding")
    val admitted = Similarity.updatePqIndex(store, "pq", clone,
      "vec_id", "embedding")
    assert(admitted.count() == 4, "one code row per subspace")
    val c0 = store.read("pq.codes").where($"cand_id" === 0L)
      .select($"j", $"code").as[(Int, Long)].collect().toMap
    val cClone = store.read("pq.codes").where($"cand_id" === 1000L)
      .select($"j", $"code").as[(Int, Long)].collect().toMap
    assert(cClone == c0, "identical vector through frozen books must reuse codes")
    // the admitted clone surfaces for query 0 at the same approx
    // distance as any candidate sharing all four codes
    val after = Similarity.pqTopKIndexed(store, "pq", queries,
        "vec_id", "embedding", 5)
      .select($"query_id", $"cand_id").as[(Long, Long)].collect()
    assert(after.exists(r => r._1 == 0L && r._2 == 1000L),
      "the admitted clone must reach query 0's top-5")
  }

  test("centroid assignment: planted clusters assign home; ties break to lowest id") {
    val rnd = new scala.util.Random(47)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 80).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.05f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cents = centers.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toSeq.toDF("cid", "cvec")
    val got = Similarity.assignToCentroids(df, cents,
        "vec_id", "embedding", "cid", "cvec")
      .select($"vec_id", $"centroid_id").as[(Long, Long)].collect().toMap
    assert(got.size == 80)
    assert(vecs.forall { case (id, _) => got(id) == id % 4 },
      "tightly planted vectors must assign to their generating centroid")
    // exact tie: two identical centroids → the lower id wins
    val dupCents = Seq((5L, centers(0)), (2L, centers(0))).toDF("cid", "cvec")
    val tied = Similarity.assignToCentroids(df.filter($"vec_id" === 0), dupCents,
        "vec_id", "embedding", "cid", "cvec")
      .select($"centroid_id").as[Long].head()
    assert(tied == 2L, "equal distances must resolve to the lowest centroid id")
  }

  test("centroid assignment distances match the reference decimal lambda form") {
    val rnd = new scala.util.Random(53)
    val df = (0 until 30).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val cents = (0 until 3).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("cid", "cvec")
    val got = Similarity.assignToCentroids(df, cents,
        "vec_id", "embedding", "cid", "cvec")
      .as[(Long, Long, Double)].collect().toSet
    // independent recomputation through the CodegenFallback lambda chain
    val ref = df.crossJoin(cents)
      .select($"vec_id", $"cid",
        (KernelReferences.dotDecimal($"embedding", $"embedding").cast("double")
          + KernelReferences.dotDecimal($"cvec", $"cvec").cast("double")
          - lit(2.0) * KernelReferences.dotDecimal($"embedding", $"cvec").cast("double"))
          .as("dist2"))
      .groupBy($"vec_id")
      .agg(min(struct($"dist2", $"cid")).as("m"))
      .select($"vec_id", $"m.cid", $"m.dist2")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == ref, "kernel-built distances must be bit-identical to the lambda form")
  }

  test("persisted IVF index returns the same results as direct ivfTopK") {
    val rnd = new scala.util.Random(31)
    val vecs = (0 until 90).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    val store = new graft.io.ParquetTableStore(spark, tmpDir("ivf"))
    Similarity.buildIvfIndex(store, "ann", df, "vec_id", "embedding",
      nlist = 8, iters = 2)
    val indexedDf = Similarity.ivfTopKIndexed(store, "ann", queries,
      "vec_id", "embedding", k = 5, nprobe = 3)
    // probe selection + rerank are both the k-bounded aggregator now —
    // the whole indexed search path must plan without any Window node
    assert(!indexedDf.queryExecution.executedPlan.toString.contains("Window"),
      "IVF probe/rerank must not plan a Window")
    val indexed = indexedDf
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val direct = Similarity.ivfTopK(queries, df, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 3, iters = 2)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(indexed == direct)
    assert(store.exists("ann.centroids") && store.exists("ann.buckets"))
  }

  test("IVF index admission: fixed centroids, appended buckets, admitted vectors searchable") {
    val rnd = new scala.util.Random(37)
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val store = new graft.io.ParquetTableStore(spark, tmpDir("ivfadm"))
    Similarity.buildIvfIndex(store, "ann", df, "vec_id", "embedding",
      nlist = 8, iters = 2)
    val centsBefore = store.read("ann.centroids").collect().toSet
    // admit 20 new vectors, one an exact clone of vector 5
    val batch = ((100L, vecs(5)._2) +: (101 until 120).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))).toDF(
      "vec_id", "embedding")
    val assigned = Similarity.updateIvfIndex(store, "ann", batch,
      "vec_id", "embedding")
    val rows = assigned.as[(Long, Long)].collect().toMap
    assert(rows.keySet == (Set(100L) ++ (101L until 120L)))
    val cids = store.read("ann.centroids").select("cid")
      .as[Long].collect().toSet
    assert(rows.values.forall(cids.contains))
    // centroids untouched, buckets grew by exactly the batch
    assert(store.read("ann.centroids").collect().toSet == centsBefore)
    assert(store.read("ann.buckets").count() == 80)
    // the clone lands in vector 5's bucket and the indexed search
    // finds it first for query 5 (cosine 1)
    val b5 = store.read("ann.buckets").filter($"id" === 5L)
      .select("cid").as[Long].head()
    assert(rows(100L) == b5, "clone must join its original's bucket")
    val top = Similarity.ivfTopKIndexed(store, "ann",
        df.filter($"vec_id" === 5), "vec_id", "embedding", k = 3, nprobe = 2)
      .filter($"rnk" === 1).select("cand_id").as[Long].head()
    assert(top == 100L)
    // re-action after the append must not recompute against the
    // mutated buckets (checkpoint contract)
    assert(assigned.count() == 20)
  }

  test("multimodal: stub decode via mapPartitions keeps schema and batch shape") {
    val media = Multimodal.syntheticCorpus(spark, 30, partitions = 3)
    val feats = Multimodal.extractFeatures(media)
    val rows = feats.collect()
    assert(rows.length == 30)
    assert(rows.forall(_.feature.length == Multimodal.StubCodec.FeatureDim))
    assert(rows.forall(_.decode_ok))
    // deterministic: same input → same features
    val again = Multimodal.extractFeatures(media).collect()
    assert(rows.map(_.feature.toSeq).toSeq == again.map(_.feature.toSeq).toSeq)
    // frame sampling: 25fps stub → duration/40ms frames planned
    val frames = Multimodal.sampleFrames(media.toDF(), everyMs = 200L)
    assert(frames.groupBy("media_id").count().collect().forall(_.getLong(1) >= 5))
    // resize plan: aspect-preserved, never upscales
    val rp = Multimodal.resizePlan(media.toDF(), maxSide = 64)
    assert(rp.select(max($"out_w")).head().getInt(0) <= 64)
  }

  test("semantic dedup flags within-cluster cosine dups keep-first; guard and plan") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .limit(100).select($"vec_id", $"embedding")
    val planted = emb.unionByName(emb.select(($"vec_id" + 1000000L).as("vec_id"),
      transform($"embedding", x => x * lit(1.001f)).as("embedding")))
    val cents = emb.filter($"vec_id" < 4)
    val out = Dedup.semanticDedup(planted, "vec_id", "embedding",
      cents, "vec_id", "embedding", minCosine = 0.999)
    val rows = out.select($"vec_id", $"keep").as[(Long, Int)].collect().toMap
    assert(rows.size == 200)
    // keep-first: every original survives, every planted higher-id copy
    // is its cluster-mate loser
    assert((0L until 100L).forall(rows(_) == 1), "originals must survive")
    assert((0L until 100L).forall(i => rows(i + 1000000L) == 0),
      "planted scaled copies must be flagged")
    // production (native cosine) agrees on this fixture
    val prod = Dedup.semanticDedup(planted, "vec_id", "embedding",
        cents, "vec_id", "embedding", minCosine = 0.999, deterministic = false)
      .select($"vec_id", $"keep").as[(Long, Int)].collect().toMap
    assert(prod == rows)
    // cluster-size guard: clusters over the cap skip pairing — every
    // doc survives (under-dedup, never a wrong drop or a fat task)
    val guarded = Dedup.semanticDedup(planted, "vec_id", "embedding",
        cents, "vec_id", "embedding", minCosine = 0.999, maxClusterSize = 2)
      .select($"keep").as[Int].collect()
    assert(guarded.forall(_ == 1), "oversized clusters must skip pairing")
    // scale shape: no window, no cartesian; the only crossJoin is the
    // broadcast centroid table inside assignToCentroids
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "semantic dedup must not plan a Window")
    assert(!plan.contains("CartesianProduct"),
      "the within-cluster pair join must be an equi-join on centroid_id")
  }

  test("cluster resolution keeps the best-scoring member, ties to lowest id") {
    val comps = Seq((1L, 1L), (5L, 1L), (9L, 1L), (20L, 20L), (21L, 20L))
      .toDF("id", "comp")
    val scores = Seq((1L, 10.0), (5L, 30.0), (9L, 30.0), (20L, 2.0), (21L, 7.0))
      .toDF("id", "score")
    val out = Dedup.resolveClustersBest(comps, scores)
    val got = out.select($"id", $"comp", $"survivor_id")
      .as[(Long, Long, Long)].collect().toSet
    // cluster 1: max score 30 shared by 5 and 9 → tie to 5; cluster 20:
    // 21 outscores the min-id member
    assert(got == Set((1L, 1L, 5L), (5L, 1L, 5L), (9L, 1L, 5L),
      (20L, 20L, 21L), (21L, 20L, 21L)))
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "argmax must be a min(struct) groupBy, not a window")
  }

  test("decontaminateBloom ≡ crossCorpusContamination; sketch probes the train scan") {
    // planted contamination: test docs 100/101 quote train docs' 5-gram
    // runs; doc 102 is clean. The bloom variant must return the exact
    // pair set of the plain gram join (false positives die in the exact
    // join; false negatives are impossible).
    val train = docs(
      (1, "the quick brown fox jumps over the lazy dog tonight"),
      (2, "pack my box with five dozen liquor jugs right now"),
      (3, "completely unrelated training content nothing shared here at all"))
    val test = docs(
      (100, "prefix words the quick brown fox jumps over suffix"),
      (101, "pack my box with five dozen liquor jugs copied"),
      (102, "this evaluation document shares no five gram with training"))
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"test_id", $"train_id", $"n_shared")
      .as[(Long, Long, Long)].collect().toSet
    val exact = norm(Dedup.crossCorpusContamination(
      train, test, "doc_id", "text", ngram = 5, minShared = 1))
    val bloom = Dedup.decontaminateBloom(
      train, test, "doc_id", "text", ngram = 5, minShared = 1)
    assert(norm(bloom) == exact, s"bloom ${norm(bloom)} vs exact $exact")
    assert(exact.map(_._1) == Set(100L, 101L), "planted leaks must flag")
    val p = bloom.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"),
      "train grams must probe the sketch at the scan stage")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("property: decontaminateBloom ≡ crossCorpusContamination on random corpora") {
    // the bloom path's only permitted divergence is performance: false
    // positives die in the exact join, false negatives are impossible.
    // Randomized corpora across seeds pin the result identity beyond
    // the planted fixture.
    val lex = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    for (seed <- Seq(5, 17, 23)) {
      val rnd = new scala.util.Random(seed)
      def corpus(base: Long, n: Int) = (0 until n).map { i =>
        (base + i,
          (0 until (6 + rnd.nextInt(8))).map(_ => lex(rnd.nextInt(10))).mkString(" "))
      }
      val train = docs(corpus(0L, 30): _*)
      val test = docs(corpus(1000L, 12): _*)
      def norm(df: org.apache.spark.sql.DataFrame) = df
        .select($"test_id", $"train_id", $"n_shared")
        .as[(Long, Long, Long)].collect().toSet
      val exact = norm(Dedup.crossCorpusContamination(
        train, test, "doc_id", "text", ngram = 3, minShared = 1))
      val bloom = norm(Dedup.decontaminateBloom(
        train, test, "doc_id", "text", ngram = 3, minShared = 1))
      assert(bloom == exact,
        s"seed $seed: bloom diverged — only in bloom ${bloom.diff(exact)}, " +
          s"missing ${exact.diff(bloom)}")
      assert(exact.nonEmpty, s"seed $seed: vacuous corpus (no shared grams)")
    }
  }

  test("marginMining past the dispatch threshold never broadcasts a corpus side") {
    // corpora larger than the (test-pinned) threshold must route both
    // neighbor passes through LSH banding: the brute kernel's signature —
    // a non-equi BroadcastNestedLoopJoin over a whole corpus — must be
    // absent from the plan (the round-6 scale caveat, closed). Small
    // stat-frame BroadcastHashJoins are fine and expected.
    val rnd = new scala.util.Random(17)
    def vecs(ids: Range, base: Long) = ids.map(i =>
      (base + i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val src = vecs(0 until 40, 0L)
    val tgt = vecs(0 until 40, 1000L)
    val mined = Similarity.marginMining(src, tgt, "vec_id", "embedding",
      k = 3, deterministic = false, bruteForceThreshold = 10L)
    val p = mined.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "large-corpus margin mining must not broadcast-scan a corpus side")
    assert(mined.count() > 0)
  }

  test("marginMining LSH route keeps a recall floor vs brute force") {
    // planted structure: each src vector has one near-duplicate in tgt
    // (the pair LSH must recover) plus background noise. Recall of the
    // rnk=1 forward neighbor under the LSH route vs exact brute force.
    val rnd = new scala.util.Random(23)
    val bases = (0 until 60).map(_ => Array.fill(16)(rnd.nextGaussian().toFloat))
    val src = bases.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val tgt = bases.zipWithIndex.map { case (v, i) =>
      (1000L + i, v.map(x => x + rnd.nextGaussian().toFloat * 0.05f)) }
      .toDF("vec_id", "embedding")
    def rank1(df: DataFrame) = df.filter($"rnk" === 1)
      .select($"query_id", $"cand_id").as[(Long, Long)].collect().toSet
    val exact = rank1(Similarity.marginMining(
      src, tgt, "vec_id", "embedding", k = 2, deterministic = false))
    val mined = Similarity.marginMining(
      src, tgt, "vec_id", "embedding", k = 2, deterministic = false,
      bruteForceThreshold = 10L)
    val lsh = rank1(mined)
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH-route rank-1 recall $recall below floor 0.5")
    // no silent pair loss: every forward neighbor survives to the
    // output even when its backward neighborhood is empty (the margin
    // is null there, not the row absent)
    val fwdPairs = Similarity.topK(src, tgt, "vec_id", "embedding", 2,
        bruteForceThreshold = 10L)
      .select($"query_id", $"cand_id").as[(Long, Long)].collect().toSet
    val minedPairs = mined.select($"query_id", $"cand_id")
      .as[(Long, Long)].collect().toSet
    assert(minedPairs == fwdPairs,
      s"margin join dropped pairs: missing ${fwdPairs.diff(minedPairs)}")
  }

  test("marginMining brute path results are dispatch-invariant (topK routing is transparent)") {
    val rnd = new scala.util.Random(29)
    val src = (0 until 20).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val tgt = (0 until 20).map(i =>
      (500L + i, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    def rows(df: DataFrame) = df
      .select($"query_id", $"cand_id", $"rnk", $"margin".cast("string"))
      .as[(Long, Long, Int, String)].collect().toSet
    // defaults (dispatch counts, picks brute) ≡ explicit sizes (no count)
    val a = rows(Similarity.marginMining(src, tgt, "vec_id", "embedding", k = 3))
    val b = rows(Similarity.marginMining(src, tgt, "vec_id", "embedding", k = 3,
      srcSize = 20L, tgtSize = 20L))
    assert(a == b && a.nonEmpty)
  }

  test("removeBoilerplate: df-threshold policy — hot lines die everywhere, legit repeats survive") {
    // footer F in all 4 docs (df=4 > maxDf=2); quote Q shared by docs
    // 1+2 (df=2, at the threshold — survives); bodies unique
    val df = docs(
      (1, "body one|Q|F"),
      (2, "body two|Q|F"),
      (3, "body three|F"),
      (4, "F|body four|F"))
    val out = Dedup.removeBoilerplate(df, "doc_id", "text",
        sep = "|", maxDf = 2, hashKeys = false)
      .select($"doc_id", $"text_clean", $"n_kept", $"n_dropped")
      .as[(Long, String, Long, Long)].collect().toMap2
    assert(out(1L) == (("body one|Q", 2L, 1L)))
    assert(out(2L) == (("body two|Q", 2L, 1L)))
    assert(out(3L) == (("body three", 1L, 1L)))
    // every instance of a hot line drops, including repeats inside one doc
    assert(out(4L) == (("body four", 1L, 2L)))
  }

  test("removeBoilerplate: fully-boilerplate docs are absent; hashKeys parity; dedup contrast") {
    val df = docs((1, "F"), (2, "F"), (3, "F"), (4, "unique|F"))
    val out = Dedup.removeBoilerplate(df, "doc_id", "text",
      sep = "|", maxDf = 2, hashKeys = false)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(4L),
      "docs reduced to nothing must be absent, the reassemble contract")
    // production hashed keys compute the identical result
    val hashed = Dedup.removeBoilerplate(df, "doc_id", "text",
      sep = "|", maxDf = 2, hashKeys = true)
      .as[(Long, String, Long, Long)].collect().toSet
    val plain = Dedup.removeBoilerplate(df, "doc_id", "text",
      sep = "|", maxDf = 2, hashKeys = false)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(hashed == plain)
    // contrast with dedupParagraphInstances: keep-first would RETAIN one
    // F instance; the df policy removes them all
    val paras = Dedup.splitParagraphs(df, "doc_id", "text",
      java.util.regex.Pattern.quote("|"))
    val keepFirst = Dedup.dedupParagraphInstances(paras, keepFirst = true)
    assert(keepFirst.filter($"para" === "F").count() == 1L)
    assert(Dedup.boilerplateParagraphInstances(paras, maxDf = 2,
      hashKeys = false).filter($"para" === "F").count() == 0L)
  }

  test("rademacherProject: JL contract — norms preserved in expectation, exact determinism") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.rademacherProject(df, "embedding", dim = 64,
        outDim = 16)
      .select($"vec_id", $"proj").as[(Long, Seq[Double])].collect().toMap
    val ratios = vecs.map { case (id, v) =>
      val trueNorm2 = v.map(x => x.toDouble * x.toDouble).sum
      // E[proj_j²] = ‖v‖² per component for ±1 signs; the outDim-average
      // concentrates (relative σ ≈ √(2/16) ≈ 0.35) — 5× per-vector band,
      // tight band on the 30-vector mean
      val est = out(id).map(p => p * p).sum / 16.0
      assert(est > trueNorm2 / 5.0 && est < trueNorm2 * 5.0,
        s"vec $id: norm estimate $est vs true $trueNorm2")
      est / trueNorm2
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.4,
      s"mean norm ratio $mean must concentrate near 1")
    // bit-exact repeatability across partitionings (decimal sums)
    val again = Similarity.rademacherProject(df.repartition(7), "embedding",
        dim = 64, outDim = 16)
      .select($"vec_id", $"proj").as[(Long, Seq[Double])].collect().toMap
    assert(out == again)
  }

  test("rademacherProjectRows equals the packed form modulo the decimal surface") {
    val rnd = new scala.util.Random(13)
    val df = (0 until 10).map(i =>
      (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val packed = Similarity.rademacherProject(df, "embedding", 32, 4)
      .select($"vec_id", $"proj").as[(Long, Seq[Double])].collect().toMap
    val rows = Similarity.rademacherProjectRows(df, "vec_id", "embedding", 32, 4)
      .as[(Long, Int, Double)].collect()
    assert(rows.length == 40)
    for ((id, j, p) <- rows) {
      val raw = packed(id)(j)
      assert(math.abs(p - raw) < 5e-7,
        s"row surface must be the decimal(38,6) rounding of the packed value")
    }
    intercept[IllegalArgumentException] {
      Similarity.rademacherProject(df, "embedding", dim = 32, outDim = 33)
    }
  }

  /** Driver Levenshtein reference — classic DP, unit costs. */
  private def refLev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private lazy val editCorpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(41)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    (0 until 60).map { i =>
      val base = Seq.fill(4 + rnd.nextInt(3))(
        words(rnd.nextInt(words.length))).mkString(" ")
      (i.toLong, base)
    }
  }

  test("blockedEditDistancePairs equals the within-block driver reference") {
    val df = editCorpus.toDF("doc_id", "text")
    val got = Dedup.blockedEditDistancePairs(df, "doc_id", "text",
        blockKey = Seq(expr("length(text) div 8")), maxDist = 6)
      .as[(Long, Long, Int)].collect().toSet
    val byBlock = editCorpus.groupBy(_._2.length / 8)
    val want = (for {
      (_, docs) <- byBlock.toSeq
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      d = refLev(ta, tb) if d <= 6
    } yield (ia, ib, d)).toSet
    assert(got == want)
  }

  test("blockedEditDistancePairs skips blocks past maxBlock and is partition-independent") {
    // one degenerate block (everyone length 5) plus a small pair block
    val rows = (0L until 30L).map(i => (i, "xxxxx")) ++
      Seq((100L, "abcdefgh"), (101L, "abcdefgi"))
    val df = rows.toDF("doc_id", "text")
    val got = Dedup.blockedEditDistancePairs(df, "doc_id", "text",
        blockKey = Seq(expr("length(text)")), maxDist = 2, maxBlock = 10)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((100L, 101L, 1)),
      "the 30-doc degenerate block must be skipped whole")
    val re = Dedup.blockedEditDistancePairs(df.repartition(7), "doc_id",
        "text", blockKey = Seq(expr("length(text)")), maxDist = 2,
        maxBlock = 10)
      .as[(Long, Long, Int)].collect().toSet
    assert(re == got)
    intercept[IllegalArgumentException] {
      Dedup.blockedEditDistancePairs(df, "doc_id", "text",
        blockKey = Seq(expr("length(text)")), maxDist = -1)
    }
  }

  test("editDistanceVerify re-checks upstream candidate pairs exactly") {
    val df = editCorpus.toDF("doc_id", "text")
    // candidates: ALL pairs (tiny corpus) — verify must keep exactly
    // the ≤4-edit ones regardless of how candidates were produced
    val cands = (for {
      (ia, _) <- editCorpus; (ib, _) <- editCorpus if ia < ib
    } yield (ia, ib)).toDF("doc_a", "doc_b")
    val got = Dedup.editDistanceVerify(cands, df, "doc_id", "text",
        maxDist = 4)
      .as[(Long, Long, Int)].collect().toSet
    val want = (for {
      (ia, ta) <- editCorpus; (ib, tb) <- editCorpus if ia < ib
      d = refLev(ta, tb) if d <= 4
    } yield (ia, ib, d)).toSet
    assert(got == want)
  }

  test("knnGraph: every node gets k self-free edges; direct == brute force") {
    val rnd = new scala.util.Random(29)
    val df = (0 until 80).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(df, "vec_id", "embedding", k = 3,
        deterministic = true)
      .as[(Long, Long, Double, Int)].collect()
    assert(g.length == 80 * 3)
    assert(g.forall(e => e._1 != e._2), "no self edges")
    val perQuery = g.groupBy(_._1)
    assert(perQuery.forall(_._2.map(_._4).sorted.toSeq == Seq(1, 2, 3)))
    val brute = Similarity.bruteForceTopK(df, df, "vec_id", "embedding",
        k = 3, deterministic = true)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(g.toSet == brute)
  }

  test("knnGraph indexed route drops self without losing a neighbor slot") {
    val rnd = new scala.util.Random(31)
    val df = (0 until 150).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val store = new graft.io.ParquetTableStore(spark, tmpDir("knn-sq"))
    Similarity.buildSqIndex(store, "sq", df, "vec_id", "embedding")
    val g = Similarity.knnGraph(df, "vec_id", "embedding", k = 4,
        index = Some((store, "sq")))
      .as[(Long, Long, Double, Int)].collect()
    assert(g.forall(e => e._1 != e._2), "indexed route must drop self")
    val perQuery = g.groupBy(_._1).map { case (q, es) => q -> es.length }
    assert(perQuery.values.forall(_ == 4),
      "every query must keep a FULL k after the self drop")
    assert(perQuery.size == 150)
    // recall sanity vs brute force on rank-1 neighbors
    val brute1 = Similarity.bruteForceTopK(df, df, "vec_id", "embedding",
        k = 1).select($"query_id", $"cand_id")
      .as[(Long, Long)].collect().toMap
    val got1 = g.filter(_._4 == 1).map(e => e._1 -> e._2).toMap
    val hit = got1.count { case (q, c) => brute1(q) == c }
    assert(hit >= 100, s"rank-1 recall too low: $hit/150")
    intercept[IllegalArgumentException] {
      Similarity.knnGraph(df, "vec_id", "embedding", k = 0)
    }
  }

  test("ensembleNearDupPairs: clone gets 3 votes, sub-doc exactly contain+winnow, strangers absent") {
    // 30-token base docs from disjoint vocabularies; doc 2 = doc 1 minus
    // its first word (all three signals); doc 3 = doc 1's first 12 tokens
    // (containment + winnowing, Jaccard diluted); doc 4 unrelated.
    val base = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val clone = base.split(" ").drop(1).mkString(" ")
    val sub = base.split(" ").take(12).mkString(" ")
    val other = (1 to 30).map(i => s"omega$i").mkString(" ")
    val docs = Seq((1L, base), (2L, clone), (3L, sub), (4L, other))
      .toDF("doc_id", "text")
    val got = graft.llm.Dedup.ensembleNearDupPairs(docs, "doc_id", "text",
        minJaccard = 0.5, containPerMille = 800, minVotes = 2)
      .as[(Long, Long, Int, Int, Int, Int)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(got((1L, 2L)) == ((1, 1, 1, 3)), s"clone pair: $got")
    assert(got((1L, 3L)) == ((0, 1, 1, 2)), s"sub-doc pair: $got")
    assert(!got.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated doc must not pair")
    // minVotes = 3 keeps only the full-agreement clone pair
    val strict = graft.llm.Dedup.ensembleNearDupPairs(docs, "doc_id", "text",
        minJaccard = 0.5, containPerMille = 800, minVotes = 3)
      .as[(Long, Long, Int, Int, Int, Int)].collect()
    assert(strict.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    intercept[IllegalArgumentException] {
      graft.llm.Dedup.ensembleNearDupPairs(docs, "doc_id", "text",
        minJaccard = 0.5, minVotes = 0)
    }
  }

  test("sortedNeighborhoodPairs: exactly the window pairs, partition-independent") {
    // 40 docs keyed by a scrambled-but-deterministic string key
    val docs = Seq.tabulate(40)(i => (i.toLong, s"key${(i * 17) % 40}%03d"))
      .map { case (id, k) => (id, f"key${(id * 17) % 40}%03d") }
      .toDF("doc_id", "text")
    val window = 3
    val got = graft.llm.Dedup.sortedNeighborhoodPairs(
        docs, "doc_id", col("text"), window)
      .as[(Long, Long, Long)].collect().toSet
    // driver reference: rank by (key, id), pair every rank distance 1..w
    val ranked = Seq.tabulate(40)(i => (i.toLong, f"key${(i * 17) % 40}%03d"))
      .sortBy { case (id, k) => (k, id) }.map(_._1)
    val want = (for {
      a <- ranked.indices; d <- 1 to window
      if a + d < ranked.length
    } yield (ranked(a), ranked(a + d), d.toLong)).toSet
    assert(got == want)
    val again = graft.llm.Dedup.sortedNeighborhoodPairs(
        docs.repartition(11), "doc_id", col("text"), window)
      .as[(Long, Long, Long)].collect().toSet
    assert(again == got)
    // composition: clones that share a suffix sort adjacent and verify
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val pairCorpus = Seq((1L, "xxx " + base), (2L, base),
      (3L, (1 to 20).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val verified = graft.llm.Dedup.editDistanceVerify(
      graft.llm.Dedup.sortedNeighborhoodPairs(
        pairCorpus, "doc_id", expr("right(text, 30)"), 2),
      pairCorpus, "doc_id", "text", maxDist = 10)
      .as[(Long, Long, Int)].collect()
    // docs 1 and 2 share their 30-char suffix → equal key, tie to the
    // lower id: doc 1 ranks first; distance = len("xxx ") = 4
    assert(verified.toSeq.map(v => (v._1, v._2, v._3)) == Seq((1L, 2L, 4)),
      s"got ${verified.toSeq}")
    intercept[IllegalArgumentException] {
      graft.llm.Dedup.sortedNeighborhoodPairs(docs, "doc_id", col("text"), 0)
    }
  }

  test("compressionSignals: repetitive text compresses far below " +
       "diverse text, empty NULL, deterministic") {
    val diverse = (1 to 200).map(i => (i * 2654435761L % 100000)
      .toString).mkString(" ")
    val df = Seq(
      (1L, "spam " * 400),
      (2L, diverse),
      (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.compressionSignals(df, "doc_id", "text")
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(3L) == ((3L, None, None, None)))
    val spamRatio = got(1L)._4.get
    val divRatio = got(2L)._4.get
    assert(spamRatio < divRatio / 5,
      s"repetition must crush the ratio: spam=$spamRatio diverse=$divRatio")
    assert(divRatio > 200000L && divRatio < 1000000L,
      s"diverse prose ratio out of band: $divRatio")
    // deterministic across runs and partitionings
    val again = TextAnalysis.compressionSignals(df.repartition(3),
        "doc_id", "text")
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(again == got)
  }

  private implicit class Map2Ops(
      rows: Array[(Long, String, Long, Long)]) {
    def toMap2: Map[Long, (String, Long, Long)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  test("luhnCardCounts: valid test PANs pass, forgeries and wrong lengths don't") {
    import spark.implicits._
    val docs = Seq(
      (1L, "pay 4111111111111111 now"),            // valid Visa test PAN
      (2L, "fake 4111111111111112 here"),          // checksum off by one
      (3L, "4012888888881881 and 5500005555555559"), // two valid PANs
      (4L, "order 12345678901234567890 plus 123456789012"), // 20 & 12 digits
      (5L, "no digits at all"),
      (6L, "79927398713")                          // 11 digits: valid Luhn but too short
    ).toDF("doc_id", "text")
    val (nc, nv) = graft.llm.TextAnalysis.luhnCardCounts(col("text"))
    val got = docs.select(col("doc_id"), nc, nv)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L, 1L), (2L, 1L, 0L), (3L, 2L, 2L),
      (4L, 0L, 0L), (5L, 0L, 0L), (6L, 0L, 0L)), s"got $got")
    // plan hygiene: pure scan expressions — no shuffle, no UDF
    val p = docs.select(nc, nv).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("BatchEvalPython"),
      s"luhn must stay map-only:\n${p.take(400)}")
  }

  test("calinskiHarabaszMilli: hand two-cluster table, degenerate NULLs") {
    // A: (0,0),(0,.2)  B: (1,1),(1,.8) — micro lane: W_A = W_B = 20
    // (per-cluster milli), B_c = 820 each (means (0,.1)/(1,.9) vs
    // global (.5,.5): .25+.16 = .41 × m=2 → 820 milli)
    // CH = (1.64/1)/(0.04/2) = 82 → 82000 milli
    val df = Seq(
      ("a", Array(0.0f, 0.0f)), ("a", Array(0.0f, 0.2f)),
      ("b", Array(1.0f, 1.0f)), ("b", Array(1.0f, 0.8f)))
      .toDF("cluster", "vec")
    val r = Similarity.calinskiHarabaszMilli(df, "cluster", "vec")
      .as[(Long, Long, Long, Long, Option[Long])].collect().head
    assert(r == ((4L, 2L, 40L, 1640L, Some(82000L))), s"got $r")
    // one cluster → k < 2 → NULL
    val one = Seq(("a", Array(0.0f, 0.0f)), ("a", Array(1.0f, 1.0f)))
      .toDF("cluster", "vec")
    assert(Similarity.calinskiHarabaszMilli(one, "cluster", "vec")
      .as[(Long, Long, Long, Long, Option[Long])].collect().head._5.isEmpty)
    // every point its own cluster → n = k (and W = 0) → NULL
    val shatter = Seq(("a", Array(0.0f)), ("b", Array(1.0f)))
      .toDF("cluster", "vec")
    assert(Similarity.calinskiHarabaszMilli(shatter, "cluster", "vec")
      .as[(Long, Long, Long, Long, Option[Long])].collect().head._5.isEmpty)
  }

  test("calinskiHarabaszMilli: separation ranks k choices (the k-picker read)") {
    // same 4 points; the true-2-cluster split must beat a bad split
    // that pairs a near point with a far one
    val good = Seq(
      ("a", Array(0.0f, 0.0f)), ("a", Array(0.0f, 0.2f)),
      ("b", Array(1.0f, 1.0f)), ("b", Array(1.0f, 0.8f)))
      .toDF("cluster", "vec")
    val bad = Seq(
      ("a", Array(0.0f, 0.0f)), ("b", Array(0.0f, 0.2f)),
      ("b", Array(1.0f, 1.0f)), ("a", Array(1.0f, 0.8f)))
      .toDF("cluster", "vec")
    val g = Similarity.calinskiHarabaszMilli(good, "cluster", "vec")
      .as[(Long, Long, Long, Long, Option[Long])].collect().head._5.get
    val b = Similarity.calinskiHarabaszMilli(bad, "cluster", "vec")
      .as[(Long, Long, Long, Long, Option[Long])].collect().head._5.get
    assert(g > 10L * b, s"true split must dominate: $g vs $b")
  }

  test("simplifiedSilhouetteMilli: hand per-point floors, singleton=0, k<2 NULL") {
    // the CH hand table: per point a = 1e10, b ∈ {1.81e12, 1.49e12}
    // → s_milli 994/993/994/993, mean = 3974 div 4 = 993
    val df = Seq(
      (1L, "a", Array(0.0f, 0.0f)), (2L, "a", Array(0.0f, 0.2f)),
      (3L, "b", Array(1.0f, 1.0f)), (4L, "b", Array(1.0f, 0.8f)))
      .toDF("id", "cluster", "vec")
    val r = Similarity.simplifiedSilhouetteMilli(df, "id", "cluster", "vec")
      .as[(Long, Long, Option[Long])].collect().head
    assert(r == ((4L, 2L, Some(993L))), s"got $r")
    // singleton own cluster contributes s = 0 (the sklearn convention):
    // s = (0 + 995 + 993) div 3 = 662
    val single = Seq(
      (1L, "a", Array(0.0f, 0.0f)),
      (3L, "b", Array(1.0f, 1.0f)), (4L, "b", Array(1.0f, 0.8f)))
      .toDF("id", "cluster", "vec")
    assert(Similarity.simplifiedSilhouetteMilli(single, "id", "cluster", "vec")
      .as[(Long, Long, Option[Long])].collect().head
      == ((3L, 2L, Some(662L))))
    // one cluster → k < 2 → NULL
    val one = Seq((1L, "a", Array(0.0f)), (2L, "a", Array(1.0f)))
      .toDF("id", "cluster", "vec")
    assert(Similarity.simplifiedSilhouetteMilli(one, "id", "cluster", "vec")
      .as[(Long, Long, Option[Long])].collect().head._3.isEmpty)
  }

  test("simplifiedSilhouetteMilli: misassigned point goes negative") {
    // point 5 sits AT cluster b's heart but is labeled a → its own
    // distance dwarfs the b distance → s < 0 for it; the well-placed
    // points stay strongly positive
    val df = Seq(
      (1L, "a", Array(0.0f, 0.0f)), (2L, "a", Array(0.0f, 0.2f)),
      (3L, "b", Array(1.0f, 1.0f)), (4L, "b", Array(1.0f, 0.8f)),
      (5L, "a", Array(1.0f, 0.9f)))
      .toDF("id", "cluster", "vec")
    val all = Similarity.simplifiedSilhouetteMilli(df, "id", "cluster", "vec")
      .as[(Long, Long, Option[Long])].collect().head
    val clean = Similarity.simplifiedSilhouetteMilli(
        df.where($"id" =!= 5L), "id", "cluster", "vec")
      .as[(Long, Long, Option[Long])].collect().head
    assert(all._3.get < clean._3.get - 300L,
      s"misassignment must drag the mean: $all vs $clean")
  }
}

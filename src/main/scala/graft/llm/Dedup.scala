package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Pins

/** Document deduplication for training-data pipelines — exact and
  * near-duplicate (MinHash+LSH, SimHash, n-gram Jaccard). All builtin
  * expressions (codegen) + at most one shuffle per stage; no driver-side
  * collection anywhere, so every path survives a 1000-executor corpus.
  */
object Dedup {

  /** Exact dedup: one survivor (min id) per distinct content hash.
    * Hash-groupBy — partial aggregation map-side, one shuffle on the
    * 64-bit content hash. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = xxhash64(col(textCol))
    df.groupBy(fp.as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .join(df, Seq(idCol))
  }

  // -------------------------------------------------------------------
  // MinHash + LSH
  //
  // shingle → one xxhash64 → k per-seed rehashes xxhash64(h, i) → min
  // per (doc, i) = the k-wide signature; band into b groups of r = k/b
  // rows; docs sharing any band bucket are candidate pairs, verified by
  // exact signature agreement.
  //
  // Execution shape (the part that must survive 100 TB): explode to
  // (doc, shingle-hash) rows, then ONE groupBy(doc) with k min()
  // aggregates — partial aggregation collapses each doc map-side, so the
  // only shuffle carries k longs per doc. Banding multiplies rows by b
  // (small constant); the bucket self-join shuffles on (band, bucket).
  // Degenerate buckets are capped (skew guard).
  // -------------------------------------------------------------------

  /** (doc_id, sig array<long>) signatures: k min-hashes over word
    * n-gram shingles. */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int, ngram: Int = 2, seed: Int = 42): DataFrame =
    minHashSignaturesFromShingled(
      df.select(col(idCol).as("doc_id"),
        explode(TextShingles.wordNgrams(col(textCol), ngram)).as("shingle")),
      k, seed)

  /** Signature core over an exploded (doc_id, shingle) frame — shared by
    * the text path and the pre-shingled pipeline path. */
  private def minHashSignaturesFromShingled(shingled: DataFrame, k: Int,
                                            seed: Int): DataFrame = {
    val hashed = shingled
      .select(col("doc_id"), xxhash64(col("shingle"), lit(seed)).as("h"))
    val mins = (0 until k).map(i =>
      min(xxhash64(col("h"), lit(i))).as(s"m$i"))
    hashed.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Candidate near-dup pairs via MinHash banding, verified by signature
    * agreement ≥ `threshold`. Returns (id_a, id_b, sig_sim), id_a < id_b. */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 32, bands: Int = 8, ngram: Int = 2,
                        threshold: Double = 0.5, seed: Int = 42,
                        maxBucketSize: Int = 1000): DataFrame =
    minHashCandidatesFromShingled(
      df.select(col(idCol).as("doc_id"),
        explode(TextShingles.wordNgrams(col(textCol), ngram)).as("shingle")),
      k, bands, threshold, seed, maxBucketSize)

  /** [[minHashCandidates]] over a pre-shingled (doc_id, __grams) frame —
    * composed pipelines (CorpusPipeline) shingle the corpus ONCE and
    * share the frame between candidate generation and exact verify
    * instead of recomputing the n-gram split in both stages. */
  def minHashCandidatesFromGrams(grams: DataFrame,
                                 k: Int = 32, bands: Int = 8,
                                 threshold: Double = 0.5, seed: Int = 42,
                                 maxBucketSize: Int = 1000): DataFrame =
    minHashCandidatesFromShingled(
      grams.select(col("doc_id"), explode(col("__grams")).as("shingle")),
      k, bands, threshold, seed, maxBucketSize)

  private def minHashCandidatesFromShingled(shingled: DataFrame,
                                            k: Int, bands: Int,
                                            threshold: Double, seed: Int,
                                            maxBucketSize: Int): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    val sigd = minHashSignaturesFromShingled(shingled, k, seed)
      // persist (NOT localCheckpoint): the signature frame feeds the
      // banding AND both sides of the pair join — without pinning, the
      // explode+groupBy lineage recomputes three times. persist keeps
      // the lineage, so an executor loss recomputes instead of killing
      // the job (localCheckpoint blocks are unrecoverable).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // band rows carry ONLY (band, bucket, doc_id): shipping the k-long
    // signature array through the band-exploded shuffle would duplicate
    // it `bands` times; candidate pairs are few, so joining signatures
    // back afterwards moves far less data at corpus scale
    val banded = sigd.select(col("doc_id"),
      explode(array((0 until bands).map { bnd =>
        struct(lit(bnd).as("band"),
          xxhash64(slice(col("sig"), bnd * rows + 1, rows)).as("bucket"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // skew guard: drop degenerate buckets (boilerplate shingle sets).
    // groupBy + join, NOT count().over(Window.partitionBy(band, bucket)):
    // the guard exists precisely because degenerate buckets are huge, and
    // a window would pull the entire hot bucket into ONE task before the
    // filter could drop it — partial aggregation collapses it map-side
    // instead (round-4 verdict). `banded` is consumed by both the size
    // aggregate and the join, but it is a map-only explode over the
    // already-pinned signature frame, so the recompute is cheap.
    val keepBuckets = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucketSize)
    val sized = banded.join(keepBuckets, Seq("band", "bucket"))
      // both sides of the self-join read this frame — without pinning,
      // the bucket-size aggregate + join run twice. persist keeps
      // lineage (fault-tolerant), unlike localCheckpoint.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idPairs = sized.select(col("band"), col("bucket"), col("doc_id").as("id_a"))
      .join(sized.select(col("band"), col("bucket"), col("doc_id").as("id_b")),
            Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()   // a pair may share several bands
    // one signature-agreement score per pair (it is band-independent)
    val result = idPairs
      .join(sigd.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigd.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => x === y), m => m)).cast("double") / lit(k))
          .as("sig_sim"))
      .filter(col("sig_sim") >= threshold)
      // eagerly materialize the (small) candidate set so the signature /
      // bucket intermediates can be unpersisted before returning — a
      // long-lived session would otherwise accumulate their cached
      // blocks across pipeline invocations. Lineage is kept: a lost
      // result block recomputes from source.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count()
    sigd.unpersist(false)
    sized.unpersist(false)
    result
  }

  // -------------------------------------------------------------------
  // SimHash: 64-bit fingerprint where near-dups differ in few bits.
  // Bit j = sign of Σ_tokens (bit j of xxhash64(token) ? +1 : −1).
  // Candidate pairs: pigeonhole on 16-bit chunks (hamming ≤ 3 ⇒ ≥1 of 4
  // chunks equal), verified with bit_count(xor).
  // Same explode + groupBy shape as MinHash: one shuffle of 64 small
  // sums per doc, map-side combined.
  // -------------------------------------------------------------------

  /** (doc_id, sh long) SimHash fingerprints over whitespace tokens. */
  def simHashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = df.select(col(idCol).as("doc_id"),
      explode(TextShingles.words(col(textCol))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val votes = (0 until 64).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$j"))
    tokens.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(j =>
          when(col(s"v$j") > 0, lit(1L) * lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sh"))
  }

  /** 64-bit SimHash of a token-array column (single-expression form for
    * column-level composition; the frame-level [[simHashes]] is the fast
    * path for corpora). */
  def simHash(tokens: Column): Column = {
    val hashes = transform(tokens, t => xxhash64(t))
    val bits = (0 until 64).map { j =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L) * lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Near-dup pairs with Hamming distance ≤ maxDist (≤ 3 for the 4-chunk
    * pigeonhole to be exhaustive). */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole covers hamming <= 3")
    // the fingerprint frame feeds both sides of the chunk self-join;
    // pin it or the 64-sum groupBy recomputes twice (persist keeps
    // lineage — fault-tolerant, unlike localCheckpoint)
    val sh = simHashes(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunked = sh.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sh"), c * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
      }: _*)).as("ck"))
      .select(col("doc_id"), col("sh"),
              col("ck.chunk").as("chunk"), col("ck.key").as("key"))
    val a = chunked.select(col("chunk"), col("key"),
      col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = chunked.select(col("chunk"), col("key"),
      col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val result = a.join(b, Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
      .filter(col("hamming") <= maxDist)
      // see minHashCandidates: materialize the small pair set, release
      // the fingerprint cache before returning
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count()
    sh.unpersist(false)
    result
  }

  /** Connected components over a near-dup pair list (id_a, id_b) —
    * groups transitive duplicate chains (a≈b, b≈c ⇒ {a,b,c} one
    * cluster) so exactly one survivor per cluster can be kept.
    *
    * Iterative min-label propagation: each node adopts the smallest
    * label among itself and its neighbors until fixpoint — O(diameter)
    * rounds, each one join + one aggregate (all distributed; the driver
    * only sees the converged/changed counter). Returns (id, component)
    * where component = min id of the cluster.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
                          driverThreshold: Long = 1L << 20): DataFrame = {
    // ids keep their native type (works for long or string ids alike;
    // a cast here would crash under ANSI on non-numeric ids).
    // localCheckpoint: materialize ONCE — the pair list usually sits on
    // an expensive lineage (MinHash banding) that every propagation
    // round would otherwise recompute from scratch
    val edges = pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst").distinct()
      .localCheckpoint()
    // near-dup edge lists are a tiny fraction of the corpus (pairs that
    // SURVIVED LSH + verification): under the threshold an exact driver
    // union-find beats O(diameter) distributed rounds by a wide margin;
    // the distributed path remains for genuinely huge edge sets
    if (edges.count() <= driverThreshold) return unionFindLocal(edges)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // neighbor labels + own label → min per node
      val neighborComp = edges.join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("comp"))
      val next = labels.select(col("id"), col("comp"))
        .union(neighborComp)
        .groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint()   // cut the iterative lineage
      val changed = next.as("n")
        .join(labels.as("o"), Seq("id"))
        .filter(col("n.comp") =!= col("o.comp"))
        .count()
      labels = next
      converged = changed == 0
      i += 1
    }
    labels
  }

  /** Exact union-find over a collected edge list (≤ driverThreshold
    * edges — bounded memory), min element as component label. */
  private def unionFindLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val idType = edges.schema.head.dataType
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.collect().foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    // min element of each set as the canonical component label
    val minOf = scala.collection.mutable.HashMap.empty[Any, Any]
    implicit val ord: Ordering[Any] = new Ordering[Any] {
      def compare(x: Any, y: Any): Int = (x, y) match {
        case (a: Long, b: Long)     => java.lang.Long.compare(a, b)
        case (a: Int, b: Int)       => Integer.compare(a, b)
        case (a: String, b: String) => a.compareTo(b)
        case (a, b)                 => a.toString.compareTo(b.toString)
      }
    }
    parent.keys.foreach { x =>
      val r = find(x)
      minOf.get(r) match {
        case Some(m) if ord.compare(m, x) <= 0 => ()
        case _                                  => minOf(r) = x
      }
    }
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[org.apache.spark.sql.Row] =
      parent.keys.toSeq.map(x =>
        org.apache.spark.sql.Row(x, minOf(find(x)))).asJava
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("comp", idType))))
  }

  /** Cluster-level near-dup dedup: every transitive duplicate cluster
    * keeps its min-id member. Returns the ids to DROP. */
  def nearDupLosers(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id"))

  /** LEAKAGE-SAFE train/valid/test assignment: every member of a
    * near-dup cluster lands on the SAME side of the split. A per-doc
    * hash split leaks — a near-duplicate pair straddling train/test
    * inflates eval — so the split key is the cluster REPRESENTATIVE
    * (min-id component label from `pairs`; singletons represent
    * themselves), hashed through the same deterministic LCG keying as
    * [[graft.ops.Sampling.assignSplits]]. Output adds `rep` and
    * `split`; stable under reruns, resharding, and corpus appends that
    * don't change the cluster structure.
    *
    * Shape at 100 TB: components are bounded by the near-dup EDGE set
    * (ids only), the rep join is one id-keyed shuffle, and the split
    * itself is a map-only key filter. */
  def leakageSafeSplits(df: DataFrame, pairs: DataFrame, idCol: String,
                        splits: Seq[(String, Int)],
                        outCol: String = "split"): DataFrame = {
    for (c <- Seq("rep", outCol))
      require(!df.columns.contains(c),
        s"input frame already carries output column $c")
    val comp = connectedComponents(pairs)
      .select(col("id").as("__cc_id"), col("comp").as("__cc_comp"))
    val withRep = df
      .join(comp, col(idCol) === col("__cc_id"), "left")
      .withColumn("rep", coalesce(col("__cc_comp"), col(idCol)))
      .drop("__cc_id", "__cc_comp")
    graft.ops.Sampling.assignSplits(withRep,
      graft.ops.Sampling.lcgKey(col("rep")), splits, outCol)
  }

  /** ASYMMETRIC n-gram CONTAINMENT pairs: directional near-dup
    * detection — `doc_a` is flagged when ≥ `minContainPerMille`‰ of
    * its distinct n-grams also occur in `doc_b`. Catches what
    * symmetric Jaccard structurally cannot: a short document quoted
    * wholesale inside a long one has tiny Jaccard (the union is the
    * long doc) but containment ≈ 1. The classic use is dropping
    * sub-documents of retained pages (keep `doc_b`, drop `doc_a`).
    *
    * Threshold by cross-multiplication (1000·shared ≥ ‰·|A| — integer
    * exact); both ordered directions emit when both clear the bar.
    * Shape: the [[ngramJaccardPairs]] inverted-index join with the
    * same `maxDf` stop-gram cap — never all-pairs. */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            minContainPerMille: Int, ngram: Int = 2,
                            maxDf: Int = Int.MaxValue): DataFrame = {
    require(minContainPerMille >= 1 && minContainPerMille <= 1000,
      s"minContainPerMille must be in [1, 1000], got $minContainPerMille")
    // the winnowingOverlapPairs pin discipline (r13): the exploded
    // distinct gram frame feeds the df guard AND the capped frame; the
    // capped frame feeds sizes + both self-join sides — unpinned, each
    // consumer branch re-runs the explode+distinct shuffle (measured on
    // the winnowing sibling: 3 concurrent copies of the posting
    // exchange inside q117). Lazy persists — zero build-time jobs; the
    // session-lifetime pin is deliberate (see clusterPairKeep).
    val grams0 = docs.select(col(idCol).as("doc_id"),
        explode(TextShingles.wordNgrams(col(textCol), ngram)).as("gram"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams =
      if (maxDf == Int.MaxValue) grams0
      else {
        val df_ = grams0.groupBy("gram").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDf).select("gram")
        grams0.join(df_, Seq("gram"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    grams.as("a")
      .join(grams.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("n_grams", "grams_a"), "doc_a")
      .filter(lit(1000L) * col("n_shared") >=
        lit(minContainPerMille.toLong) * col("grams_a"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("grams_a"))
  }

  /** SNAPSHOT DIFF between two corpus versions — the incremental-
    * pipeline primitive that turns "re-run everything" into "process
    * what moved": each doc id classifies as added / removed / changed /
    * unchanged by content hash. Hashes ship instead of text (8 bytes a
    * row), one id-keyed full-outer join; null texts compare null-safely
    * (null ↔ null is unchanged). */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).cast("long").as("id"),
      xxhash64(col(textCol)).as("__ho"), lit(true).as("__po"))
    val n = newDf.select(col(idCol).cast("long").as("id"),
      xxhash64(col(textCol)).as("__hn"), lit(true).as("__pn"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__po").isNull, "added")
          .when(col("__pn").isNull, "removed")
          .when(col("__ho") <=> col("__hn"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Embedding near-dup: pairs above a cosine threshold via LSH buckets
    * + exact cosine verify. Pair-mode path — no top-k window (the
    * round-1 form paid a row_number shuffle+sort only to keep every
    * row). `deterministic=true` computes the verify cosine with exact
    * decimal sums (cross-engine bit-stable — the gate form). `bits = 0`
    * (default) derives the signature width from the corpus count
    * (Similarity.suggestLshBits); pass explicitly to pin fixtures. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       minCosine: Double, bits: Int = 0, bands: Int = 4,
                       deterministic: Boolean = false,
                       maxBucketSize: Int = 10000): DataFrame =
    Similarity.lshBucketPairs(df, idCol, vecCol, minCosine,
      bits = bits, bands = bands, deterministic = deterministic,
      maxBucketSize = maxBucketSize)

  /** Exact n-gram Jaccard verification of candidate pairs (id_a, id_b):
    * joins the texts back, intersects DISTINCT shingle sets per pair.
    * Candidates are few (post-LSH), so the array intersection is
    * map-side work after two hash joins — no all-pairs anything.
    * Returns (id_a, id_b, n_shared, jaccard) with `jaccard` an exact
    * DECIMAL(38,6) ratio surfaced as double (cross-engine stable). */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, minJaccard: Double,
                    ngram: Int = 2): DataFrame =
    jaccardVerifyGrams(pairs,
      docs.select(col(idCol).as("doc_id"),
        TextShingles.wordNgrams(col(textCol), ngram).as("__grams"),
        col(textCol).as("__text")),
      idCol, minJaccard)

  /** [[jaccardVerify]] over a pre-shingled (doc_id, __grams, __text)
    * frame — see [[minHashCandidatesFromGrams]]: pipelines shingle once. */
  def jaccardVerifyGrams(pairs: DataFrame, gramsF: DataFrame, idCol: String,
                         minJaccard: Double): DataFrame = {
    val g = gramsF.select(col("doc_id").as(idCol),
      array_distinct(col("__grams")).as("__grams"), col("__text"))
    val d6 = "decimal(18,6)"
    pairs
      .join(g.select(col(idCol).as("id_a"), col("__grams").as("__ga"),
                     col("__text").as("__ta")), "id_a")
      .join(g.select(col(idCol).as("id_b"), col("__grams").as("__gb"),
                     col("__text").as("__tb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__ga"), col("__gb"))).as("n_shared"),
        (size(col("__ga")) + size(col("__gb"))).as("__n_union0"),
        col("__ta"), col("__tb"))
      // J = |∩|/|∪| is 0/0 for two shingle-less (sub-ngram) texts — a
      // NULL that the filter would silently drop even for IDENTICAL
      // short duplicates; define the degenerate case by text equality
      .withColumn("jaccard",
        when(col("__n_union0") === 0,
          when(col("__ta") === col("__tb"), lit(1).cast("decimal(38,6)"))
            .otherwise(lit(0).cast("decimal(38,6)")))
        .otherwise(
          (col("n_shared").cast(d6) /
            (col("__n_union0") - col("n_shared")).cast(d6)).cast("decimal(38,6)")))
      .filter(col("jaccard") >= lit(minJaccard).cast("decimal(38,6)"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
              col("jaccard").cast("double").as("jaccard"))
  }

  /** Exact token-MULTISET equality verification of candidate pairs:
    * keeps pairs whose word multisets are identical (canonical key =
    * space-join of the sorted token array — bijective because tokens
    * contain no spaces). SimHash is a bag-of-tokens fingerprint, so a
    * multiset-equal pair provably has hamming 0 and is always recalled
    * by the chunk pigeonhole — which makes simHashPairs + this verify
    * an exactly-characterized (oracle-checkable) operator. */
  def multisetVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val keyed = docs.select(col(idCol),
      concat_ws(" ", sort_array(TextShingles.words(col(textCol)))).as("__k"))
    pairs
      .join(keyed.select(col(idCol).as("id_a"), col("__k").as("__ka")), "id_a")
      .join(keyed.select(col(idCol).as("id_b"), col("__k").as("__kb")), "id_b")
      .filter(col("__ka") === col("__kb"))
      .drop("__ka", "__kb")
  }

  /** Winnowing-fingerprint overlap pairs: documents sharing at least
    * `minShared` winnowed shingle fingerprints — the MOSS-style local
    * (substring-level) overlap detector: winnowing guarantees any shared
    * run of ~`window + ngram - 1` tokens leaves at least one common
    * fingerprint, at a sampled fraction of the full shingle set.
    *
    * Same inverted-index shape as [[ngramJaccardPairs]] — explode the
    * (already distinct) per-doc fingerprint set, drop fingerprints hotter
    * than `maxDf` (a boilerplate fingerprint shared by f docs contributes
    * f² join rows), self-join on the fingerprint, count shared. One
    * shuffle keyed by fingerprint; ids-only pair rows. `hashFn` selects
    * the shingle hash: xxhash64 (production default) or
    * [[TextAnalysis.md5Hash60]], which DuckDB can reproduce — the gate
    * (q71) uses the latter so the operator is hash-checked end to end,
    * with xxhash64/md5 path equivalence pinned in SketchOverlapSpec.
    *
    * `maxDf` defaults to a finite 1000: an uncapped run lets one
    * boilerplate fingerprint shared by f docs emit f² join rows — the
    * blow-up the cap exists to stop — so opting OUT of the guard
    * (maxDf = Int.MaxValue) must be explicit, never the silent
    * default. */
  def winnowingOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
                            minShared: Int, ngram: Int = 3, window: Int = 4,
                            maxDf: Int = 1000,
                            hashFn: Column => Column = xxhash64(_)): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    // pin the exploded fingerprint frame: it feeds the df guard and BOTH
    // sides of the self-join — unpinned, the winnowing pass (interpreted
    // window-min transform, the expensive part) recomputes up to 4×
    val fps0 = TextAnalysis
      .winnowingFingerprintsFrame(docs, idCol, textCol, ngram, window, hashFn)
      .select(col(idCol).as("doc_id"), explode(col("fingerprints")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fps =
      if (maxDf == Int.MaxValue) fps0
      else {
        val hot = fps0.groupBy("fp").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDf).select("fp")
        // pinned too: the CAPPED frame feeds sizes + both self-join
        // sides — unpinned, the df-guard groupBy + join re-run 3×
        // on top of the fps0 cache (ProfileOne r13: 3 × 76k-record
        // exchange jobs at ~1 s each inside q117)
        fps0.join(hot, Seq("fp"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fps"))
    val result = fps.as("a")
      .join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("n_fps", "fps_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("n_fps", "fps_b"), "doc_b")
      // materialize the (small) pair set, then release the fingerprint
      // blocks — same persist-then-release discipline as the MinHash
      // path; lineage is kept, a lost block recomputes from source
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count()
    fps0.unpersist(false)
    if (fps ne fps0) fps.unpersist(false)
    result
  }

  /** Train/test DECONTAMINATION: test documents sharing at least
    * `minShared` exact word n-grams with a training document — the
    * eval-set leakage check every serious pre-training pipeline runs
    * before reporting benchmark numbers (n-gram containment, the
    * GPT-3/PaLM-style recipe).
    *
    * Same inverted-index discipline as [[ngramJaccardPairs]]: distinct
    * (doc, gram) per side, grams hotter than `maxDf` ON THE TRAIN SIDE
    * dropped from both sides (a boilerplate gram in f train docs × g
    * test docs contributes f·g join rows), join keyed on the gram,
    * ids-only aggregation. One shuffle on the gram key; never all-pairs.
    * Exact within the capped gram space — and n-grams are plain strings,
    * so the whole check is oracle-verifiable (gate q74). */
  def crossCorpusContamination(train: DataFrame, test: DataFrame,
                               idCol: String, textCol: String,
                               ngram: Int = 5, minShared: Int = 1,
                               maxDf: Int = Int.MaxValue): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    def grams(df: DataFrame, as: String) =
      df.select(col(idCol).as(as),
          explode(TextShingles.wordNgrams(col(textCol), ngram)).as("gram"))
        .distinct()
    val tr0 = grams(train, "train_id")
    def pairsOf(tr: DataFrame, te: DataFrame) =
      te.join(tr, Seq("gram"))
        .groupBy(col("test_id"), col("train_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
    if (maxDf == Int.MaxValue) pairsOf(tr0, grams(test, "test_id"))
    else {
      // pin: the train gram frame feeds the df guard AND the join —
      // unpinned, the explode+distinct shuffle recomputes. Same
      // persist-then-release discipline as the MinHash path: the (small)
      // pair set materializes eagerly so the gram blocks can go.
      val pinned = tr0.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val keep = pinned.groupBy("gram").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select("gram")
      val result = pairsOf(pinned.join(keep, Seq("gram")),
          grams(test, "test_id").join(keep, Seq("gram")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      result.count()
      pinned.unpersist(false)
      result
    }
  }

  /** [[crossCorpusContamination]] with a Bloom pre-filter on the TRAIN
    * gram stream — the asymmetry a real decontamination run has: the
    * train corpus is the 100 TB side, the eval suite is bounded. The
    * test corpus's distinct grams build one small sketch
    * (distributed-built, ~bytes per thousand grams); every train gram
    * probes it AT THE SCAN STAGE, so grams that cannot match any test
    * gram — virtually all of them — drop before the gram join's
    * shuffle. The exact join then removes the sketch's false
    * positives: the result is IDENTICAL to
    * [[crossCorpusContamination]] (spec-pinned), only the shuffled
    * volume changes — test-gram-bounded instead of train-sized.
    * Same contract as [[graft.ops.BloomPrune.semiJoinPruned]] (q53),
    * applied to the decontamination join. */
  def decontaminateBloom(train: DataFrame, test: DataFrame,
                         idCol: String, textCol: String,
                         ngram: Int = 5, minShared: Int = 1,
                         expectedItems: Long = 1L << 20,
                         numBits: Long = 1L << 23): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    def grams(df: DataFrame, as: String) =
      df.select(col(idCol).as(as),
          explode(TextShingles.wordNgrams(col(textCol), ngram)).as("gram"))
        .distinct()
    // the test gram frame feeds the sketch build AND the join — pinned
    // (persist-then-release, the crossCorpusContamination discipline)
    val te = grams(test, "test_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom = graft.ops.BloomPrune.bloomBytes(
      te.select(col("gram")).distinct(), "gram", expectedItems, numBits)
    val tr = grams(train, "train_id")
      .filter(graft.ops.BloomPrune.mightContain(bloom, col("gram")))
    val out = te.join(tr, Seq("gram"))
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    te.unpersist(false)
    out
  }

  /** SEQUENCE-level train/test decontamination: test documents sharing
    * at least `minShared` winnowing fingerprints with a training
    * document — [[crossCorpusContamination]]'s exact-n-gram containment
    * composed with [[winnowingOverlapPairs]]'s sampled run detector.
    *
    * Why it exists: exact n-gram containment misses a leak after light
    * paraphrase or whitespace drift (one changed word kills every
    * n-gram crossing it). Winnowing guarantees any UNBROKEN shared run
    * of ≥ `window + ngram - 1` tokens still leaves a common
    * fingerprint, so an edited leak decomposes into clean sub-runs that
    * each contribute fingerprints — a mutated copy keeps flagging
    * (spec-pinned: a mid-run word swap defeats 12-gram containment but
    * not this check).
    *
    * Shape: winnow both corpora (map-only, sampled fingerprint sets),
    * cap fingerprints hotter than `maxDf` ON THE TRAIN SIDE and drop
    * them from both sides (a boilerplate fingerprint in f train × g
    * test docs contributes f·g join rows), join keyed on the
    * fingerprint, ids-only aggregation. One shuffle on the fingerprint
    * key; never all-pairs. `hashFn` as in [[winnowingOverlapPairs]]:
    * xxhash64 production, [[TextAnalysis.md5Hash60]] for the
    * oracle-checked gate (q81). */
  def sequenceDecontamination(train: DataFrame, test: DataFrame,
                              idCol: String, textCol: String,
                              minShared: Int = 1, ngram: Int = 3,
                              window: Int = 4, maxDf: Int = 1000,
                              hashFn: Column => Column = xxhash64(_))
      : DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    def fps(df: DataFrame, as: String) = TextAnalysis
      .winnowingFingerprintsFrame(df, idCol, textCol, ngram, window, hashFn)
      .select(col(idCol).as(as), explode(col("fingerprints")).as("fp"))
    // pin: the train fingerprint frame feeds the df guard AND the join —
    // unpinned, the winnowing pass recomputes; persist-then-release as
    // in the MinHash path
    val tr0 = fps(train, "train_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keep = tr0.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("fp")
    val result = fps(test, "test_id").join(keep, Seq("fp"))
      .join(tr0, Seq("fp"))
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count()
    tr0.unpersist(false)
    result
  }

  /** Persist a winnowing-fingerprint index of the TRAIN corpus for
    * [[sequenceDecontaminationIndexed]] — the "build once, probe many"
    * shape (same pattern as Similarity.buildIvfIndex): the train corpus
    * is huge and static, eval/test sets arrive repeatedly, so the
    * expensive side (tokenize + winnow + df cap over the full training
    * data) should be paid once and stored as a capped posting list.
    * Writes `prefix.fps` (train_id, fp — already df-capped) and
    * `prefix.meta` (ngram, window, maxDf, hash label) so a probe with
    * mismatched parameters fails loudly instead of silently finding
    * nothing. */
  def buildDecontamIndex(store: graft.io.TableStore, prefix: String,
                         train: DataFrame, idCol: String, textCol: String,
                         ngram: Int = 3, window: Int = 4, maxDf: Int = 1000,
                         hashFn: Column => Column = xxhash64(_),
                         hashLabel: String = "xxhash64"): Unit = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val fps = TextAnalysis
      .winnowingFingerprintsFrame(train, idCol, textCol, ngram, window, hashFn)
      .select(col(idCol).as("train_id"), explode(col("fingerprints")).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("fp")
    store.overwrite(s"$prefix.fps", fps.join(keep, Seq("fp")))
    fps.unpersist(false)
    val spark = train.sparkSession
    import spark.implicits._
    store.overwrite(s"$prefix.meta",
      Seq((ngram, window, maxDf, hashLabel))
        .toDF("ngram", "window", "max_df", "hash"))
  }

  /** [[sequenceDecontamination]] against a persisted train index: only
    * the (small, changing) test side winnows; the join reads the stored
    * capped posting list. `hashFn`/`hashLabel` must match the build —
    * validated against `prefix.meta`. */
  def sequenceDecontaminationIndexed(store: graft.io.TableStore, prefix: String,
                                     test: DataFrame, idCol: String,
                                     textCol: String, minShared: Int = 1,
                                     hashFn: Column => Column = xxhash64(_),
                                     hashLabel: String = "xxhash64")
      : DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val meta = store.read(s"$prefix.meta").head()
    val (ngram, window) = (meta.getAs[Int]("ngram"), meta.getAs[Int]("window"))
    val builtHash = meta.getAs[String]("hash")
    require(builtHash == hashLabel,
      s"index $prefix was built with hash=$builtHash, probe uses $hashLabel")
    val te = TextAnalysis
      .winnowingFingerprintsFrame(test, idCol, textCol, ngram, window, hashFn)
      .select(col(idCol).as("test_id"), explode(col("fingerprints")).as("fp"))
    te.join(store.read(s"$prefix.fps"), Seq("fp"))
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-test-document contamination summary over
    * [[crossCorpusContamination]] pairs: how many train docs a test doc
    * leaks against, its worst single-source overlap, and total shared
    * grams — the columns an eval-set filter actually thresholds on. */
  def contaminationReport(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("test_id"))
      .agg(count(lit(1)).as("n_train_docs"),
           max(col("n_shared")).as("max_shared"),
           sum(col("n_shared")).as("total_shared"))

  /** N-gram Jaccard near-dup pairs via an inverted-index (posting-list)
    * self-join with a document-frequency cap: grams appearing in more
    * than `maxDf` documents are dropped from BOTH the size and the join
    * side (stop-gram removal — a boilerplate gram shared by f docs
    * would otherwise contribute f² join rows and dominate a partition
    * at corpus scale; same idea as the MinHash `maxBucketSize` guard).
    * Exact within the capped gram space; one shuffle on the gram key. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        minJaccard: Double, ngram: Int = 2,
                        maxDf: Int = Int.MaxValue): DataFrame = {
    // same pin discipline as [[ngramContainmentPairs]] (multi-consumer
    // gram frames; lazy, deliberate session-lifetime pin)
    val grams0 = docs.select(col(idCol).as("doc_id"),
        explode(TextShingles.wordNgrams(col(textCol), ngram)).as("gram"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams =
      if (maxDf == Int.MaxValue) grams0
      else {
        val df_ = grams0.groupBy("gram").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDf).select("gram")
        grams0.join(df_, Seq("gram"))  // keep only sub-cap grams
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val d6 = "decimal(18,6)"
    grams.as("a")
      .join(grams.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("n_grams", "grams_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("n_grams", "grams_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared").cast(d6) /
         (col("grams_a") + col("grams_b") - col("n_shared")).cast(d6))
          .cast("decimal(38,6)").as("jaccard"))
      .filter(col("jaccard") > lit(minJaccard).cast("decimal(38,6)"))
  }

  /** PREFIX-FILTERED n-gram Jaccard self-join (the PPJoin/All-Pairs
    * prefix principle): identical output to [[ngramJaccardPairs]] with
    * NO df cap and no recall loss, but the inverted index holds only
    * each document's PREFIX — its rarest `|d| − ceil(t·|d|) + 1` grams
    * under the global (df, gram) order — instead of all of them.
    *
    * Why it is lossless: two docs with Jaccard > t share ≥ ceil(t·
    * max(|a|,|b|)) grams, so under ANY global token order each must
    * carry at least one shared gram inside that prefix (pigeonhole:
    * skipping ceil(t·|d|) − 1 grams cannot skip every shared one) — the
    * candidate join on prefix grams alone finds every qualifying pair,
    * and the exact verify recomputes Jaccard over FULL gram sets.
    * The threshold is floored to per-mille (t′ = ⌊t·1000⌋/1000 ≤ t) so
    * the prefix length is computed in exact integer arithmetic and only
    * ever errs LONGER (more candidates, never fewer).
    *
    * This is the scale alternative to `maxDf` stop-gram capping: the
    * cap changes semantics (capped grams vanish from sizes too); the
    * prefix filter keeps exact semantics while shrinking the posting
    * lists by the factor (1 − t) — at t = 0.8 the index joins on 20% of
    * the grams, and a boilerplate gram ranks LAST in every doc's
    * (df, gram) order, so hot grams systematically fall out of
    * prefixes. One extra df-count shuffle + a per-DOC rank window
    * (state bounded by one document's gram set) buy it.
    *
    * Output: (doc_a, doc_b, n_shared, jaccard DECIMAL(38,6)) with
    * jaccard > minJaccard — byte-identical to [[ngramJaccardPairs]]
    * (uncapped) by construction. */
  def ngramJaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                              minJaccard: Double, ngram: Int = 2): DataFrame = {
    // lower bound 0.001, not a clamp: flooring t to per-mille must only
    // ever round DOWN (longer prefix, more candidates). A clamp up to
    // 1‰ for t < 0.001 would SHORTEN the prefix below what the
    // pigeonhole argument needs, silently losing recall.
    require(minJaccard >= 0.001 && minJaccard < 1.0,
      s"minJaccard must be in [0.001, 1) for prefix filtering, got $minJaccard")
    val tPm = math.floor(minJaccard * 1000).toLong
    val grams = docs.select(col(idCol).as("doc_id"),
        explode(TextShingles.wordNgrams(col(textCol), ngram)).as("gram"))
      .distinct()
    val dfCounts = grams.groupBy("gram").agg(count(lit(1)).as("__df"))
    val ranked = grams.join(dfCounts, Seq("gram"))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("__df").asc, col("gram").asc)))
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    // prefix length: n − ceil(t′·n) + 1, ceil in integer per-mille
    val prefix = ranked.join(sizes, Seq("doc_id"))
      .filter(col("__rk") <=
        col("n_grams") - expr(s"($tPm * n_grams + 999) div 1000") + 1)
      .select(col("doc_id"), col("gram"))
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verify over FULL gram sets: candidate pairs are few, and
    // the (doc_b, gram) semi join keeps only genuinely shared grams
    val shared = cands
      .join(grams.select(col("doc_id").as("doc_a"), col("gram")), Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("gram")),
        Seq("doc_b", "gram"), "left_semi")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    val d6 = "decimal(18,6)"
    shared
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("n_grams", "grams_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("n_grams", "grams_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared").cast(d6) /
         (col("grams_a") + col("grams_b") - col("n_shared")).cast(d6))
          .cast("decimal(38,6)").as("jaccard"))
      .filter(col("jaccard") > lit(minJaccard).cast("decimal(38,6)"))
  }

  /** ENSEMBLE near-dup vote — precision through signal agreement: three
    * independent near-dup detectors (distinct-n-gram Jaccard, asymmetric
    * n-gram containment, winnowing fingerprint overlap) each nominate
    * pairs, and only pairs with ≥ `minVotes` signals survive. The
    * signals fail differently — Jaccard misses a short doc quoted in a
    * long one (containment's case), containment over-fires on
    * boilerplate frames (Jaccard's denominator punishes them), winnowing
    * alone sees substring RUNS through light edits — so agreement is a
    * real precision gate, the aggressive-vs-conservative dedup knob a
    * curation pipeline exposes.
    *
    * Output: (doc_a, doc_b, vote_jaccard, vote_contain, vote_winnow,
    * n_votes) with doc_a < doc_b (containment's ordered directions
    * canonicalize; either direction counts as the one containment vote).
    *
    * Scale shape: three df-capped inverted-index joins over the corpus —
    * each bounded exactly as its standalone operator — then one groupBy
    * over the (small) union of nominated pairs. Never all-pairs; `maxDf`
    * caps every signal's hot-key blowup. */
  def ensembleNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                           minJaccard: Double, jaccardNgram: Int = 2,
                           containPerMille: Int = 800, containNgram: Int = 3,
                           winnowMinShared: Int = 2, winnowNgram: Int = 3,
                           winnowWindow: Int = 4,
                           maxDf: Int = 1000, winnowMaxDf: Int = 50,
                           minVotes: Int = 2,
                           hashFn: Column => Column = xxhash64(_)): DataFrame = {
    require(minVotes >= 1 && minVotes <= 3,
      s"minVotes must be in [1, 3], got $minVotes")
    // the corpus frame (often a computed lineage — q152 unions three
    // text transforms) feeds all three signal operators; pinned, its
    // scan+transform work runs once instead of once per signal. Lazy,
    // deliberate session-lifetime pin (see clusterPairKeep).
    val corpus = docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val jac = ngramJaccardPairs(corpus, idCol, textCol, minJaccard,
        jaccardNgram, maxDf)
      .select(col("doc_a"), col("doc_b"), lit("jac").as("sig"))
    val con = ngramContainmentPairs(corpus, idCol, textCol, containPerMille,
        containNgram, maxDf)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        lit("con").as("sig"))
      .distinct()
    val win = winnowingOverlapPairs(corpus, idCol, textCol, winnowMinShared,
        winnowNgram, winnowWindow, winnowMaxDf, hashFn)
      .select(col("doc_a"), col("doc_b"), lit("win").as("sig"))
    def vote(sig: String) =
      max(when(col("sig") === sig, 1).otherwise(0)).cast("int")
    jac.unionByName(con).unionByName(win)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(vote("jac").as("vote_jaccard"),
        vote("con").as("vote_contain"),
        vote("win").as("vote_winnow"))
      .withColumn("n_votes",
        (col("vote_jaccard") + col("vote_contain") + col("vote_winnow"))
          .cast("int"))
      .filter(col("n_votes") >= minVotes)
  }

  // -------------------------------------------------------------------
  // Incremental exact dedup — the continuous-ingest shape of [[exact]]:
  // the accumulated corpus is represented by its (content_hash, doc_id)
  // index in a store table, each incoming batch anti-joins it, and the
  // index grows by the batch's novel hashes. Build once, probe many —
  // the same contract as the decontamination index (q85), completing
  // the pair: substring-level (winnowing postings) and document-level
  // (content hashes) both probe persisted state.
  // -------------------------------------------------------------------

  /** (Re)build the exact-dedup index for `prefix`: one row per distinct
    * content hash with its min-id survivor. Index size ∝ DISTINCT
    * documents, not corpus bytes. */
  def buildExactIndex(store: graft.io.TableStore, prefix: String,
                      corpus: DataFrame, idCol: String, textCol: String): Unit =
    store.overwrite(s"$prefix.hashes",
      corpus.groupBy(xxhash64(col(textCol)).as("content_hash"))
        .agg(min(col(idCol)).as("survivor_id")))

  /** The batch rows whose content is NOT already in the index, deduped
    * within the batch too (min id per content survives — a batch that
    * repeats itself must not pass wholesale). Anti join on the 8-byte
    * hash: the index side ships no text, so the probe moves hashes,
    * never documents. Same collision stance as [[exact]]: xxhash64 over
    * full content (collision odds ≪ data-corruption odds; callers
    * needing certainty re-verify text equality on the survivor join). */
  def dedupAgainstIndex(store: graft.io.TableStore, prefix: String,
                        batch: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    require(!batch.columns.contains("content_hash"),
      "batch frame already carries the helper column content_hash")
    val indexed = store.read(s"$prefix.hashes").select("content_hash")
    val hashed = batch.withColumn("content_hash", xxhash64(col(textCol)))
    val firstInBatch = hashed
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("__first_id"))
    hashed
      .join(firstInBatch,
        hashed("content_hash") === firstInBatch("content_hash") &&
          col(idCol) === col("__first_id"))
      .drop(firstInBatch("content_hash")).drop("__first_id")
      .join(indexed, Seq("content_hash"), "left_anti")
      .drop("content_hash")
  }

  /** Admit a batch: return its novel rows AND grow the index by their
    * hashes (append-only — existing survivors never change). The novel
    * frame is CHECKPOINTED before the append: its lineage reads the
    * pre-append index, and a later action on a merely-cached (or
    * uncached) frame would recompute against the mutated table and
    * silently return nothing. Reliable checkpoint when a checkpoint
    * dir is configured, executor-local otherwise (the globalRowNumber
    * convention). */
  def updateExactIndex(store: graft.io.TableStore, prefix: String,
                       batch: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val novel0 = dedupAgainstIndex(store, prefix, batch, idCol, textCol)
    val novel = Pins.cut(novel0)
    store.append(s"$prefix.hashes",
      novel.select(xxhash64(col(textCol)).as("content_hash"),
        col(idCol).as("survivor_id")))
    novel
  }

  // -------------------------------------------------------------------
  // Incremental FUZZY dedup: continuous-ingest near-dup filtering
  // against a persisted MinHash-LSH index. The accumulated corpus is
  // represented by its signatures + band keys (8-byte rows — no text
  // ships at probe time); each arriving batch computes signatures only
  // for ITSELF, band-joins the stored keys for candidates, verifies by
  // signature agreement, and drops within-batch near-dups keep-first.
  // Completes the build-once/probe-many family next to the exact-hash
  // index ([[buildExactIndex]]) and the decontamination index
  // ([[buildDecontamIndex]]).
  // -------------------------------------------------------------------

  /** (doc_id, band, bucket) band keys of a signature frame — the same
    * banding math as [[minHashCandidates]] (bucket = xxhash64 of the
    * band's signature slice), shared by the batch path and the index. */
  private def bandRowsOf(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    sig.select(col("doc_id"),
      explode(array((0 until bands).map { bnd =>
        struct(lit(bnd).as("band"),
          xxhash64(slice(col("sig"), bnd * rows + 1, rows)).as("bucket"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  /** MinHash signature-agreement of two equal-length signature arrays
    * — the verify score of [[minHashCandidates]], factored for the
    * index probe. */
  private def sigAgreement(a: Column, b: Column, k: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), m => m))
      .cast("double") / lit(k)

  /** Build the persisted fuzzy index over the accumulated corpus:
    * `prefix.sigs` (doc_id, sig), `prefix.bands` (doc_id, band,
    * bucket — hot buckets over `maxBucketSize` dropped at build so a
    * boilerplate bucket can't blow up every future probe), and
    * `prefix.meta` pinning (k, bands, ngram, seed, threshold params)
    * so a probe with mismatched hashing fails loudly. Banding reads
    * the STORED signature table — one signature computation, and the
    * band lineage is a parquet scan, not a recompute. */
  def buildFuzzyIndex(store: graft.io.TableStore, prefix: String,
                      corpus: DataFrame, idCol: String, textCol: String,
                      k: Int = 32, bands: Int = 8, ngram: Int = 2,
                      seed: Int = 42, maxBucketSize: Int = 1000): Unit = {
    require(k % bands == 0, "k must divide into bands")
    require(maxBucketSize >= 1, s"maxBucketSize must be >= 1, got $maxBucketSize")
    store.overwrite(s"$prefix.sigs",
      minHashSignatures(corpus, idCol, textCol, k, ngram, seed))
    val banded = bandRowsOf(store.read(s"$prefix.sigs"), k, bands)
    val keep = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBucketSize)
      .select("band", "bucket")
    store.overwrite(s"$prefix.bands", banded.join(keep, Seq("band", "bucket")))
    val spark = corpus.sparkSession
    import spark.implicits._
    store.overwrite(s"$prefix.meta",
      Seq((k, bands, ngram, seed, maxBucketSize))
        .toDF("k", "bands", "ngram", "seed", "max_bucket_size"))
  }

  /** The batch rows that are near-dups of NEITHER the indexed corpus
    * nor a lower-id row of the same batch (keep-first, the
    * [[dedupAgainstIndex]] stance at signature granularity). Probe
    * cost scales with the BATCH: batch-side signatures + a band-key
    * join against the stored postings + signature-agreement verify on
    * the candidate pairs only. `threshold` is the verify floor on
    * signature agreement (≈ Jaccard for MinHash). */
  def dedupFuzzyAgainstIndex(store: graft.io.TableStore, prefix: String,
                             batch: DataFrame, idCol: String, textCol: String,
                             threshold: Double = 0.5): DataFrame = {
    val meta = store.read(s"$prefix.meta").head()
    val (k, bands) = (meta.getAs[Int]("k"), meta.getAs[Int]("bands"))
    val (ngram, seed) = (meta.getAs[Int]("ngram"), meta.getAs[Int]("seed"))
    val maxBucketSize = meta.getAs[Int]("max_bucket_size")
    val sig = minHashSignatures(batch, idCol, textCol, k, ngram, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus near-dups: band-key join against the stored postings,
    // verified by signature agreement on the candidate pairs only
    val cand = bandRowsOf(sig, k, bands)
      .join(store.read(s"$prefix.bands")
        .select(col("doc_id").as("__corpus_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("doc_id"), col("__corpus_id")).distinct()
    val corpusDups = cand
      .join(sig.select(col("doc_id"), col("sig")), Seq("doc_id"))
      .join(store.read(s"$prefix.sigs")
        .select(col("doc_id").as("__corpus_id"), col("sig").as("__csig")),
        Seq("__corpus_id"))
      .filter(sigAgreement(col("sig"), col("__csig"), k) >= threshold)
      .select(col("doc_id")).distinct()
    // within-batch near-dups keep-first: the standard pair path over
    // the batch alone (batch-sized, not corpus-sized)
    val batchLosers = minHashCandidates(batch, idCol, textCol, k, bands,
        ngram, threshold, seed, maxBucketSize)
      .select(col("id_b").as("doc_id")).distinct()
    val out = batch
      .join(corpusDups.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
      .join(batchLosers.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
    out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
    sig.unpersist(false)
    out
  }

  /** Admit a batch: return its novel rows AND grow the index by their
    * signatures and band keys (append-only). Same checkpoint contract
    * as [[updateExactIndex]]: the novel frame's lineage reads the
    * PRE-append tables, so it is pinned before the append — a
    * re-action afterwards must not recompute against the grown index. */
  def updateFuzzyIndex(store: graft.io.TableStore, prefix: String,
                       batch: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.5): DataFrame = {
    val novel0 = dedupFuzzyAgainstIndex(store, prefix, batch, idCol,
      textCol, threshold)
    val novel = Pins.cut(novel0)
    val meta = store.read(s"$prefix.meta").head()
    val (k, bands) = (meta.getAs[Int]("k"), meta.getAs[Int]("bands"))
    val (ngram, seed) = (meta.getAs[Int]("ngram"), meta.getAs[Int]("seed"))
    val sig = minHashSignatures(novel, idCol, textCol, k, ngram, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    store.append(s"$prefix.sigs", sig)
    store.append(s"$prefix.bands", bandRowsOf(sig, k, bands))
    sig.unpersist(false)
    novel
  }

  // -------------------------------------------------------------------
  // Paragraph-level (sub-document) dedup — the C4/RefinedWeb cleaning
  // step: a boilerplate paragraph repeated across the corpus (headers,
  // navigation, license blocks) is removed from every document while the
  // documents themselves survive. Finer-grained than [[exact]] (whole
  // docs) and cheaper than near-dup pairing: one shuffle on the
  // paragraph hash, one on the doc id to reassemble.
  // -------------------------------------------------------------------

  /** Split `textCol` on `sepRegex` into 0-based paragraph instances —
    * the (doc_id, pos, para) frame the dedup core consumes. Map-only
    * (explode inside the scan stage). Callers with structural splits
    * (fixed token windows, sentence segmentation) build the instance
    * frame themselves and skip this. */
  def splitParagraphs(df: DataFrame, idCol: String, textCol: String,
                      sepRegex: String = "\n{2,}"): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), sepRegex)).as(Seq("pos", "para")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("para"))

  /** Corpus-wide paragraph dedup over a (doc_id, pos, para) instance
    * frame. Paragraphs shorter than `minLen` characters are exempt
    * (always kept) — short connectives dedup to nonsense and C4-style
    * pipelines only target substantial boilerplate. Among duplicate
    * groups, `keepFirst = true` keeps exactly the instance with the
    * smallest (doc_id, pos) (first occurrence in corpus order);
    * `keepFirst = false` drops EVERY instance whose paragraph occurs
    * more than once (the stricter C4 rule).
    *
    * Shape at 100 TB: groupBy on the paragraph value (hash-partitioned,
    * map-side partial min/count — a boilerplate paragraph with f
    * instances collapses to one row per map task before the shuffle,
    * so hot paragraphs de-skew for free), then an ids-only join back.
    * No windows, no collects. */
  def dedupParagraphInstances(paras: DataFrame, keepFirst: Boolean = true,
                              minLen: Int = 1): DataFrame = {
    val exempt = paras.filter(length(col("para")) < minLen)
    val cand = paras.filter(length(col("para")) >= minLen)
    val kept =
      if (keepFirst)
        // the min-(doc_id, pos) instance IS the survivor row — no join
        // back needed; struct min is one map-side-partial aggregate
        cand.groupBy(col("para"))
          .agg(min(struct(col("doc_id"), col("pos"))).as("m"))
          .select(col("m.doc_id").as("doc_id"), col("m.pos").as("pos"),
            col("para"))
      else
        cand.join(
          cand.groupBy(col("para")).agg(count(lit(1)).as("__n"))
            .filter(col("__n") === 1).select("para"),
          Seq("para"))
          .select(col("doc_id"), col("pos"), col("para"))
    kept.unionByName(exempt)
  }

  /** CCNet-style BOILERPLATE removal over a (doc_id, pos, para)
    * instance frame: drop EVERY instance of a paragraph/line that
    * occurs in MORE THAN `maxDf` distinct documents (navigation bars,
    * cookie banners, "all rights reserved" footers), keep everything
    * else — including legitimate repeats within the threshold. The
    * third policy next to [[dedupParagraphInstances]]'s keep-first
    * (dedup to one instance) and drop-all-duplicates (strict C4):
    * boilerplate is defined by DOCUMENT FREQUENCY, not by being
    * duplicated at all — a quote shared by three docs survives
    * maxDf=10 where a footer on ten thousand dies.
    *
    * `hashKeys = true` (production default) keys the df count and the
    * drop join on `xxhash64(para)` so the shuffle ships 8-byte keys
    * instead of paragraph text — the [[repeatedSpanStarts]] stance; a
    * collision over-drops one paragraph at ~2⁻⁶⁴ odds. Gates pass
    * `false` for bit-exact DuckDB parity.
    *
    * Shape at 100 TB: one map-side-partial distinct-doc count on the
    * paragraph key (a hot footer collapses per map task before the
    * shuffle — boilerplate de-skews itself), then an ids-only anti
    * join. No windows, no collects. */
  def boilerplateParagraphInstances(paras: DataFrame, maxDf: Long,
                                    hashKeys: Boolean = true): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val key = if (hashKeys) xxhash64(col("para")) else col("para")
    val hot = paras.select(key.as("__k"), col("doc_id"))
      .groupBy(col("__k"))
      .agg(count_distinct(col("doc_id")).as("__df"))
      .filter(col("__df") > maxDf)
      .select("__k")
    paras.withColumn("__k", key)
      .join(hot, Seq("__k"), "left_anti")
      .select(col("doc_id"), col("pos"), col("para"))
  }

  /** Whole-document boilerplate removal: split on the LITERAL `sep`,
    * drop lines by [[boilerplateParagraphInstances]]'s df > `maxDf`
    * rule, reassemble survivors in original order. Returns
    * (doc_id, text_clean, n_kept, n_dropped); documents whose every
    * line was boilerplate are absent (the [[reassembleParagraphs]]
    * contract — callers wanting every id left-join this result). */
  def removeBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                        sep: String, maxDf: Long,
                        hashKeys: Boolean = true): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    val paras = splitParagraphs(docs, idCol, textCol, quoted)
    val kept = boilerplateParagraphInstances(paras, maxDf, hashKeys)
    val rebuilt = reassembleParagraphs(kept, sep)
      .withColumnRenamed("text", "text_clean")
    val counts = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept"))
    val totals = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), quoted)).cast("long").as("__n_lines"))
    rebuilt.join(counts, Seq("doc_id")).join(totals, Seq("doc_id"))
      .select(col("doc_id"), col("text_clean"), col("n_kept"),
        (col("__n_lines") - col("n_kept")).as("n_dropped"))
  }

  /** Flagged span starts for [[scrubRepeatedSpans]]: 0-based token
    * positions `s` such that the n-token window starting at `s` occurs
    * in ≥ `minDocs` DISTINCT documents. One corpus scan exploding the
    * sliding windows, one map-side-partial distinct-doc count on the
    * window key, an ids-only semi join back. Returns (doc_id, s).
    *
    * `hashGrams = true` (production default) keys the count and the
    * flag-back join on `xxhash64(gram)` — the window frame is an
    * n×-corpus row blow-up, and shipping an 8-byte key instead of the
    * n-token string cuts its shuffle severalfold. A hash collision
    * over-flags one span (scrubs non-repeated content) at ~2⁻⁶⁴ odds —
    * the [[exact]]-dedup stance. The gate queries pass `false`: raw
    * gram strings, bit-exact to the DuckDB oracle by construction
    * (the q71 xxhash64-production / exact-gate pattern). */
  def repeatedSpanStarts(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, minDocs: Int = 2,
                         hashGrams: Boolean = true): DataFrame = {
    require(n >= 1, s"span width must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val toks = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("toks"))
    val gram = array_join(slice(col("toks"), col("s") + 1, lit(n)), " ")
    val windows = toks
      .where(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("toks")) - n)).as("s"),
        col("toks"))
      .select(col("doc_id"), col("s").cast("long").as("s"),
        (if (hashGrams) xxhash64(gram) else gram).as("k"))
    val flagged = windows.groupBy(col("k"))
      .agg(count_distinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= minDocs)
      .select("k")
    windows.join(flagged, Seq("k")).select(col("doc_id"), col("s"))
  }

  /** Remove every token covered by a REPEATED SPAN — the fixed-width
    * approximation of suffix-array substring dedup ("Deduplicating
    * Training Data Makes Language Models Better"-style): any n-token
    * run occurring in ≥ `minDocs` distinct documents is scrubbed from
    * ALL of them, and the survivors re-join into cleaned text. Catches
    * boilerplate at arbitrary alignment, which paragraph dedup
    * ([[dedupParagraphInstances]]) misses when the repeat straddles a
    * paragraph boundary.
    *
    * Returns every input document: (doc_id, text, n_removed_tokens) —
    * untouched docs keep their full text, fully-scrubbed docs surface
    * the empty string.
    *
    * Shape at 100 TB: the window explode is an n× row blow-up INSIDE
    * the scan stage; the gram count is map-side partial (a boilerplate
    * gram collapses per task before the shuffle); covered positions
    * explode only the FLAGGED spans (≪ corpus, factor n bounded);
    * the scrub is an anti join on (doc_id, pos); reassembly sorts
    * within one doc. No windows, no collects. */
  def scrubRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, minDocs: Int = 2,
                         hashGrams: Boolean = true): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("toks"))
    val spans = repeatedSpanStarts(docs, idCol, textCol, n, minDocs, hashGrams)
    val covered = spans
      .select(col("doc_id"),
        explode(sequence(col("s"), col("s") + (n - 1))).as("pos"))
      .distinct()
    val tokens = toks.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("pos", "para")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("para"))
    val kept = tokens.join(covered, Seq("doc_id", "pos"), "left_anti")
    val rebuilt = reassembleParagraphs(kept, sep = " ")
    val counts = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("__kept"))
    docs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("__orig"))
      .join(rebuilt, Seq("doc_id"), "left")
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        (col("__orig") - coalesce(col("__kept"), lit(0L)))
          .as("n_removed_tokens"))
  }

  /** Reassemble documents from surviving paragraph instances:
    * (doc_id, text) with paragraphs re-joined by `sep` in `pos` order.
    * Documents that lost every paragraph are absent — callers wanting
    * every original id left-join this result. Per-doc ordering is an
    * array_sort of the collected (pos, para) structs — bounded by the
    * paragraphs of ONE document, never a window over the corpus. */
  def reassembleParagraphs(kept: DataFrame, sep: String = "\n\n"): DataFrame =
    kept.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("para"))))
        .as("ps"))
      .select(col("doc_id"),
        array_join(transform(col("ps"), p => p.getField("para")), sep)
          .as("text"))

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space by k-means
    * assignment to `centroids`, then compare pairs ONLY within a
    * cluster — the move that turns all-pairs cosine dedup (O(n²) at
    * corpus scale) into Σ cluster², with k sized so a cluster's pair
    * join fits a task. A doc is a duplicate iff some LOWER-id doc in
    * its cluster has cosine ≥ `minCosine` — the keep-first stance of
    * [[exact]], deterministic under any partitioning.
    *
    * Scale shape: centroids broadcast (k rows, caller-bounded), the
    * within-cluster self-join is one shuffle on centroid_id, and
    * clusters larger than `maxClusterSize` skip pairing entirely
    * (their members all survive — under-dedup on pathological skew,
    * never a wrong drop, never a cluster²-blow-up task). The guard is
    * a groupBy+join count, no window anywhere.
    *
    * `deterministic = true` computes the verify cosine with exact
    * decimal sums (cross-engine bit-stable — the gate form);
    * production uses the fused native cosine kernel.
    *
    * Returns one row per input doc: (vec_id, centroid_id, keep) with
    * keep ∈ {0, 1}. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, centroidIdCol: String,
                    centroidVecCol: String, minCosine: Double,
                    deterministic: Boolean = false,
                    maxClusterSize: Int = 100000): DataFrame = {
    require(maxClusterSize >= 2,
      s"maxClusterSize must be >= 2, got $maxClusterSize")
    val assigned = Similarity.assignToCentroids(emb, centroids,
        idCol, vecCol, centroidIdCol, centroidVecCol)
      .select(col("vec_id"), col("centroid_id"))
    clusterPairKeep(assigned, emb, idCol, vecCol, minCosine,
      deterministic, maxClusterSize)
  }

  /** Shared within-cluster pair phase of the SemDeDup family: join
    * vectors back onto `assigned(vec_id, centroid_id)`, cap clusters
    * at `maxClusterSize` (oversized clusters are EXCLUDED from
    * pairing — documented semantics, never a silent quadratic), score
    * same-cluster (id_a < id_b) pairs, drop the higher id of any pair
    * clearing `minCosine`. Pair cost is Σ|cluster|² — bounded by the
    * caller's cluster sizing. */
  private def clusterPairKeep(assigned0: DataFrame, emb: DataFrame,
                              idCol: String, vecCol: String,
                              minCosine: Double, deterministic: Boolean,
                              maxClusterSize: Int): DataFrame = {
    // assigned is consumed twice here (vector join + final keep join)
    // and its lineage carries the caller's whole assignment pass —
    // persist the n-row (vec_id, centroid_id) frame so that pass runs
    // once, not once per consumer (round-12 ProfileOne: q363 re-ran its
    // 60k-candidate scoring subtree ~4×). Lazy — zero build-time jobs.
    // DELIBERATE session-lifetime pin (r12 advice noted the missing
    // unpersist): the returned frame's lineage reads these blocks, so
    // releasing inside the operator would force an eager materialize-
    // then-unpersist (build-time jobs the lazy-builder gates forbid).
    // Long-lived sessions bound the cost at n rows of ids per call and
    // reclaim under memory pressure (MEMORY_AND_DISK evicts); the bench
    // harness releases all pinned blocks between queries.
    val assigned = assigned0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withVec = assigned.join(
      emb.select(col(idCol).as("vec_id"), col(vecCol).as("__v")),
      Seq("vec_id"))
    val sizes = withVec.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("__csz"))
    val paired = withVec.join(sizes, Seq("centroid_id"))
      .filter(col("__csz") <= maxClusterSize)
      .withColumn("__n", Similarity.norm2Decimal(col("__v")))
    val a = paired.select(col("centroid_id"), col("vec_id").as("id_a"),
      col("__v").as("va"), col("__n").as("na"))
    val b = paired.select(col("centroid_id"), col("vec_id").as("id_b"),
      col("__v").as("vb"), col("__n").as("nb"))
    val cos =
      if (deterministic)
        Similarity.cosineDeterministic(col("va"), col("vb"),
          col("na"), col("nb"))
      else Similarity.cosine(col("va"), col("vb"))
    val losers = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b") && cos >= lit(minCosine))
      .select(col("id_b").as("vec_id")).distinct()
    assigned.join(losers.withColumn("__dup", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        when(col("__dup").isNotNull, lit(0)).otherwise(lit(1)).as("keep"))
  }

  /** SEMANTIC DECONTAMINATION — flag training docs whose EMBEDDING is
    * too close to any eval/test vector: the meaning-level companion to
    * the n-gram decontamination family (decontaminate /
    * decontaminateBloom / the sequence-level q81 shape), catching the
    * paraphrased and reformatted benchmark leaks that no shingle
    * overlap can see.
    *
    * Scale shape — built around the real asymmetry of the problem: the
    * corpus is the 100 TB side, the test set is an eval benchmark
    * (thousands of vectors). The test side is BROADCAST and the scan
    * is MAP-ONLY — one pass over the corpus, no shuffle at all, linear
    * at any corpus size and embarrassingly parallel across executors.
    * For test sets too large to broadcast, band both sides with
    * [[semanticDedupLsh]]'s sign-plane buckets instead — the
    * documented big-test-side route; this operator `require`s the
    * contract (`maxTestRows`) rather than silently building a giant
    * broadcast.
    *
    * `deterministic = true` computes cosine with exact decimal sums
    * (cross-engine bit-stable — the gate form); production uses the
    * fused native kernel.
    *
    * Returns one row per corpus doc:
    * (idCol, n_matches, contaminated ∈ {0,1}) — n_matches = how many
    * test vectors sit at cosine ≥ `minCosine`. */
  def semanticDecontam(corpus: DataFrame, test: DataFrame,
                       idCol: String, vecCol: String,
                       minCosine: Double,
                       deterministic: Boolean = false,
                       maxTestRows: Long = 100000,
                       maxTestCells: Long = 64000000L): DataFrame = {
    // eager by design: broadcast ADMISSION is a driver decision, like
    // the BPE loop. Guard by rows AND by total cells (rows × dims) —
    // the whole test set rides as ONE array row, so what actually has
    // to fit under Spark's 2 GB row/broadcast ceiling is rows×dims
    // floats, not the row count. 64M cells ≈ 0.5 GB of packed floats.
    val adm = test.agg(count(lit(1)).cast("long"),
      coalesce(sum(size(col(vecCol))), lit(0L)).cast("long")).head()
    val (testN, testCells) = (adm.getLong(0), adm.getLong(1))
    require(testN <= maxTestRows,
      s"test side has $testN rows > maxTestRows=$maxTestRows — too " +
        "large to broadcast; band both sides (semanticDedupLsh) instead")
    require(testCells <= maxTestCells,
      s"test side has $testCells cells (rows × dims) > maxTestCells=" +
        s"$maxTestCells — the single-row broadcast would exceed the " +
        "design point; band both sides (semanticDedupLsh) instead")
    val c = corpus.select(col(idCol).as("__id"), col(vecCol).as("__cv"))
      .withColumn("__cn", Similarity.norm2Decimal(col("__cv")))
    // the whole test set rides as ONE array row — the corpus pass is
    // then literally map-only (broadcast nested-loop of a 1-row frame):
    // no groupBy, no join-back, nothing for the corpus to shuffle
    val qArr = test.select(col(vecCol).as("__tv"))
      .withColumn("__tn", Similarity.norm2Decimal(col("__tv")))
      .agg(collect_list(struct(col("__tv").as("v"), col("__tn").as("n")))
        .as("__tests"))
    def cos(t: Column): Column =
      if (deterministic)
        Similarity.cosineDeterministic(col("__cv"), t.getField("v"),
          col("__cn"), t.getField("n"))
      else Similarity.cosine(col("__cv"), t.getField("v"))
    c.crossJoin(broadcast(qArr))
      .select(col("__id").as(idCol),
        size(filter(col("__tests"), t => cos(t) >= lit(minCosine)))
          .cast("long").as("n_matches"))
      .withColumn("contaminated",
        when(col("n_matches") > 0, lit(1)).otherwise(lit(0)))
  }

  /** QUALITY-AWARE cluster resolution: given near-dup clusters
    * (`idCol`, `compCol` — e.g. [[connectedComponents]] output) and
    * per-doc quality scores, keep the HIGHEST-scoring member of each
    * cluster (ties → lowest id) instead of [[nearDupLosers]]'s blind
    * min-id — what a production pipeline actually wants when one copy
    * of a near-dup group is the longer / cleaner one. One
    * map-side-partial min(struct) groupBy on the component id — never
    * a window; ids-only shuffle (scores ride as one numeric column).
    *
    * Returns (idCol, compCol, survivor_id) for every clustered doc;
    * survivors are the rows with idCol == survivor_id. */
  def resolveClustersBest(components: DataFrame, scores: DataFrame,
                          idCol: String = "id", compCol: String = "comp",
                          scoreCol: String = "score"): DataFrame = {
    val joined = components
      .select(col(idCol).as("__id"), col(compCol).as("__comp"))
      .join(scores.select(col(idCol).as("__id"),
        col(scoreCol).cast("double").as("__s")), Seq("__id"))
    val best = joined.groupBy(col("__comp"))
      .agg(min(struct((-col("__s")).as("ns"), col("__id").as("id")))
        .as("m"))
      .select(col("__comp"), col("m.id").as("survivor_id"))
    joined.join(best, Seq("__comp"))
      .select(col("__id").as(idCol), col("__comp").as(compCol),
        col("survivor_id"))
  }

  /** Edit-distance (Levenshtein) verified near-duplicate pairs under
    * record-linkage BLOCKING: docs sharing the caller's block key are
    * compared pairwise, pairs within `maxDist` edits surface as
    * (id_a, id_b, dist), id_a < id_b. The classic exact-verify stage
    * for SHORT text fields (titles, URLs, product names) where
    * character-level edits matter and shingle Jaccard is too coarse —
    * for whole documents the MinHash/SimHash family upstream is the
    * right tool and [[editDistanceVerify]] re-checks ITS candidates.
    *
    * Scale shape: pair generation happens only WITHIN a block (the
    * self-join keys on the block columns — one shuffle each side,
    * never all-pairs), and blocks larger than `maxBlock` are skipped
    * entirely — the semanticDedup maxClusterSize fail-safe: a
    * degenerate key (empty title) would otherwise go quadratic. The
    * comparison runs Spark's built-in 3-arg `levenshtein(a, b, max)`
    * — codegen'd, O(len·maxDist) with early exit, returns −1 past the
    * bound so out-of-range pairs filter before anything else ships.
    * Blocking is an approximation by construction (a near-dup pair
    * split across blocks is not compared — the recall/cost dial every
    * record-linkage system exposes); choose keys so edits within
    * `maxDist` usually preserve them, e.g. coarse length buckets. */
  def blockedEditDistancePairs(docs: DataFrame, idCol: String,
                               textCol: String, blockKey: Seq[Column],
                               maxDist: Int,
                               maxBlock: Long = 10000): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    val keyed = docs.select(
      blockKey.zipWithIndex.map { case (c, i) => c.as(s"__bk$i") } ++
        Seq(col(idCol).as("__id"), col(textCol).as("__text")): _*)
    val bks = blockKey.indices.map(i => s"__bk$i")
    val small = keyed.groupBy(bks.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxBlock && col("__n") >= 2)
      .drop("__n")
    val inBlock = keyed.join(small, bks)
    val a = bks.map(col) :+ col("__id").as("id_a") :+
      col("__text").as("__ta")
    val b = bks.map(col) :+ col("__id").as("id_b") :+
      col("__text").as("__tb")
    inBlock.select(a: _*)
      .join(inBlock.select(b: _*), bks)
      .where(col("id_a") < col("id_b"))
      .withColumn("dist",
        levenshtein(col("__ta"), col("__tb"), maxDist))
      .where(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Exact edit-distance re-verification of CANDIDATE pairs from any
    * upstream recall stage (MinHash bands, SimHash chunks, blocking):
    * joins each (doc_a, doc_b) pair's texts back by id — ids-only
    * shuffles until the bounded pair set — and keeps pairs within
    * `maxDist` edits. The sketch stages guarantee recall; this
    * guarantees precision in the strictest character-level sense. */
  def editDistanceVerify(pairs: DataFrame, docs: DataFrame,
                         idCol: String, textCol: String,
                         maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val t = docs.select(col(idCol).as("__id"), col(textCol).as("__t"))
    pairs.select(col("doc_a"), col("doc_b"))
      .join(t.select(col("__id"), col("__t").as("__ta")),
        col("doc_a") === col("__id")).drop("__id")
      .join(t.select(col("__id"), col("__t").as("__tb")),
        col("doc_b") === col("__id")).drop("__id")
      .withColumn("dist",
        levenshtein(col("__ta"), col("__tb"), maxDist))
      .where(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** SORTED-NEIGHBORHOOD candidate pairs (Hernández & Stolfo 1995 —
    * the record-linkage classic): rank the corpus by a caller-chosen
    * blocking key, pair every two docs within `window` ranks. Candidate
    * volume is window·n instead of n² — the complement to LSH/length
    * blocking when near-dups sort together under a cheap key (shared
    * suffix/prefix, normalized title, zip+name). Recall is exactly "the
    * key sorts the pair within `window`"; run several keys and union
    * (multi-pass SNM) when one key can't.
    *
    * Output: (doc_a, doc_b, rank_dist ∈ [1, window]) with doc_a the
    * lower-ranked doc — feed [[editDistanceVerify]] (or jaccardVerify)
    * for precision.
    *
    * Scale shape: the rank is the window-free [[graft.ops.GlobalRank
    * .globalRowNumber]] (range repartition + per-partition offsets);
    * pairing is a hash self-join on the rank block (r−1) div window —
    * the lower side explodes to its own and the successor block, the
    * range filter keeps each qualifying pair exactly once. Never a
    * cartesian, never a rank window. Ties in the key break by id
    * (total order), so the candidate set is partition-independent. */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String, key: Column,
                              window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val ranked = graft.ops.GlobalRank.globalRowNumber(
      docs.select(col(idCol).cast("long").as("doc_id"), key.as("__k")),
      Seq(col("__k").asc, col("doc_id").asc), outCol = "rnk")
    val lo = ranked.select(col("doc_id").as("doc_a"), col("rnk").as("__ra"),
        expr(s"(rnk - 1) div $window").as("__b0"))
      .withColumn("__b", explode(array(col("__b0"), col("__b0") + 1)))
      .drop("__b0")
    val hi = ranked.select(col("doc_id").as("doc_b"), col("rnk").as("__rb"),
      expr(s"(rnk - 1) div $window").as("__b"))
    lo.join(hi, Seq("__b"))
      .where(col("__rb") > col("__ra") &&
        col("__rb") <= col("__ra") + window)
      .select(col("doc_a"), col("doc_b"),
        (col("__rb") - col("__ra")).as("rank_dist"))
  }

  /** SEMANTIC dedup (SemDeDup, Abbas et al. 2023): cluster the
    * embedding space, compare pairs only WITHIN a cluster, and drop
    * every document whose exact cosine to a LOWER-id same-cluster
    * document clears `tau` — keep-the-first over semantic-duplicate
    * neighborhoods without ever forming the all-pairs product. The
    * embedding sibling of the MinHash family above: MinHash catches
    * lexical near-dups, this catches paraphrases that share no
    * shingles.
    *
    * Deterministic end to end (the q86 recipe): centroids are the
    * first `nlist` corpus vectors by id (Lloyd iters=0 init —
    * [[Similarity.ivfCentroids]]), assignment and the pair cosine both
    * ride the exact decimal kernel, so the survivor set is a pure
    * function of (corpus, nlist, tau) and a SQL engine replays it
    * bit-for-bit.
    *
    * Output: one row per SURVIVOR (vec_id, centroid_id).
    *
    * Scale shape: assignment is the broadcast-centroids argmin (nlist
    * rows); the only data-sized join is cluster-keyed — pair cost is
    * Σ|cluster|², bounded by sizing nlist ∝ corpus/target-occupancy
    * exactly as SemDeDup prescribes (vectors ride that join once;
    * ids-only would re-join them back for the cosine anyway). One
    * distinct on dropped ids, one anti join.
    *
    * SIZING RULE (pinned): total cost = n·nlist (flat assignment) +
    * n·k̄ (pairs, k̄ = n/nlist). The q339 GATE pins nlist = √n — the
    * balanced point of those two terms, n^1.5 by construction, chosen
    * for oracle replayability. PRODUCTION sizing is constant cluster
    * size, nlist = n/targetClusterSize, which makes the pair term
    * linear — and since flat assignment is then the quadratic term,
    * use [[semanticDedupCc]] (LSH-routed assignment, O(n) end to end
    * at fixed k̄) for exact-mode dedup at scale, or
    * [[semanticDedupLshScaled]] when banded candidate generation
    * (approximate pair coverage) is acceptable. */
  /** LSH-banded semantic dedup — the LINEAR scale path of
    * [[semanticDedup]] (the exact cluster form pays n^1.5 at its
    * balanced √n-centroids sizing; banding keeps cost ∝ bucket
    * occupancy): candidate pairs come from shared sign-hyperplane band
    * buckets (the q84 machinery — md5-parity planes, so a SQL engine
    * replays the banding bit-for-bit), each candidate is verified by
    * the exact decimal cosine, and any vector whose verified cosine to
    * a LOWER-id vector clears `tau` drops. Approximate where the
    * cluster form is exhaustive: a pair sharing NO band is never
    * scored (the standard LSH recall trade — more bands or fewer bits
    * per band buy recall).
    *
    * Output: one row per SURVIVOR (vec_id).
    *
    * Scale shape: ids-only band-bucket self-join (vectors join back
    * only for the deduped candidate set), one distinct, one anti
    * join. */
  def semanticDedupLsh(df: DataFrame, idCol: String, vecCol: String,
                       tau: Double, bits: Int, bands: Int,
                       dims: Int): DataFrame = {
    require(tau > 0.0 && tau < 1.0, s"tau must be in (0, 1), got $tau")
    require(bits >= 1 && bands >= 1 && bits % bands == 0,
      s"bits=$bits must split into bands=$bands equal keys")
    // keys feed the two self-join sides — pin them so the md5-plane
    // signature runs over the corpus exactly once (the lshBucketPairs
    // persist discipline)
    val keys = graft.ops.ScanFanout(df)
      .select(col(idCol).cast("long").as("vec_id"),
        explode(Similarity.bandKeys(
          Similarity.lshSignatureMd5(col(vecCol), bits, dims),
          bits, bands)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lshVerifyKeep(df, idCol, vecCol, keys, tau)
  }

  /** [[semanticDedupLsh]] with the band width derived INSIDE the plan:
    * the corpus-scaled sizing rule (smallest w in [minW, maxW] with
    * occupancy·2^w ≥ n — the integer [[Similarity.suggestLshBits]]
    * form) is evaluated from a broadcast 1-row count frame instead of
    * an eager driver-side `count()`, so CONSTRUCTING the query runs
    * zero Spark jobs (the lazy-builder contract; the q343 nFrame
    * precedent — an eager count at build time is the same violation
    * the ksUniformPpm raise_error rework removed).
    *
    * Mechanics: the signature is computed ONCE at FULL width
    * (maxW·bands md5 planes). Bit p of the plane signature does not
    * depend on the total width, so the full signature's low w·bands
    * bits equal [[Similarity.lshSignatureMd5]] at width w·bands
    * exactly; band b's key is then extracted at the RUNTIME width with
    * shift/mask against the broadcast `__w` column — bit range
    * [b·w, (b+1)·w), the same layout as [[Similarity.bandKeys]]. The
    * constant-factor cost is maxW·bands planes per vector regardless
    * of n; at scale (w → maxW) the overhead vanishes, and at toy n the
    * ~3× signature work is irrelevant.
    *
    * Output and semantics otherwise identical to [[semanticDedupLsh]]
    * at bits = 4·w_selected. */
  def semanticDedupLshScaled(df: DataFrame, idCol: String,
                             vecCol: String, tau: Double, bands: Int,
                             dims: Int, minW: Int = 4, maxW: Int = 15,
                             occupancy: Int = 16): DataFrame = {
    require(tau > 0.0 && tau < 1.0, s"tau must be in (0, 1), got $tau")
    require(bands >= 1 && minW >= 1 && maxW >= minW &&
        maxW * bands <= 63 && occupancy >= 1,
      s"bands=$bands width range [$minW,$maxW] must fit one long " +
        s"(maxW*bands <= 63); occupancy=$occupancy must be >= 1")
    val wFrame = df.agg(count(lit(1)).cast("long").as("__n"))
      .selectExpr(
        s"coalesce(element_at(filter(sequence($minW, $maxW), " +
          s"w -> $occupancy * shiftleft(CAST(1 AS BIGINT), w) >= __n)" +
          s", 1), $maxW) AS __w")
    val sigFull = Similarity.lshSignatureMd5(col(vecCol),
      maxW * bands, dims)
    val keys = graft.ops.ScanFanout(df).crossJoin(broadcast(wFrame))
      .select(col(idCol).cast("long").as("vec_id"),
        sigFull.as("__sig"), col("__w"))
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> named_struct(" +
          "'band', b, 'key', shiftright(__sig, b * __w) & " +
          "(shiftleft(CAST(1 AS BIGINT), __w) - 1)))")).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lshVerifyKeep(df, idCol, vecCol, keys, tau)
  }

  /** Shared verify tail of the LSH dedup family: band-bucket candidate
    * self-join on `keys(vec_id, band, key)`, exact decimal cosine
    * verify, keep-the-first anti join. `v` persists because it feeds
    * both verify sides plus the survivor base. */
  private def lshVerifyKeep(df: DataFrame, idCol: String,
                            vecCol: String, keys: DataFrame,
                            tau: Double): DataFrame = {
    val cand = keys.as("a").join(keys.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    val v = graft.ops.ScanFanout(df)
      .select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("vv"))
      .withColumn("vn", Similarity.norm2Decimal(col("vv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dropped = cand
      .join(v.select(col("vec_id").as("a_id"), col("vv").as("av"),
        col("vn").as("an")), "a_id")
      .join(v.select(col("vec_id").as("b_id"), col("vv").as("bv"),
        col("vn").as("bn")), "b_id")
      .where(Similarity.cosineDeterministic(col("av"), col("bv"),
        col("an"), col("bn")) >= tau)
      .select(col("b_id").as("vec_id")).distinct()
    v.select(col("vec_id")).join(dropped, Seq("vec_id"), "left_anti")
  }

  /** CONSTANT-CLUSTER-SIZE SemDeDup — the LINEAR EXACT-mode production
    * sizing of [[semanticDedup]] (round-11 verdict ask #3). The exact
    * cluster form's cost is (assignment = n·nlist) + (pairs =
    * Σ|cluster|² ≈ n·k̄ where k̄ = n/nlist): the √n-centroid gate
    * sizing balances the two terms at n^1.5, while the production
    * answer is nlist ∝ n/targetClusterSize — pair cost O(n·k̄), with
    * the flat n·nlist assignment scan (the new quadratic term) replaced
    * by LSH-ROUTED assignment: centroids are banded with the q341
    * sign-plane machinery at a width scaled to nlist (occupancy·2^w ≥
    * nlist), each vector scores only centroids sharing a band bucket —
    * O(bands·occupancy) candidates per vector — and takes the argmin
    * over those. Every stage is O(n) at fixed k̄.
    *
    * Deterministic construction, no driver-side state, ZERO build-time
    * jobs (all sizing rides broadcast 1-row frames):
    *  - centroids = md5-thinned rows (hash("cent:"||id) % k̄ == 0) —
    *    expected n/k̄ of them, no rank, any id space;
    *  - assignment = argmin dist² over band-bucket candidate
    *    centroids, ties to the smallest centroid id;
    *  - vectors whose buckets hold NO centroid take a deterministic
    *    md5 fallback bucket (−1 − hash("fb:"||id) % nlist — expected
    *    size k̄, so the pair bound survives the fallback path);
    *  - within-cluster pairs: exactly [[semanticDedup]]'s phase,
    *    `maxClusterSize` cap included.
    *
    * Approximation vs the flat argmin: a vector may miss its true
    * nearest centroid when they share no band — it lands in a
    * near-nearest cluster instead; pairs within every cluster are
    * still scored EXACTLY (the SemDeDup drop rule is unchanged, only
    * the partition differs — same trade [[semanticDedupLsh]] makes
    * for candidate generation).
    *
    * `deterministic = true` runs the pair cosine on the exact decimal
    * kernel (the gate form — DuckDB replays thinning, banding,
    * assignment, and pairs bit-for-bit); production passes false for
    * the fused double kernel.
    *
    * Output: one row per vector (vec_id, centroid_id, keep) —
    * centroid_id is the WINNING CENTROID'S OWN vec_id (≥ 0) or a
    * negative fallback bucket. */
  def semanticDedupCc(emb: DataFrame, idCol: String, vecCol: String,
                      minCosine: Double, dims: Int,
                      targetClusterSize: Int = 16, bands: Int = 4,
                      minW: Int = 4, maxW: Int = 15, occupancy: Int = 16,
                      deterministic: Boolean = false,
                      maxClusterSize: Int = 100000): DataFrame = {
    require(minCosine > 0.0 && minCosine < 1.0,
      s"minCosine must be in (0, 1), got $minCosine")
    require(targetClusterSize >= 2,
      s"targetClusterSize must be >= 2, got $targetClusterSize")
    require(bands >= 1 && minW >= 1 && maxW >= minW &&
        maxW * bands <= 63 && occupancy >= 1,
      s"bands=$bands width range [$minW,$maxW] must fit one long " +
        s"(maxW*bands <= 63); occupancy=$occupancy must be >= 1")
    val k = targetClusterSize
    // sizing rides the plan: nlist = max(1, n div k̄), band width =
    // smallest w in [minW, maxW] with occupancy·2^w >= nlist
    val szFrame = emb.agg(count(lit(1)).cast("long").as("__n"))
      .selectExpr(s"greatest(CAST(1 AS BIGINT), __n div $k) AS __nl")
      .selectExpr("__nl",
        s"coalesce(element_at(filter(sequence($minW, $maxW), " +
          s"w -> $occupancy * shiftleft(CAST(1 AS BIGINT), w) >= __nl)" +
          s", 1), $maxW) AS __w")
    // v feeds vector keys + candidate scoring + the fallback path;
    // fanned out so the signature/norm passes use every core when the
    // source is a single small file (no-op on real layouts)
    val v = graft.ops.ScanFanout(emb).crossJoin(broadcast(szFrame))
      .select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("vv"),
        col("__nl"), col("__w"))
      .withColumn("vn", Similarity.norm2Decimal(col("vv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = v.where(pmod(TextAnalysis.md5Hash60(
        concat(lit("cent:"), col("vec_id").cast("string"))),
        lit(k.toLong)) === 0L)
      .select(col("vec_id").as("cid"), col("vv").as("cv"),
        col("vn").as("cn"), col("__w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigExpr = (vcol: String) => Similarity
      .lshSignatureMd5(col(vcol), maxW * bands, dims).as("__sig")
    val bandKeysExpr = expr(
      s"transform(sequence(0, ${bands - 1}), b -> named_struct(" +
        "'band', b, 'key', shiftright(__sig, b * __w) & " +
        "(shiftleft(CAST(1 AS BIGINT), __w) - 1)))")
    val vKeys = v.select(col("vec_id"), sigExpr("vv"), col("__w"))
      .select(col("vec_id"), explode(bandKeysExpr).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    val cKeys = cents.select(col("cid"), sigExpr("cv"), col("__w"))
      .select(col("cid"), explode(bandKeysExpr).as("bk"))
      .select(col("cid"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    val cand = vKeys.join(cKeys, Seq("band", "key"))
      .select(col("vec_id"), col("cid")).distinct()
    // argmin dist² over the candidate centroids (exact decimal dot
    // cast to double — the q339 oracle 'd'-CTE recipe), ties to the
    // smallest centroid id
    // NOTE: cents is n/k̄ rows — corpus-sized, so no broadcast hint
    // here (AQE promotes the join to broadcast when it actually fits)
    val scored = cand
      .join(v.select(col("vec_id"), col("vv"), col("vn")), Seq("vec_id"))
      .join(cents.select(col("cid"), col("cv"), col("cn")), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        (col("vn").cast("double") + col("cn").cast("double") -
          lit(2.0) * Similarity.dotDecimal(col("vv"), col("cv"))
            .cast("double")).as("dist2"))
    // persisted: consumed by the fallback anti join AND the union —
    // without it the candidate-scoring subtree above runs once per
    // consumer (measured, round-12 ProfileOne)
    val assignedReal = scored.groupBy(col("vec_id"))
      .agg(min(struct(col("dist2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("centroid_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fallback = v.select(col("vec_id"), col("__nl"))
      .join(assignedReal.select(col("vec_id")), Seq("vec_id"),
        "left_anti")
      .select(col("vec_id"),
        (lit(-1L) - pmod(TextAnalysis.md5Hash60(
          concat(lit("fb:"), col("vec_id").cast("string"))),
          col("__nl"))).as("centroid_id"))
    val assigned = assignedReal.select(col("vec_id"),
        col("centroid_id").cast("long").as("centroid_id"))
      .unionByName(fallback)
    clusterPairKeep(assigned, emb, idCol, vecCol, minCosine,
      deterministic, maxClusterSize)
  }
}

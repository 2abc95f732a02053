package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`Array[Float]`) — builder-prompt north star; no reference analog.
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k, queries broadcast against
  *     the candidate corpus — the correctness baseline. One scan of the
  *     corpus, no shuffle of the big side; the per-query top-k is the
  *     k-bounded TopKByScore Aggregator (map-side partial, ≤ k pairs per
  *     query cross the shuffle — never a corpus-sized window sort).
  *   - [[lshBucketTopK]]: sign-random-projection LSH. Each vector gets a
  *     B-bit signature from deterministic pseudo-random hyperplanes;
  *     vectors sharing a band bucket are candidates. Corpus side is
  *     bucketed once (one shuffle on bucket key), queries probe their own
  *     buckets — the 100 TB path: cost ∝ bucket sizes, not |corpus|².
  *
  * Cosine determinism: dot products and norms are summed as
  * DECIMAL(38,15) (exact, order-independent), the final
  * dot/sqrt(na*nb) runs in IEEE double — bit-identical across engines,
  * which is what lets the DuckDB oracle hash-match (see LlmQueries).
  */
object Similarity {

  /** Exact decimal sum of elementwise double products — native fused
    * kernel (graft.functions.DecimalDotProduct), bit-identical to
    * the lambda-chain reference `KernelReferences.dotDecimal` in the
    * test sources (spec-pinned): the lambda chain was CodegenFallback
    * and dominated q26/q34 wall time. */
  def dotDecimal(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDotDecimal(a, b)

  def norm2Decimal(v: Column): Column = dotDecimal(v, v)

  /** Deterministic cosine: exact decimal sums, IEEE double finish. */
  def cosineDeterministic(a: Column, b: Column,
                          normA: Column, normB: Column): Column =
    dotDecimal(a, b).cast("double") /
      sqrt(normA.cast("double") * normB.cast("double"))

  /** Fast production cosine: the native codegen expression
    * (graft.functions.CosineSimilarity) — one fused loop for dot + both
    * norms, whole-stage-codegen friendly. Order-dependent in the last
    * ulp, fine when no cross-engine hash compare is needed. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecCosine(a, b)

  // -------------------------------------------------------------------
  // Johnson–Lindenstrauss dimensionality reduction (Rademacher signs,
  // Achlioptas 2003): proj_j = Σ_i s(i,j)·v_i with s ∈ {±1} from a
  // deterministic integer hash — no stored projection matrix, any
  // engine (or any executor, any round) re-derives the identical
  // signs. ±1 entries keep every term an EXACT IEEE negation, so the
  // house decimal-sum recipe makes the whole projection cross-engine
  // bit-exact — a Gaussian matrix could never hash-match. Use: shrink
  // 1k-dim embeddings to 32–64 dims before LSH/IVF/cluster passes —
  // distance-preserving within (1±ε) at outDim = O(log n / ε²).
  // -------------------------------------------------------------------

  /** The sign s(i,j): bit 16 of a two-round xor-shift-multiply mix of
    * (input dim i, output dim j). A single LINEAR form (LCG of
    * a·i + b·j) is not enough: two output dims then differ by a
    * constant, and bit 16 of x vs x+c is carry-correlated — measured
    * column correlations hit 58/64 and the JL variance blew up. The
    * avalanche rounds drop measured column correlation to the
    * iid-expected √dim. Every operation stays in 32-bit range via
    * explicit mods so the DuckDB oracle replays it on BIGINTs without
    * overflow (and Spark's ANSI long arithmetic never traps). */
  private def rademacherSign(i: Int, j: Int): Double = {
    val h0 = (i.toLong * 2654435761L + j.toLong * 40503L + 2246822519L) % 4294967296L
    val h1 = h0 ^ (h0 >> 16)
    val h2 = ((h1 % 2147483648L) * 2246822519L) % 4294967296L
    val h3 = h2 ^ (h2 >> 13)
    if (((h3 >> 16) & 1L) == 0L) 1.0 else -1.0
  }

  /** Reduced vectors, packed: adds `outCol` = ARRAY<DOUBLE>(outDim)
    * to every row. `dim` is the (constant) input dimensionality —
    * the IVF/PQ builders' constant-dim contract. Map-only: the sign
    * vectors are outDim constant arrays broadcast inside the plan,
    * each component one fused native decimal dot ([[dotDecimal]]).
    * Scale: outDim·dim multiply-adds per row inside the scan stage,
    * no shuffle, no state. */
  def rademacherProject(df: DataFrame, vecCol: String, dim: Int,
                        outDim: Int, outCol: String = "proj"): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(outDim >= 1 && outDim <= dim,
      s"outDim must be in [1, dim=$dim], got $outDim")
    val comps = (0 until outDim).map { j =>
      val signs = array((0 until dim).map(i => lit(rademacherSign(i, j))): _*)
      dotDecimal(col(vecCol), signs).cast("double")
    }
    df.withColumn(outCol, array(comps: _*))
  }

  /** Gate form of [[rademacherProject]]: exploded (id, j, proj) rows
    * with the decimal(38,6)→double surface every oracle-compared
    * double in the repo uses. */
  def rademacherProjectRows(df: DataFrame, idCol: String, vecCol: String,
                            dim: Int, outDim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(outDim >= 1 && outDim <= dim,
      s"outDim must be in [1, dim=$dim], got $outDim")
    val comps = (0 until outDim).map { j =>
      val signs = array((0 until dim).map(i => lit(rademacherSign(i, j))): _*)
      // through DOUBLE before the (38,6) surface: a direct
      // decimal(38,15)→(38,6) downscale hits engine rounding-mode
      // disagreement on ~half the rows; double→decimal ties are
      // measure-zero (the q26 recipe)
      dotDecimal(col(vecCol), signs).cast("double")
        .cast("decimal(38,6)").cast("double")
    }
    df.select(col(idCol), posexplode(array(comps: _*)).as(Seq("j", "proj")))
  }

  /** Per-query top-k WITHOUT a window: groupBy(query_id) + the k-bounded
    * [[graft.functions.TopKByScore]] Aggregator, then posexplode the
    * k-element buffer back to (payload, rnk) rows. The row_number-window
    * form put EVERY candidate row of a query into one task's sort —
    * O(|corpus| log |corpus|) per query in a single task, the one
    * straggler shape left in the ANN surface at 100× (round-5 verdict).
    * Here partial aggregation collapses each map task to ≤ k pairs per
    * query before the shuffle, and the merge is k-list merging.
    *
    * `ascending` scores are negated into the aggregator's DESC order and
    * negated back on output (exact for integer-valued scores like
    * hamming; cosine uses DESC directly). Ties break ascending payload —
    * row_number parity, pinned by q26/q72 hash equality at the gate. */
  private[graft] def topKPerQuery(pairs: DataFrame, scoreCol: String, k: Int,
                           ascending: Boolean): DataFrame = {
    val agg = udaf(new graft.functions.TopKByScore(k),
      org.apache.spark.sql.Encoders.product[(Double, Long)])
    val score0 = col(scoreCol).cast("double")
    val score = if (ascending) -score0 else score0
    pairs
      .groupBy(col("query_id"))
      .agg(agg(score, col("cand_id")).as("__topk"))
      .select(col("query_id"),
        posexplode(col("__topk").getField("items")))
      .select(col("query_id"),
        col("col._2").as("cand_id"),
        (if (ascending) -col("col._1") else col("col._1")).as(scoreCol),
        (col("pos") + 1).as("rnk"))
  }

  /** Fan an under-partitioned corpus out to the session's parallelism
    * before a per-pair kernel stage. The brute routes run the decimal
    * cosine kernel in the CORPUS side's partitioning (queries are
    * broadcast), and a filtered gate sub-corpus — or any corpus small
    * enough for the brute route — often arrives as ONE parquet split,
    * serializing |corpus|·|queries| kernel evaluations onto one core
    * (q142 measured 8.9→1.9 s; q126 carried two such passes). The
    * round-robin shuffle is bounded by the brute-route admission
    * (≤ bruteForceThreshold rows) and skipped when the corpus already
    * has enough splits. Result-invariant: every downstream consumer is
    * an order-independent aggregate ([[topKPerQuery]]'s total-order
    * k-merge). */
  private def spreadKernel(corpus: DataFrame): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    if (corpus.rdd.getNumPartitions < par) corpus.repartition(par)
    else corpus
  }

  /** Exact brute-force cosine top-k of `candidates` for each row of
    * `queries`. Both frames need (idCol, vecCol). Self-matches excluded.
    * One scan of the corpus (queries broadcast), map-side-bounded
    * per-query top-k — no window (see [[topKPerQuery]]). */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     deterministic: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm2Decimal(col("qv")))
    val c = spreadKernel(candidates)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm2Decimal(col("cv")))
    val cos =
      if (deterministic) cosineDeterministic(col("qv"), col("cv"), col("qn"), col("cn"))
      else cosine(col("qv"), col("cv"))
    val pairs = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), cos.as("cosine"))
    topKPerQuery(pairs, "cosine", k, ascending = false)
  }

  /** All-corpus k-NN GRAPH: every vector's top-k neighbors among all
    * the others — (query_id, cand_id, cosine, rnk) edge rows, self
    * excluded. The substrate for graph-based curation: PageRank-style
    * centrality over these edges scores how "representative" each doc
    * is of its embedding neighborhood (gate q143 composes exactly
    * that), connected components over thresholded edges cluster it,
    * and MMR re-ranks against it.
    *
    * Route selection is [[topK]]'s unified dispatch with the corpus as
    * its own query set: brute force under the threshold, LSH buckets
    * above it, or a persisted IVF/SQ8/PQ index. The direct routes
    * already exclude self-matches; the indexed routes search the
    * stored corpus (which CONTAINS each query), so the dispatch runs
    * at k+1 there and the k-bounded re-rank drops self without a
    * window — each query's candidate set is ≤ k+1 rows by then. */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String, k: Int,
               index: Option[(graft.io.TableStore, String)] = None,
               corpusSize: Long = -1L,
               bruteForceThreshold: Long = 1000000L,
               deterministic: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    index match {
      case None =>
        topK(emb, emb, idCol, vecCol, k, None, corpusSize,
          bruteForceThreshold, deterministic = deterministic)
      case some =>
        val raw = topK(emb, emb, idCol, vecCol, k + 1, some, corpusSize,
          bruteForceThreshold, deterministic = deterministic)
          .where(col("query_id") =!= col("cand_id"))
        topKPerQuery(raw.select(col("query_id"), col("cand_id"),
          col("cosine")), "cosine", k, ascending = false)
    }
  }

  /** HARD-NEGATIVE mining for contrastive/embedding training: for each
    * query, the top-k most-similar candidates with a DIFFERENT label —
    * the near-misses that make the best negatives (random negatives are
    * trivially separable; the hardest ones sit just across the class
    * boundary). Same broadcast-queries + fused-kernel +
    * [[topKPerQuery]] shape as [[bruteForceTopK]]; the label inequality
    * rides the join condition, so same-class candidates never enter the
    * per-query k-bounded buffers. NULL-labeled rows are excluded from
    * BOTH sides (an unknown class cannot be asserted a negative). */
  def hardNegatives(queries: DataFrame, candidates: DataFrame,
                    idCol: String, vecCol: String, labelCol: String,
                    k: Int, deterministic: Boolean = true): DataFrame = {
    val q = queries.where(col(labelCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        col(labelCol).as("qlab"))
      .withColumn("qn", norm2Decimal(col("qv")))
    val c = spreadKernel(candidates.where(col(labelCol).isNotNull))
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
        col(labelCol).as("clab"))
      .withColumn("cn", norm2Decimal(col("cv")))
    val cos =
      if (deterministic)
        cosineDeterministic(col("qv"), col("cv"), col("qn"), col("cn"))
      else cosine(col("qv"), col("cv"))
    val pairs = c.join(broadcast(q),
        col("cand_id") =!= col("query_id") && col("clab") =!= col("qlab"))
      .select(col("query_id"), col("cand_id"), cos.as("cosine"))
    topKPerQuery(pairs, "cosine", k, ascending = false)
  }

  /** Margin-based BITEXT MINING (Artetxe & Schwenk 2019): score each
    * forward nearest-neighbor pair (x ∈ src, y ∈ tgt) by its cosine
    * RELATIVE to how promiscuous both endpoints are —
    *   margin(x,y) = cos(x,y) / (avgNNk(x)/2 + avgNNk(y)/2)
    * — which demotes "hub" vectors that are near everything (raw cosine
    * ranks hubs first; margin > ~1.06 is the usual mining threshold).
    * The parallel-corpus mining step of a multilingual pipeline; also
    * the better duplicate-pair scorer when embedding norms are noisy.
    * `src`/`tgt` id spaces must be disjoint (callers mine across
    * corpora; a shared id would be dropped as a self-match).
    *
    * Returns the forward top-k pairs (query_id, cand_id, cosine, rnk —
    * rnk by raw cosine) with `margin` attached. Thresholding happens
    * downstream; with actual neighbor counts kf/kb (boundary queries
    * may have < k neighbors) the exact form is
    *   margin = 2·kf·kb·cos / (sumF·kb + sumB·kf),
    * null when the denominator is ≤ 0 (all-negative neighborhoods
    * assert nothing).
    *
    * Determinism: per-pair cosines round to decimal(18,6) BEFORE the
    * neighborhood sums (a float sum is order-sensitive; the rounded
    * decimal sum is exact), integer count multipliers, ONE division via
    * the q22 (18,6)/(18,6)→(38,6) recipe, DOUBLE surface — gate q126.
    *
    * Scale shape: both neighbor passes go through the unified [[topK]]
    * dispatch, so each CORPUS side picks its own path by size/index —
    * brute force (broadcast queries, exact) only below the dispatch
    * threshold; past it LSH banding, or a persisted IVF/SQ8/PQ index
    * when one is supplied. Margin arithmetic is independent of how
    * neighbors were found (kf/kb are the ACTUAL neighbor counts, so
    * partial LSH neighborhoods score correctly). Neighborhood sums are
    * map-side-partial groupBys over the k-bounded pair frames, joined
    * back on the pair endpoints — everything shuffles k-bounded rows,
    * never the |src|×|tgt| cross product, and neither corpus is ever
    * broadcast whole (the round-6 scale caveat, closed).
    *
    * `srcIndex`/`tgtIndex` name persisted IVF indices over the
    * respective corpus (srcIndex serves the backward pass tgt→src);
    * `srcSize`/`tgtSize` skip the dispatch `count()` when known. */
  def marginMining(src: DataFrame, tgt: DataFrame, idCol: String,
                   vecCol: String, k: Int,
                   deterministic: Boolean = true,
                   srcIndex: Option[(graft.io.TableStore, String)] = None,
                   tgtIndex: Option[(graft.io.TableStore, String)] = None,
                   srcSize: Long = -1L, tgtSize: Long = -1L,
                   bruteForceThreshold: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val c6 = "decimal(18,6)"
    val fwd = topK(src, tgt, idCol, vecCol, k, index = tgtIndex,
      corpusSize = tgtSize, bruteForceThreshold = bruteForceThreshold,
      deterministic = deterministic)
    val bwd = topK(tgt, src, idCol, vecCol, k, index = srcIndex,
      corpusSize = srcSize, bruteForceThreshold = bruteForceThreshold,
      deterministic = deterministic)
    def nnStats(tk: DataFrame, sumName: String, cntName: String) =
      tk.groupBy(col("query_id"))
        .agg(sum(col("cosine").cast(c6)).cast(c6).as(sumName),
             count(lit(1)).as(cntName))
    val fs = nnStats(fwd, "__sf", "__kf")
    val bs = nnStats(bwd, "__sb", "__kb")
      .withColumnRenamed("query_id", "cand_id")
    val num = (col("__c6") * col("__kf") * col("__kb") * 2).cast(c6)
    val den = (col("__sf") * col("__kb") + col("__sb") * col("__kf")).cast(c6)
    fwd
      .withColumn("__c6", col("cosine").cast(c6))
      .join(fs, Seq("query_id"))
      // LEFT: under approximate routes (LSH/indexed) a forward
      // candidate may have NO backward neighborhood — its bucket/probe
      // set missed every src vector. An inner join would silently drop
      // the pair (its forward cosine/rank are still valid!); instead
      // the missing stats null the margin — "this pair's margin could
      // not be established", the same contract as den ≤ 0. On the
      // brute route every candidate has kb ≥ 1, so results are
      // join-type-invariant (gate q126's hash is unchanged).
      .join(bs, Seq("cand_id"), "left")
      .select(col("query_id"), col("cand_id"), col("cosine"), col("rnk"),
        when(den > 0, (num / den).cast("decimal(38,6)")).as("margin"))
  }

  // -------------------------------------------------------------------
  // Sign-bit (binary) embedding sketches: 1 bit per dimension, packed
  // 32 dims per long word — a 32× memory cut over float32 that turns
  // similarity into XOR+popcount. The classic cheap pre-filter in front
  // of exact cosine at corpus scale (and the integer form is exactly
  // cross-engine reproducible, so it gate-checks: q72).
  // -------------------------------------------------------------------

  /** Pack sign bits of dims [from, min(from+32, dim)) into one
    * non-negative long (bit i set iff vec[from+i] > 0; missing dims read
    * as 0). The sum is fully unrolled — plain codegen'd arithmetic, no
    * lambdas. Indices past `dim` are never emitted, and runtime-short
    * arrays read through `try_element_at` (null → bit 0) — plain
    * element_at's out-of-bounds-is-null is non-ANSI, and under
    * spark.sql.ansi.enabled the sketch would throw instead of honoring
    * the missing-dims-as-0 contract. */
  private def signWord(vec: Column, from: Int, dim: Int): Column =
    (0 until math.min(32, dim - from)).map { i =>
      when(try_element_at(vec, lit(from + i + 1)) > 0f, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Sign sketch of a `dim`-dimensional vector: array of ceil(dim/32)
    * packed words, each in [0, 2^32). 32-bit packing (not 64) keeps every
    * word exactly representable in engines whose BIGINT arithmetic traps
    * on 2^63 overflow — the sketch is portable integer data. */
  def signSketch(vec: Column, dim: Int): Column = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    array((0 until dim by 32).map(signWord(vec, _, dim)): _*)
  }

  /** Hamming distance between two equal-length sign sketches:
    * Σ popcount(a_i XOR b_i) — the native fused kernel
    * (graft.functions.HammingDistance, whole-stage codegen). Parity
    * with the lambda reference `KernelReferences.hammingDistance` (test
    * sources) is spec-pinned. */
  def hammingDistance(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecHamming(a, b)

  /** Hamming top-k of `candidates` for each row of `queries` over sign
    * sketches. Same broadcast-queries shape as [[bruteForceTopK]], but
    * each comparison is dim/32 XOR+popcounts instead of dim FMAs, and the
    * shuffled pair rows carry two small longs instead of float vectors.
    * Ties break by ascending candidate id. */
  def hammingTopK(queries: DataFrame, candidates: DataFrame,
                  idCol: String, vecCol: String, dim: Int, k: Int)
      : DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      signSketch(col(vecCol), dim).as("qs"))
    val c = candidates.select(col(idCol).as("cand_id"),
      signSketch(col(vecCol), dim).as("cs"))
    val pairs = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        hammingDistance(col("qs"), col("cs")).as("hamming"))
    // hamming is integer-valued, so the round trip through the
    // aggregator's double score is exact; restore the kernel's int type
    topKPerQuery(pairs, "hamming", k, ascending = true)
      .withColumn("hamming", col("hamming").cast("int"))
  }

  /** Distributed centroid UPDATE (the k-means M-step, pairing
    * [[assignToCentroids]]'s E-step): per (label, dimension) exact
    * decimal component sums + member counts — the sufficient statistics
    * of the new centroids. Surfaces sums and counts, NOT means: a
    * rational mean ties at the rounding digit for round divisors (the
    * cluster sizes), the cross-engine trap documented in NOTES; callers
    * divide once in whatever precision they need.
    *
    * Shape at 100 TB: posexplode to (label, pos, value) — dim× row
    * blow-up inside the scan stage — then ONE map-side-partial groupBy
    * on (label, pos): k·dim result rows, no windows, no collects. The
    * hot dimension key space is k·dim ≫ cores, so no salting needed. */
  def centroidUpdateStats(df: DataFrame, labelCol: String, vecCol: String)
      : DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v").cast("double").cast("decimal(38,15)")).as("__s"),
           count(lit(1)).as("n"))
      // surface via DOUBLE before the 6-decimal cast: engines agree on
      // double→decimal ROUNDING but NOT on decimal→decimal downscale
      // (DuckDB truncates there, Spark rounds half-up)
      .select(col("label"), col("pos").cast("int").as("pos"),
        col("__s").cast("double").cast("decimal(38,6)").cast("double")
          .as("sum_val"),
        col("n"))

  /** Exact second-moment sufficient statistics of an embedding column:
    * for every dimension pair i ≤ j, the exact decimal sum Σ x_i·x_j
    * over all vectors, plus the row count — everything PCA/whitening
    * needs (with the per-dim first moments from
    * [[centroidUpdateStats]]) in dim(dim+1)/2 + dim driver rows.
    * Products of two floats are EXACT in double (24+24 ≤ 53 mantissa
    * bits), so cast-to-decimal(38,15)-then-sum is partition-order-proof
    * — the [[centroidUpdateStats]] recipe applied to the outer product.
    * Surface via DOUBLE before the (38,6) cast, the q79 rule.
    *
    * Scale shape: the pair expansion runs INSIDE the scan stage as a
    * higher-order `transform`×`slice` comprehension — no self-join, no
    * second shuffle; one map-side-partial groupBy on (i, j) whose
    * result is dim²-bounded metadata, never data-sized. The dim²×row
    * intermediate exists only inside codegen'd map tasks. */
  def covarianceStats(df: DataFrame, vecCol: String): DataFrame = {
    val pairs = expr(
      s"""flatten(transform($vecCol, (x, i) ->
         |  transform(slice($vecCol, i + 1, size($vecCol) - i), (y, k) ->
         |    struct(i AS i, i + k AS j,
         |      cast(cast(x AS double) * cast(y AS double)
         |           AS decimal(38,15)) AS p))))""".stripMargin)
    // dims²/2 products per row explode inside the scan stage — fan a
    // single-file scan out to all cores (no-op on real layouts)
    graft.ops.ScanFanout(df).where(col(vecCol).isNotNull)
      .select(explode(pairs).as("e"))
      .groupBy(col("e.i").cast("int").as("i"),
        col("e.j").cast("int").as("j"))
      .agg(sum(col("e.p")).as("__s"), count(lit(1)).as("n"))
      .select(col("i"), col("j"),
        col("__s").cast("double").cast("decimal(38,6)").cast("double")
          .as("sum_xy"),
        col("n"))
  }

  /** Deterministic cyclic Jacobi eigendecomposition of a symmetric
    * matrix — fixed sweep order, convergence on off-diagonal norm;
    * returns (eigenvalues, eigenvectors as rows) sorted by eigenvalue
    * DESC with a deterministic sign convention (largest-|component|
    * entry positive, ties to the lower index). Pure driver math over a
    * dim×dim matrix — bounded model state, the IVF-centroid
    * precedent. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > 1e-14) {
      off = 0.0
      for (p <- 0 until n; q <- p + 1 until n) {
        off += a(p)(q) * a(p)(q)
        if (math.abs(a(p)(q)) > 1e-18) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t = math.signum(theta) /
            (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (k <- 0 until n) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = c * akp - s * akq
            a(k)(q) = s * akp + c * akq
          }
          for (k <- 0 until n) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = c * apk - s * aqk
            a(q)(k) = s * apk + c * aqk
          }
          for (k <- 0 until n) {
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = c * vkp - s * vkq
            v(k)(q) = s * vkp + c * vkq
          }
        }
      }
      sweep += 1
    }
    val pairsIdx = (0 until n)
      .map(i => (a(i)(i), i))
      .sortBy { case (lam, i) => (-lam, i) }
    val values = pairsIdx.map(_._1).toArray
    val vectors = pairsIdx.map { case (_, i) =>
      val vec = Array.tabulate(n)(k => v(k)(i))
      // deterministic sign: the largest-|x| component (lowest index on
      // ties) points positive
      val pivot = vec.indices.maxBy(k => (math.abs(vec(k)), -k))
      if (vec(pivot) < 0) vec.map(x => -x) else vec
    }.toArray
    (values, vectors)
  }

  /** PCA whitening of an embedding column: project onto the top
    * `outDim` principal components scaled to unit variance — the
    * standard pre-step before cosine-based dedup/retrieval when raw
    * dimensions are correlated (whitened space makes Euclidean ≈
    * Mahalanobis). Covariance comes from [[covarianceStats]] +
    * [[centroidUpdateStats]] (exact decimal sums → dim²-bounded driver
    * rows — metadata, not data), eigenpairs from the deterministic
    * [[jacobiEigen]], and the projection rides the fused decimal-dot
    * kernel with the whitening rows baked in as LITERAL arrays — one
    * map-only pass over the corpus, the rademacherProject shape, no
    * broadcast needed. Iterative eigensolve has no SQL form — model
    * spec-pinned like BPE/MMR; the covariance input is the
    * hash-checked surface (gate q138).
    *
    * Output: (idCol, `outCol` array<double> of length outDim). */
  def pcaWhiten(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                outDim: Int, eps: Double = 1e-9,
                outCol: String = "white"): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(outDim >= 1 && outDim <= dim,
      s"outDim must be in [1, dim=$dim], got $outDim")
    val moments = covarianceStats(df, vecCol)
      .select(col("i"), col("j"), col("sum_xy"), col("n")).collect()
    require(moments.nonEmpty, "empty input: no covariance to whiten")
    val n = moments.head.getLong(3).toDouble
    val sums = df.where(col(vecCol).isNotNull)
      .withColumn("__l", lit(0))
    val firstMoments = centroidUpdateStats(sums, "__l", vecCol)
      .select(col("pos"), col("sum_val")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val cov = Array.ofDim[Double](dim, dim)
    moments.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val sxy = r.getDouble(2)
      val c = (sxy - firstMoments(i) * firstMoments(j) / n) / n
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (values, vectors) = jacobiEigen(cov)
    val mean = Array.tabulate(dim)(i => firstMoments(i) / n)
    val comps = (0 until outDim).map { r =>
      val scale = 1.0 / math.sqrt(math.max(values(r), 0.0) + eps)
      val row = vectors(r)
      // (x − μ)·w = x·w − μ·w: fold the mean shift into a constant so
      // the per-row work stays one fused decimal dot
      val w = array((0 until dim).map(i => lit(row(i) * scale)): _*)
      val shift = (0 until dim).map(i => mean(i) * row(i) * scale).sum
      (dotDecimal(col(vecCol), w).cast("double") - lit(shift))
    }
    df.where(col(vecCol).isNotNull)
      .select(col(idCol), array(comps: _*).as(outCol))
  }

  /** Assign every vector to its nearest centroid by squared L2 distance —
    * the k-means assignment step as a standalone operator (cluster-based
    * corpus curation / diversity sampling: bucket the corpus, then sample
    * or cap per cluster). The full deterministic Lloyd training already
    * lives in [[ivfCentroids]]; this exposes one assignment pass
    * over an ARBITRARY centroid frame (trained, loaded, or hand-picked).
    *
    * Scale shape: centroids are broadcast (k×dim — the same legitimate
    * small model as IVF), the corpus is scanned once, and the argmin is a
    * groupBy min(struct(dist, id)) — map-side partial, one shuffle keyed
    * on the vector id, never a window. Distance via the expansion
    * |v|² + |c|² − 2·v·c on the native decimal-dot kernel: three fused
    * codegen'd sums, and the combination runs in IEEE double — the same
    * exact-decimal-sums + double-finish recipe as
    * [[cosineDeterministic]], so the assignment is oracle-checkable
    * (gate query q61). Ties break toward the lowest centroid id.
    */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame,
                        idCol: String, vecCol: String,
                        centroidIdCol: String, centroidVecCol: String)
      : DataFrame = {
    // n×nlist argmin is the heaviest map pass of the SemDeDup family —
    // fan a single-file scan out to all cores (no-op on real layouts)
    val v = graft.ops.ScanFanout(vectors)
      .select(col(idCol).as("vec_id"), col(vecCol).as("vv"))
      .withColumn("vn", norm2Decimal(col("vv")))
    val c = centroids.select(col(centroidIdCol).as("centroid_id"),
        col(centroidVecCol).as("cv"))
      .withColumn("cn", norm2Decimal(col("cv")))
    val dist2 = col("vn").cast("double") + col("cn").cast("double") -
      lit(2.0) * dotDecimal(col("vv"), col("cv")).cast("double")
    v.crossJoin(broadcast(c))
      .select(col("vec_id"), col("centroid_id"), dist2.as("dist2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist2"), col("centroid_id"))).as("m"))
      .select(col("vec_id"), col("m.centroid_id").as("centroid_id"),
        col("m.dist2").as("dist2"))
  }

  /** B-bit sign signature of a vector under deterministic hyperplanes:
    * the component for (plane, dim) is xxhash64(seed, plane, dim) → ±1,
    * so there is no driver-side RNG state. Native fused-loop codegen
    * kernel (graft.functions.LshSignature) — this runs over the FULL
    * corpus on every LSH pass, so it must not be a CodegenFallback
    * lambda chain. Bit-identical to the lambda reference
    * `KernelReferences.lshSignature` in the test sources (spec-pinned). */
  def lshSignature(vec: Column, bits: Int, seed: Int = 42): Column =
    graft.functions.VectorFunctions.vecLshSignature(vec, bits, seed)

  /** The md5-parity hyperplane component for (plane p, dim d): ±1 by
    * the parity of the first 15 md5 hex digits of "lsh:p:d" — the same
    * value [[TextAnalysis.md5Hash60]] (and DuckDB's
    * `('0x'||substring(md5(..),1,15))::BIGINT`) produce, computed here
    * driver-side with the JDK digest because the component matrix is
    * DATA-INDEPENDENT: baking it in as literals keeps the signature in
    * whole-stage codegen instead of evaluating bits·dims md5s per row
    * (parity with the expression form is spec-pinned). */
  private[graft] def md5PlaneComponent(plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"lsh:$plane:$dim".getBytes("US-ASCII"))
      .map(b => f"$b%02x").mkString
    if (java.lang.Long.parseLong(hex.take(15), 16) % 2 == 0) 1.0 else -1.0
  }

  /** Gate form of the LSH signature on cross-engine md5-parity
    * hyperplanes: each plane dot runs through the exact DECIMAL(38,15)
    * accumulation chain (deterministic rounding both engines reproduce,
    * the proven q26 recipe) against a ±1 plane vector, so the SIGN of
    * every plane dot — hence every signature bit — is bit-reproducible
    * in DuckDB, which is what lets the whole LSH search path hash-check
    * at the gate (q84).
    *
    * Round 12: now the FUSED native expression
    * [[graft.functions.LshSignatureMd5Planes]] — one pass per row that
    * converts each element to its decimal once and reuses ±it across
    * all planes (the previous per-plane `dotDecimal(vec, planeLiteral)`
    * column tree re-converted every element once per plane through
    * Double.toString/BigDecimal — the measured q363/q341 hot spot —
    * and carried bits × dims literal nodes into every codegen
    * fragment). Bit-identical by construction and spec-pinned against
    * the old column tree, kept as `KernelReferences.lshSignatureMd5` in
    * the test sources; production uses the fused xxhash64
    * [[lshSignature]] kernel — the gate variant shares its banding
    * math and recall behavior by construction. */
  def lshSignatureMd5(vec: Column, bits: Int, dims: Int): Column = {
    require(bits >= 1 && bits <= 63, s"bits=$bits out of [1, 63]")
    require(dims >= 1, s"dims must be >= 1, got $dims")
    graft.functions.VectorFunctions.vecLshSignatureMd5(vec, bits, dims)
  }

  /** (band, key) structs for a vector, choosing the signature layout by
    * width: total bits ≤ 63 pack into ONE long ([[lshSignature]] +
    * [[bandKeys]] — the layout every pinned fixture uses), wider
    * signatures use the MULTI-LONG kernel (LshBandKeys: one long key
    * per band, no total-bits cap — the ≫10^8-vector corpus path). The
    * two layouts are bit-compatible where they overlap (spec-pinned):
    * plane hashes chain identically, so a ≤63-bit signature's band
    * keys agree between them. */
  def bandKeysOf(vec: Column, bits: Int, bands: Int, seed: Int = 42): Column = {
    require(bands >= 1 && bits % bands == 0,
      s"bits=$bits must divide into bands=$bands")
    if (bits <= 63) bandKeys(lshSignature(vec, bits, seed), bits, bands)
    else {
      val keys = graft.functions.VectorFunctions.vecLshBandKeys(vec, bits, bands, seed)
      zip_with(keys, sequence(lit(0), lit(bands - 1)),
        (k, b) => struct(b.cast("int").as("band"), k.as("key")))
    }
  }

  /** Band the signature into `bands` keys of `bits/bands` bits each. */
  def bandKeys(sig: Column, bits: Int, bands: Int): Column = {
    require(bands >= 1 && bits % bands == 0 && bits / bands <= 63,
      s"bits=$bits must divide into bands=$bands with width <= 63 " +
        "(a 64-bit band mask overflows to 0 and collapses all buckets)")
    val width = bits / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(sig, b * width).bitwiseAND(lit((1L << width) - 1)).as("key"))
    }: _*)
  }

  // -------------------------------------------------------------------
  // IVF (inverted-file) ANN: deterministic mini-KMeans partitions the
  // corpus into nlist buckets; a query probes its nprobe nearest
  // centroids and scores only those buckets exactly.
  //
  // Scale shape: the centroid model is tiny (nlist × dim doubles — the
  // one legitimate driver-side collect, same contract as an MLlib
  // model); corpus assignment is a broadcast crossJoin + argmin (no
  // shuffle of the corpus); Lloyd updates shuffle (bucket, dim) partial
  // sums. Query cost ∝ nprobe/nlist of the corpus.
  // -------------------------------------------------------------------

  /** Deterministic KMeans centroids: init = first nlist vectors by id,
    * `iters` Lloyd rounds. Returns (cid, centroid, norm²) rows. */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nlist: Int, iters: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    var cents: Seq[(Int, Seq[Double])] = base.orderBy("id").limit(nlist)
      .select("v").as[Seq[Double]].collect().zipWithIndex
      .map { case (v, i) => (i, v) }.toSeq
    for (_ <- 1 to iters) {
      val cdf = cents.toDF("cid", "cv")
      val assigned = assignBuckets(base, cdf)
      val upd = assigned.join(base, "id")
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(avg("x").as("x"))
        .groupBy("cid").agg(array_sort(collect_list(struct(col("pos"), col("x")))).as("ps"))
        .select(col("cid"), transform(col("ps"), p => p.getField("x")).as("cv"))
        .as[(Int, Seq[Double])].collect().toSeq
      // clusters that lost every point keep their previous centroid
      val updMap = upd.toMap
      cents = cents.map { case (cid, v) => (cid, updMap.getOrElse(cid, v)) }
    }
    cents.toDF("cid", "cv")
      .withColumn("cnorm", graft.functions.VectorFunctions.vecNorm2(col("cv")))
  }

  /** argmin-distance bucket per row of `vecs(id, v)` given `cents(cid, cv)`. */
  private def assignBuckets(vecs: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions._
    val withN = vecs.withColumn("vn", vecNorm2(col("v")))
    val cn = cents.withColumn("cn", vecNorm2(col("cv")))
    withN.crossJoin(broadcast(cn))
      .withColumn("dist", col("vn") - lit(2.0) * vecDot(col("v"), col("cv")) + col("cn"))
      .groupBy(col("id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("id"), col("m.cid").as("cid"))
  }

  /** IVF ANN top-k: nprobe nearest buckets scored exactly. */
  def ivfTopK(queries: DataFrame, candidates: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 4, iters: Int = 3): DataFrame = {
    import graft.functions.VectorFunctions._
    val cents = ivfCentroids(candidates, idCol, vecCol, nlist, iters)
    val corpus = candidates.select(col(idCol).cast("long").as("cand_id"),
      col(vecCol).as("cvec0"))
      .withColumn("v", col("cvec0").cast("array<double>")).drop("cvec0")
    val buckets = assignBuckets(
      corpus.select(col("cand_id").as("id"), col("v")), cents)
      .withColumnRenamed("id", "cand_id")
    val corpusB = corpus.join(buckets, "cand_id")
    // query-side probe list: nprobe nearest centroids
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", vecNorm2(col("qv")))
    val probes = ivfProbeList(q, cents, nprobe)
    val scored = probes.join(corpusB, "cid")
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        cosine(col("qv"), col("v")).as("cosine"))
    // probed-bucket candidates can still be occupancy * nprobe rows per
    // query — k-bounded aggregation, not a window sort (see topKPerQuery)
    topKPerQuery(scored, "cosine", k, ascending = false)
  }

  /** nprobe nearest centroids per query as (query_id, qv, cid) rows —
    * the probe-selection step shared by [[ivfTopK]] and
    * [[ivfTopKIndexed]]. Selection is the k-bounded [[topKPerQuery]]
    * (nprobe-bounded aggregation buffers), not a row_number window:
    * the old per-query window was nlist-bounded and safe, but the
    * aggregator form removes the sort entirely and makes every ANN
    * selection in this file one shape. Ties break to the lowest cid
    * (window parity, pinned by the indexed==direct spec). */
  private def ivfProbeList(q: DataFrame, cents: DataFrame,
                           nprobe: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    val probePairs = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("cid").cast("long").as("cand_id"),
        (col("qn") - lit(2.0) * vecDot(col("qv"), col("cv")) + col("cnorm"))
          .as("dist"))
    topKPerQuery(probePairs, "dist", nprobe, ascending = true)
      .select(col("query_id"), col("cand_id").cast("int").as("cid"))
      .join(q.select(col("query_id"), col("qv")), "query_id")
      .select(col("query_id"), col("qv"), col("cid"))
  }

  /** The deterministic-gate squared distance: the IEEE-double
    * combination of exact decimal sums, `vnrm − 2·(v·c) + cnrm`, with
    * this FIXED association — shared by the IVF (q86) and PQ (q87)
    * gate paths so their oracles mirror one expression shape. */
  private def decimalSqDist(vnrm: Column, v: Column, cv: Column,
                            cnrm: Column): Column =
    vnrm - lit(2.0) * dotDecimal(v, cv).cast("double") + cnrm

  /** Gate form of IVF top-k, cross-engine deterministic end to end
    * (q86): centroids are the first `nlist` corpus vectors by id (the
    * Lloyd iters=0 init — training itself averages doubles and is not
    * oracle-comparable; q61/q79 gate the E/M steps separately), and
    * every distance is the IEEE-double COMBINATION of exact decimal
    * sums (`‖v‖² − 2·v·c + ‖c‖²`, each term a [[dotDecimal]] kernel
    * result cast to double — the NOTES determinism rule), so bucket
    * assignment, probe selection, and the exact rerank reproduce
    * bit-for-bit in DuckDB. Windowless: assignment argmin is
    * groupBy + min(struct), probe selection and rerank are the
    * k-bounded [[topKPerQuery]]. Production stays [[ivfTopK]] (trained
    * centroids, fast double kernels) — same probe/rerank shape. */
  def ivfTopKDeterministic(queries: DataFrame, candidates: DataFrame,
                           idCol: String, vecCol: String, k: Int,
                           nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    require(nlist >= 1 && nprobe >= 1 && nprobe <= nlist,
      s"need 1 <= nprobe ($nprobe) <= nlist ($nlist)")
    val cents = candidates
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"))
      .orderBy("cid").limit(nlist)
      .withColumn("cnrm", norm2Decimal(col("cv")).cast("double"))
    val corpus = candidates
      .select(col(idCol).cast("long").as("cand_id"), col(vecCol).as("v"))
      .withColumn("vnrm", norm2Decimal(col("v")).cast("double"))
    def dist = decimalSqDist(col("vnrm"), col("v"), col("cv"), col("cnrm"))
    val assigned = corpus.crossJoin(broadcast(cents))
      .select(col("cand_id"), dist.as("dist"), col("cid"))
      .groupBy("cand_id")
      .agg(min(struct(col("dist"), col("cid"))).getField("cid").as("cid"))
      .join(corpus.select(col("cand_id"), col("v")), "cand_id")
    val q = queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("v"))
      .withColumn("vnrm", norm2Decimal(col("v")).cast("double"))
    val probePairs = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("cid").as("cand_id"), dist.as("dist"))
    val probes = topKPerQuery(probePairs, "dist", nprobe, ascending = true)
      .select(col("query_id"), col("cand_id").as("cid"))
      .join(q.select(col("query_id"), col("v").as("qv")), "query_id")
    val scored = probes.join(assigned, "cid")
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        cosineDeterministic(col("qv"), col("v"),
          norm2Decimal(col("qv")), norm2Decimal(col("v"))).as("cosine"))
    topKPerQuery(scored, "cosine", k, ascending = false)
  }

  // -------------------------------------------------------------------
  // Product quantization (PQ): split each vector into m subspaces,
  // quantize every subvector to its nearest subspace centroid, store
  // only the m small codes — the classic embedding-compression ANN
  // path (sign sketches compress to 1 bit/dim; PQ keeps geometry at
  // ~log2(nlist) bits per subspace). Search is asymmetric distance
  // computation (ADC): the query stays exact, each candidate's
  // distance is the sum of its m looked-up subspace distances — a
  // per-query LUT of m·nlist entries joined against the codes table,
  // map-only over the (tiny) codes, never the raw vectors.
  // -------------------------------------------------------------------

  /** Subspace codebooks for the deterministic gate form: per subspace
    * j, centroids = the first `nlist` corpus subvectors by id (the
    * same iters=0 convention as [[ivfTopKDeterministic]] — trained
    * codebooks average doubles and are not oracle-comparable).
    * Returns (j, cid, cv, cnrm). */
  def pqCodebooks(candidates: DataFrame, idCol: String, vecCol: String,
                  m: Int, sub: Int, nlist: Int): DataFrame = {
    val base = candidates
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("v"))
      .orderBy("cid").limit(nlist)
    (0 until m).map { j =>
      base.select(lit(j).as("j"), col("cid"),
        slice(col("v"), j * sub + 1, sub).as("cv"))
    }.reduce(_ unionByName _)
      .withColumn("cnrm", norm2Decimal(col("cv")).cast("double"))
  }

  /** One scan → m (id, j, subvector) rows per input vector: explode an
    * inline struct array instead of unioning m per-subspace branches,
    * which would plan m separate scans of the corpus. */
  private def subspaceRows(df: DataFrame, idCol: String, vecCol: String,
                           as: String, m: Int, sub: Int): DataFrame =
    // the m-subvector explode + decimal scoring downstream is the PQ
    // hot loop — fan a single-file scan out (no-op on real layouts)
    graft.ops.ScanFanout(df).select(col(idCol).cast("long").as(as),
        explode(array((0 until m).map(j =>
          struct(lit(j).as("j"),
            slice(col(vecCol), j * sub + 1, sub).as("sv"))): _*)).as("e"))
      .select(col(as), col("e.j").as("j"), col("e.sv").as("sv"))

  /** PQ encode: (cand_id, j, code) — the nearest codebook entry per
    * subspace, distances decimal-exact (see [[ivfTopKDeterministic]]),
    * argmin via groupBy + min(struct) (windowless), ties to the lowest
    * centroid id. The output is the compressed corpus: m · log2(nlist)
    * bits per vector. One corpus scan (subspaces explode inside it). */
  def pqEncode(candidates: DataFrame, idCol: String, vecCol: String,
               m: Int, sub: Int, nlist: Int): DataFrame =
    pqEncodeWith(candidates, idCol, vecCol,
      pqCodebooks(candidates, idCol, vecCol, m, sub, nlist), m, sub)

  /** [[pqEncode]] against GIVEN codebooks — the admission path of the
    * persisted index ([[updatePqIndex]]): codes must come from the
    * frozen stored books, never from re-derived ones. */
  private def pqEncodeWith(candidates: DataFrame, idCol: String,
                           vecCol: String, books: DataFrame,
                           m: Int, sub: Int): DataFrame = {
    val subs = subspaceRows(candidates, idCol, vecCol, "cand_id", m, sub)
      .withColumn("vnrm", norm2Decimal(col("sv")).cast("double"))
    subs.join(broadcast(books), Seq("j"))
      .select(col("cand_id"), col("j"),
        decimalSqDist(col("vnrm"), col("sv"), col("cv"), col("cnrm"))
          .as("dist"),
        col("cid"))
      .groupBy(col("cand_id"), col("j"))
      .agg(min(struct(col("dist"), col("cid"))).getField("cid").as("code"))
  }

  /** PQ ADC top-k, cross-engine deterministic (gate q87): per query,
    * build the m·nlist LUT of exact subspace distances, join it to the
    * codes on (j, code), and recombine the m per-subspace doubles in a
    * FIXED expression order (a pivot — `sum()` over doubles would be
    * order-nondeterministic), then rank ascending with the k-bounded
    * [[topKPerQuery]]. Approximate by construction (quantization
    * error); the gate checks the COMPUTATION, recall vs brute force is
    * spec-checked like LSH/IVF. */
  def pqTopKDeterministic(queries: DataFrame, candidates: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          m: Int = 4, dims: Int = 64, nlist: Int = 16)
      : DataFrame = {
    require(m >= 1 && dims % m == 0,
      s"dims=$dims must split into m=$m equal subspaces")
    require(m <= 16, s"the fixed-order pivot recombine supports m <= 16, got $m")
    val sub = dims / m
    val books = pqCodebooks(candidates, idCol, vecCol, m, sub, nlist)
    pqSearch(pqEncodeWith(candidates, idCol, vecCol, books, m, sub),
      books, queries, idCol, vecCol, k, m, sub)
  }

  /** The PQ ADC search stage shared by the direct and indexed paths:
    * per-query LUT of exact subspace distances, (j, code) join against
    * the codes, fixed-order pivot recombine, k-bounded rank. */
  private def pqSearch(codes: DataFrame, books: DataFrame,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, m: Int, sub: Int): DataFrame = {
    val qsubs = subspaceRows(queries, idCol, vecCol, "query_id", m, sub)
      .withColumn("qnrm", norm2Decimal(col("sv")).cast("double"))
    val lut = qsubs.join(broadcast(books), Seq("j"))
      .select(col("query_id"), col("j"), col("cid").as("code"),
        decimalSqDist(col("qnrm"), col("sv"), col("cv"), col("cnrm"))
          .as("d"))
    val perSub = codes.join(lut, Seq("j", "code"))
      .filter(col("cand_id") =!= col("query_id"))
    // fixed-order recombine: one column per subspace, then d0+d1+...+dm
    val aggCols = (0 until m).map(j =>
      max(when(col("j") === j, col("d"))).as(s"d$j"))
    val pivoted = perSub.groupBy(col("query_id"), col("cand_id"))
      .agg(aggCols.head, aggCols.tail: _*)
    val approx = (0 until m).map(j => col(s"d$j")).reduce(_ + _)
    val scored = pivoted.select(col("query_id"), col("cand_id"),
      approx.as("approx_dist"))
    topKPerQuery(scored, "approx_dist", k, ascending = true)
  }

  /** Persist a PQ index: codebooks + encoded codes + a meta row
    * (m, sub, nlist) — query batches skip codebook derivation and the
    * corpus encode (the build-once/probe-many shape of the exact/fuzzy/
    * decontam/IVF/SQ8 index family). The codes table is the compressed
    * corpus — m · log2(nlist) bits per vector. */
  def buildPqIndex(store: graft.io.TableStore, prefix: String,
                   corpus: DataFrame, idCol: String, vecCol: String,
                   m: Int = 4, dims: Int = 64, nlist: Int = 16): Unit = {
    require(m >= 1 && dims % m == 0,
      s"dims=$dims must split into m=$m equal subspaces")
    require(m <= 16, s"the fixed-order pivot recombine supports m <= 16, got $m")
    val sub = dims / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val books = pqCodebooks(corpus, idCol, vecCol, m, sub, nlist)
    store.overwrite(s"$prefix.books", books)
    store.overwrite(s"$prefix.codes",
      pqEncodeWith(corpus, idCol, vecCol, books, m, sub))
    store.overwrite(s"$prefix.meta",
      Seq((m, sub, nlist)).toDF("m", "sub", "nlist"))
  }

  /** Admit a batch into a persisted PQ index: encode against the FROZEN
    * stored codebooks (admission must not move codes queries already
    * rank against; re-build when drift accumulates) and append. Batch
    * ids must be new. Checkpointed before the append (the
    * updateExactIndex contract: the lineage reads store state). */
  def updatePqIndex(store: graft.io.TableStore, prefix: String,
                    batch: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    val meta = store.read(s"$prefix.meta").head()
    val (m, sub) = (meta.getAs[Int]("m"), meta.getAs[Int]("sub"))
    val books = store.read(s"$prefix.books")
    val coded0 = pqEncodeWith(batch, idCol, vecCol, books, m, sub)
    val coded =
      if (batch.sparkSession.sparkContext.getCheckpointDir.isDefined)
        coded0.checkpoint()
      else coded0.localCheckpoint()
    store.append(s"$prefix.codes", coded)
    coded
  }

  /** PQ ADC top-k against a persisted index ([[buildPqIndex]]): same
    * search as [[pqTopKDeterministic]], but codebooks and codes come
    * from the store — no codebook derivation, no corpus encode. Result
    * ≡ the direct path on the same corpus (the gate runs it against the
    * q87 oracle). */
  def pqTopKIndexed(store: graft.io.TableStore, prefix: String,
                    queries: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    val meta = store.read(s"$prefix.meta").head()
    pqSearch(store.read(s"$prefix.codes"), store.read(s"$prefix.books"),
      queries, idCol, vecCol, k,
      meta.getAs[Int]("m"), meta.getAs[Int]("sub"))
  }

  // -------------------------------------------------------------------
  // Scalar quantization (SQ8): per-dimension affine quantization of
  // each component to an 8-bit code — the 4× memory cut that keeps
  // per-dimension resolution, sitting between the 1-bit sign sketch
  // (q72) and PQ's subspace codes (q87) in the compression family.
  // The model is 2·dim doubles (per-dim min and span — a one-row
  // broadcast frame, the same bounded-model contract as centroids);
  // encode and dequantize are map-only transforms inside the scan
  // stage. Search is asymmetric: the query stays exact, candidates are
  // dequantized from their codes.
  //
  // Cross-engine determinism needs no special gate form: min/max are
  // SELECTIONS (no rounding), and the affine maps are chains of
  // individually-correctly-rounded IEEE ops (−, /, ×) on bit-identical
  // inputs — deterministic by the NOTES rule (only order-sensitive
  // float SUMS and non-sqrt transcendentals are unsafe). floor() is
  // exact, so the codes are exactly reproducible integers; distances
  // then follow the q86/q87 decimal recipe.
  // -------------------------------------------------------------------

  /** Per-dimension quantization stats as ONE row of two ordered
    * array<double> columns (mins, spans). posexplode feeds a map-side
    * partial groupBy(d); the final collect_list is dim-bounded (the
    * centroid-model contract), sorted by dimension — never a window. */
  def sqStats(candidates: DataFrame, vecCol: String): DataFrame =
    graft.ops.ScanFanout(candidates)
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy()
      .agg(array_sort(collect_list(
        struct(col("d"), col("mn"), col("mx")))).as("s"))
      .select(
        transform(col("s"), e => e.getField("mn")).as("mins"),
        transform(col("s"), e => e.getField("mx") - e.getField("mn"))
          .as("spans"))

  /** SQ8 encode: (cand_id, codes array<int>), code_i =
    * clamp(floor((x_i − mn_i)/span_i · 255), 0, 255) (0 where the
    * dimension is constant). Codes clamp on BOTH ends so vectors
    * outside the stats frame's range (late-arriving batches) still
    * encode. Map-only over the corpus; stats ride a broadcast. */
  def sqEncode(candidates: DataFrame, idCol: String, vecCol: String,
               stats: DataFrame): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    // the per-element clamp transform is interpreted (higher-order
    // function) — fan a single-file scan out (no-op on real layouts)
    graft.ops.ScanFanout(candidates).crossJoin(broadcast(stats))
      .select(col(idCol).cast("long").as("cand_id"),
        transform(sequence(lit(0), size(v) - 1), i => {
          val x  = element_at(v, i + 1)
          val mn = element_at(col("mins"), i + 1)
          val sp = element_at(col("spans"), i + 1)
          when(sp > 0,
            least(greatest(floor(((x - mn) / sp) * lit(255.0)), lit(0L)),
              lit(255L)).cast("int"))
            .otherwise(lit(0))
        }).as("codes"))
  }

  /** Dequantized vectors from codes: x̂_i = mn_i + (code_i · span_i)/255
    * — map-only, used by the search path and exposed for reconstruction
    * -error audits. */
  def sqDecode(codes: DataFrame, stats: DataFrame): DataFrame =
    codes.crossJoin(broadcast(stats))
      .select(col("cand_id"),
        transform(sequence(lit(0), size(col("codes")) - 1), i =>
          element_at(col("mins"), i + 1) +
            (element_at(col("codes"), i + 1).cast("double") *
              element_at(col("spans"), i + 1)) / lit(255.0)).as("v"))

  /** SQ8 ADC top-k (gate q110): exact query against dequantized
    * candidates, squared distance via the shared q86/q87 decimal
    * recipe, k-bounded [[topKPerQuery]] rank — windowless end to end
    * and cross-engine deterministic with no separate gate form (see
    * the section comment). Approximate by construction (quantization
    * error); recall vs brute force is spec-checked like LSH/IVF/PQ. */
  def sqTopK(queries: DataFrame, candidates: DataFrame,
             idCol: String, vecCol: String, k: Int): DataFrame = {
    val stats = sqStats(candidates, vecCol)
    val codes = sqEncode(candidates, idCol, vecCol, stats)
    val cand = sqDecode(codes, stats)
      .withColumn("cnrm", norm2Decimal(col("v")).cast("double"))
    val q = queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
      .withColumn("qnrm", norm2Decimal(col("qv")).cast("double"))
    val scored = cand.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        decimalSqDist(col("qnrm"), col("qv"), col("v"), col("cnrm"))
          .as("approx_dist"))
    topKPerQuery(scored, "approx_dist", k, ascending = true)
  }

  /** Persist an SQ8 index: the per-dim stats row + the encoded codes
    * table — repeated query batches skip the stats scan and the corpus
    * encode entirely (the build-once/probe-many shape of the exact/
    * fuzzy/decontam/IVF index family). Codes are 4× smaller than the
    * float corpus; the stats model is 2·dim doubles. */
  def buildSqIndex(store: graft.io.TableStore, prefix: String,
                   corpus: DataFrame, idCol: String, vecCol: String): Unit = {
    val stats = sqStats(corpus, vecCol)
    store.overwrite(s"$prefix.stats", stats)
    store.overwrite(s"$prefix.codes",
      sqEncode(corpus, idCol, vecCol, stats))
  }

  /** Admit a batch into a persisted SQ8 index: encode against the
    * FROZEN stored stats (admission must not move anyone's codes —
    * out-of-range components clamp, exactly the [[sqEncode]] contract;
    * re-build when drift accumulates) and append. Batch ids must be
    * new. Checkpointed before the append (the updateExactIndex
    * contract: the lineage reads store state). */
  def updateSqIndex(store: graft.io.TableStore, prefix: String,
                    batch: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    val stats = store.read(s"$prefix.stats")
    val coded0 = sqEncode(batch, idCol, vecCol, stats)
    val coded =
      if (batch.sparkSession.sparkContext.getCheckpointDir.isDefined)
        coded0.checkpoint()
      else coded0.localCheckpoint()
    store.append(s"$prefix.codes", coded)
    coded
  }

  /** SQ8 ADC top-k against a persisted index ([[buildSqIndex]]): same
    * search as [[sqTopK]], but candidates come from the stored codes —
    * no stats scan, no corpus encode. Result ≡ the direct path on the
    * same corpus (spec-pinned; the gate runs it against the q110
    * oracle). */
  def sqTopKIndexed(store: graft.io.TableStore, prefix: String,
                    queries: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    val stats = store.read(s"$prefix.stats")
    val cand = sqDecode(store.read(s"$prefix.codes"), stats)
      .withColumn("cnrm", norm2Decimal(col("v")).cast("double"))
    val q = queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
      .withColumn("qnrm", norm2Decimal(col("qv")).cast("double"))
    val scored = cand.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        decimalSqDist(col("qnrm"), col("qv"), col("v"), col("cnrm"))
          .as("approx_dist"))
    topKPerQuery(scored, "approx_dist", k, ascending = true)
  }

  /** Persist an IVF index: centroids + per-vector bucket assignments as
    * store tables, so repeated query batches skip KMeans training and
    * corpus assignment entirely — the "build once, probe many" shape of
    * a production ANN service. */
  def buildIvfIndex(store: graft.io.TableStore, prefix: String,
                    corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int = 16, iters: Int = 3): Unit = {
    val cents = ivfCentroids(corpus, idCol, vecCol, nlist, iters)
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val buckets = assignBuckets(base, cents.select(col("cid"), col("cv")))
    store.overwrite(s"$prefix.centroids", cents)
    store.overwrite(s"$prefix.buckets", base.join(buckets, "id"))
  }

  /** Admit a batch of vectors into a persisted IVF index: assign each
    * to its nearest EXISTING centroid and append to the buckets table —
    * the continuous-ingest path of the ANN family (the exact/fuzzy
    * dedup and decontamination indexes have the same build-once/
    * admit-many shape). Centroids stay FIXED: admission must not move
    * the buckets queries already probe; re-train with [[buildIvfIndex]]
    * when drift accumulates (returned assignments let callers monitor
    * per-bucket occupancy for exactly that). Batch ids must be new —
    * the index stores one row per id and this appends blindly.
    *
    * The returned (id, cid) frame is CHECKPOINTED before the append
    * (the updateExactIndex contract: its lineage reads store state, and
    * re-actioning after the append would recompute against the mutated
    * table). */
  def updateIvfIndex(store: graft.io.TableStore, prefix: String,
                     batch: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    val cents = store.read(s"$prefix.centroids")
    val base = batch.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val assigned0 = base.join(
      assignBuckets(base, cents.select(col("cid"), col("cv"))), "id")
    val assigned =
      if (batch.sparkSession.sparkContext.getCheckpointDir.isDefined)
        assigned0.checkpoint()
      else assigned0.localCheckpoint()
    store.append(s"$prefix.buckets", assigned)
    assigned.select(col("id"), col("cid"))
  }

  /** Query a persisted IVF index (same semantics as [[ivfTopK]], minus
    * training/assignment cost). `deterministic` scores probed
    * candidates with the decimal-exact kernel (the [[bruteForceTopK]]
    * flag) so an index-backed side of a deterministic pipeline — e.g.
    * [[marginMining]] — keeps the cross-engine cosine contract. */
  def ivfTopKIndexed(store: graft.io.TableStore, prefix: String,
                     queries: DataFrame, idCol: String, vecCol: String,
                     k: Int, nprobe: Int = 4,
                     deterministic: Boolean = false): DataFrame = {
    import graft.functions.VectorFunctions._
    val cents = store.read(s"$prefix.centroids")
    val corpusB = store.read(s"$prefix.buckets")
      .withColumnRenamed("id", "cand_id")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", vecNorm2(col("qv")))
    val probes = ivfProbeList(q, cents, nprobe)
    val cos =
      if (deterministic)
        cosineDeterministic(col("qv"), col("v"),
          norm2Decimal(col("qv")), norm2Decimal(col("v")))
      else cosine(col("qv"), col("v"))
    val scored = probes.join(corpusB, "cid")
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), cos.as("cosine"))
    // probed-bucket candidates can still be occupancy * nprobe rows per
    // query — k-bounded aggregation, not a window sort (see topKPerQuery)
    topKPerQuery(scored, "cosine", k, ascending = false)
  }

  /** Band-key width sized for the corpus: with `width = bits/bands` bits
    * per band a band hashes the corpus into 2^width buckets, so expected
    * occupancy is n/2^width — this picks the smallest width keeping that
    * near `targetBucket`, clamped to [4, 30] (a larger corpus should
    * ALSO shrink targetBucket only with care — bucket-join cost is
    * Σ|bucket|², so occupancy is the knob that matters). Total bits are
    * no longer capped at a single long: [[bandKeysOf]] switches to the
    * multi-long kernel past 63, so width scales to genuinely huge
    * corpora (width 30 ≈ 10^9 buckets/band). A fixed small default
    * (the old 16/4 = 16 buckets/band) is quadratic for millions of
    * vectors — a production footgun the round-2 review flagged;
    * deriving from n removes it while `maxBucketSize` still caps
    * pathological hot buckets. */
  def suggestLshBits(corpusSize: Long, bands: Int = 4,
                     targetBucket: Int = 64): Int = {
    require(bands >= 1 && bands <= 63, s"bands=$bands out of [1, 63]")
    val ratio = math.max(1L, corpusSize).toDouble / math.max(1, targetBucket)
    val widthCap = 30
    val width = math.max(4, math.min(widthCap,
      math.ceil(math.log(math.max(1.0, ratio)) / math.log(2.0)).toInt))
    width * bands
  }

  /** Pair-mode LSH: all (id_a < id_b) pairs sharing ≥1 band bucket whose
    * exact cosine clears `minCosine` — the near-dup shape. Unlike
    * [[lshBucketTopK]] there is NO top-k window (no row_number, no extra
    * shuffle+sort): the cosine threshold filters map-side right after the
    * bucket join, which is the plan you want when k is unbounded.
    *
    * `bits = 0` (the default) derives the signature width from the
    * corpus count via [[suggestLshBits]] — one cheap count() of the
    * input buys a bucket space sized to the corpus instead of a fixed
    * default that silently goes quadratic at production scale. Pass an
    * explicit `bits` to pin behavior (gate fixtures do). */
  def lshBucketPairs(df: DataFrame, idCol: String, vecCol: String,
                     minCosine: Double, bits: Int = 0, bands: Int = 4,
                     seed: Int = 42, deterministic: Boolean = false,
                     maxBucketSize: Int = 10000): DataFrame = {
    val bitsN = if (bits > 0) bits else suggestLshBits(df.count(), bands)
    // bucket rows carry ONLY (bucket, id): shipping the vectors through
    // the band-exploded shuffle would duplicate every embedding `bands`
    // times; candidates are a tiny fraction of the corpus, so joining
    // the vectors back afterwards moves far less data at corpus scale.
    // The `maxBucketSize` guard caps the damage of any hot bucket
    // (mirrors Dedup.minHashCandidates): an over-full bucket is
    // dropped, trading recall for never emitting its |bucket|² pairs.
    val b = df.select(col(idCol).as("__id"),
        explode(bandKeysOf(col(vecCol), bitsN, bands, seed)).as("__bucket"))
      // the bucket frame feeds the size aggregate AND the guarded join —
      // pin it so the signature kernel runs over the corpus exactly once
      // (persist keeps lineage — fault-tolerant, unlike localCheckpoint)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // guard via groupBy + join, NOT count().over(Window.partitionBy):
    // a degenerate bucket is exactly what the guard targets, and a
    // window would materialize all of it in ONE task before the filter;
    // partial aggregation collapses it map-side (round-4 verdict)
    val keepBuckets = b.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBucketSize)
    val sized = b.join(keepBuckets, Seq("__bucket"))
      // both sides of the self-join read this frame — pin it so the
      // bucket-size aggregate + join run once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idPairs = sized.select(col("__bucket"), col("__id").as("id_a"))
      .join(sized.select(col("__bucket"), col("__id").as("id_b")), Seq("__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()   // a pair may share several bands
    val pairs = idPairs
      .join(df.select(col(idCol).as("id_a"), col(vecCol).as("va")), "id_a")
      .join(df.select(col(idCol).as("id_b"), col(vecCol).as("vb")), "id_b")
    val cos =
      if (deterministic)
        cosineDeterministic(col("va"), col("vb"),
          norm2Decimal(col("va")), norm2Decimal(col("vb")))
      else cosine(col("va"), col("vb"))
    val result = pairs.select(col("id_a"), col("id_b"), cos.as("cosine"))
      .filter(col("cosine") >= minCosine)
      // eagerly materialize the (small) verified pair set so the bucket
      // frame's cached blocks are released before returning (repeated
      // pipeline invocations in a long session would otherwise
      // accumulate them). Lineage kept — still fault-tolerant.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count()
    b.unpersist(false)
    sized.unpersist(false)
    result
  }

  /** ANN top-k via LSH banding: candidates sharing ≥1 band bucket with the
    * query are scored exactly, then top-k. Recall < 1 by construction;
    * `bits`/`bands` trade recall vs candidate-set size. `bits = 0`
    * derives the width from the CANDIDATE corpus count
    * ([[suggestLshBits]]); pass explicitly to pin. */
  def lshBucketTopK(queries: DataFrame, candidates: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    bits: Int = 0, bands: Int = 4, seed: Int = 42,
                    deterministic: Boolean = false): DataFrame = {
    val bitsN = if (bits > 0) bits else suggestLshBits(candidates.count(), bands)
    // ids-only bucket join (see lshBucketPairs): vectors join back after
    // the pair set is deduped, instead of riding the band-exploded shuffle
    def withBuckets(df: DataFrame, id: String) =
      df.select(col(idCol).as(id),
        explode(bandKeysOf(col(vecCol), bitsN, bands, seed)).as("__bucket"))
    val qb = withBuckets(queries, "query_id")
    val cb = withBuckets(candidates, "cand_id")
    val cand = cb.join(qb, Seq("__bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"))
      .distinct()   // a pair may share several bands
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
            "query_id")
      .join(candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cv")),
            "cand_id")
    val cos =
      if (deterministic)
        cosineDeterministic(col("qv"), col("cv"),
          norm2Decimal(col("qv")), norm2Decimal(col("cv")))
      else cosine(col("qv"), col("cv"))   // native codegen kernel
    val scored = cand.select(col("query_id"), col("cand_id"), cos.as("cosine"))
    // shared-bucket candidates are bucket-occupancy-bounded but a hot
    // bucket still concentrates one query's rows — same k-bounded
    // aggregation as the brute path (see topKPerQuery)
    topKPerQuery(scored, "cosine", k, ascending = false)
  }

  // -------------------------------------------------------------------
  // Unified dispatch — production callers shouldn't hand-pick among the
  // three individually-checked ANN paths.
  // -------------------------------------------------------------------

  /** Which ANN path [[topK]] runs. */
  sealed trait AnnPath
  /** Exact scan — small corpus. */ case object BruteForce extends AnnPath
  /** LSH banding — large corpus, no index. */ case object LshBanding extends AnnPath
  /** Persisted IVF index probe. */ case object IvfIndexed extends AnnPath
  /** Persisted SQ8 index probe + exact rerank. */ case object SqIndexed extends AnnPath
  /** Persisted PQ index probe + exact rerank. */ case object PqIndexed extends AnnPath

  /** Which persisted index family lives under `prefix`, decided by the
    * component tables present ([[buildIvfIndex]]: centroids+buckets;
    * [[buildPqIndex]]: books+codes+meta; [[buildSqIndex]]:
    * stats+codes). None when no complete index is stored. */
  def detectIndexKind(store: graft.io.TableStore,
                      prefix: String): Option[AnnPath] =
    if (store.exists(s"$prefix.centroids") && store.exists(s"$prefix.buckets"))
      Some(IvfIndexed)
    else if (store.exists(s"$prefix.books") && store.exists(s"$prefix.codes") &&
             store.exists(s"$prefix.meta"))
      Some(PqIndexed)
    else if (store.exists(s"$prefix.stats") && store.exists(s"$prefix.codes"))
      Some(SqIndexed)
    else None

  /** Exact-cosine rerank of an ANN candidate pair set: join the
    * (query_id, cand_id) pairs — k-bounded per query — back to their
    * raw vectors and re-rank by true cosine. The standard second stage
    * after a compressed-domain (SQ8/PQ ADC) first stage: the index
    * finds the shortlist cheaply, the shortlist pays exact math. Also
    * what makes every [[topK]] route emit the same `cosine` schema. */
  private def rescoreCosine(pairs: DataFrame, queries: DataFrame,
                            candidates: DataFrame, idCol: String,
                            vecCol: String, k: Int,
                            deterministic: Boolean): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("query_id"),
        col(vecCol).as("qv"))
      .withColumn("qn", norm2Decimal(col("qv")))
    val c = candidates.select(col(idCol).cast("long").as("cand_id"),
        col(vecCol).as("cv"))
      .withColumn("cn", norm2Decimal(col("cv")))
    val cos =
      if (deterministic)
        cosineDeterministic(col("qv"), col("cv"), col("qn"), col("cn"))
      else cosine(col("qv"), col("cv"))
    val scored = pairs.select(col("query_id"), col("cand_id"))
      .join(q, "query_id").join(c, "cand_id")
      .select(col("query_id"), col("cand_id"), cos.as("cosine"))
    topKPerQuery(scored, "cosine", k, ascending = false)
  }

  /** Deterministic size-threshold rule, factored out so the thresholds
    * are unit-testable without running a search: a persisted index
    * always wins (the corpus was already paid for at build time — here
    * abstracted as `hasIndex`; [[topK]] resolves WHICH indexed route
    * via [[detectIndexKind]], so the IvfIndexed return stands for "an
    * indexed route", not necessarily IVF); otherwise corpora up to
    * `bruteForceThreshold` scan exactly (recall 1 beats recall <1
    * whenever the scan is affordable — at k·|Q| comparisons per
    * candidate row it stays cheap into the low millions), and past
    * the threshold LSH banding keeps cost ∝ bucket occupancy. */
  def chooseAnnPath(corpusSize: Long, hasIndex: Boolean,
                    bruteForceThreshold: Long = 1000000L): AnnPath =
    if (hasIndex) IvfIndexed
    else if (corpusSize <= bruteForceThreshold) BruteForce
    else LshBanding

  /** Unified ANN top-k: routes to a persisted index probe (IVF, SQ8,
    * or PQ — whichever family [[detectIndexKind]] finds under `index`),
    * [[bruteForceTopK]] (small corpus, exact), or [[lshBucketTopK]]
    * (derived band width) via [[chooseAnnPath]]. EVERY route emits the
    * same (query_id, cand_id, cosine, rnk) schema with the same
    * tie-break, so callers can switch corpus scale, change index kind,
    * or add an index without touching downstream code: the
    * compressed-domain SQ8/PQ probes retrieve `k · rerankFactor`
    * shortlist pairs and re-rank them by EXACT cosine
    * ([[rescoreCosine]] — the standard two-stage retrieval, which is
    * also why their approx-distance surface never leaks out of the
    * dispatch). For the SQ8/PQ routes `candidates` must carry the raw
    * vectors of the indexed ids (the rerank joins them back; a pair
    * whose candidate id is absent from the frame is dropped).
    *
    * The no-index dispatch pays one `count()` of the candidate side —
    * an O(metadata) job on a parquet-backed corpus; pass
    * `corpusSize` explicitly to skip it (and to pin dispatch in tests). */
  def topK(queries: DataFrame, candidates: DataFrame,
           idCol: String, vecCol: String, k: Int,
           index: Option[(graft.io.TableStore, String)] = None,
           corpusSize: Long = -1L,
           bruteForceThreshold: Long = 1000000L,
           nprobe: Int = 4,
           deterministic: Boolean = false,
           rerankFactor: Int = 2): DataFrame = {
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")
    val kind = index.flatMap { case (store, prefix) =>
      detectIndexKind(store, prefix) }
    kind match {
      case Some(IvfIndexed) =>
        val (store, prefix) = index.get
        ivfTopKIndexed(store, prefix, queries, idCol, vecCol, k, nprobe,
          deterministic = deterministic)
      case Some(SqIndexed) =>
        val (store, prefix) = index.get
        rescoreCosine(
          sqTopKIndexed(store, prefix, queries, idCol, vecCol, k * rerankFactor),
          queries, candidates, idCol, vecCol, k, deterministic)
      case Some(PqIndexed) =>
        val (store, prefix) = index.get
        rescoreCosine(
          pqTopKIndexed(store, prefix, queries, idCol, vecCol, k * rerankFactor),
          queries, candidates, idCol, vecCol, k, deterministic)
      case _ =>
        val n = if (corpusSize >= 0) corpusSize else candidates.count()
        chooseAnnPath(n, hasIndex = false, bruteForceThreshold) match {
          case BruteForce =>
            bruteForceTopK(queries, candidates, idCol, vecCol, k, deterministic)
          case _ =>
            // band width derived from the size the dispatch already
            // holds — lshBucketTopK's bits=0 default would re-count the
            // corpus, defeating an explicitly passed corpusSize
            lshBucketTopK(queries, candidates, idCol, vecCol, k,
              bits = suggestLshBits(n, 4),
              deterministic = deterministic)
        }
    }
  }

  /** NN-DESCENT graph-refined k-NN (Dong, Charikar & Li 2011): start
    * from a cheap seed graph and repeatedly test each vector against
    * its NEIGHBORS' NEIGHBORS — "a neighbor of my neighbor is likely my
    * neighbor" — keeping the best k per vector. Converges to
    * near-exact k-NN graphs in a handful of rounds at a fraction of
    * the brute-force pair count; the standard construction route when
    * the corpus is too big for brute force but a one-shot LSH recall
    * is not enough (LSH misses pairs that share no band; NN-descent
    * RECOVERS them transitively through mutual neighbors).
    *
    * Seed: [[lshBucketTopK]] over the corpus (deterministic banding) —
    * any (query_id, cand_id, cosine) edge frame can be passed instead.
    * A vector with NO seed edges in either direction can only be
    * reached through others' reverse edges; at sane seed settings this
    * is the isolated-bucket corner, documented not hidden.
    *
    * Each round: undirect the current graph (reverse edges count —
    * the paper's key trick), self-join on the shared endpoint for
    * 2-hop candidates, drop already-known pairs, score ONLY the new
    * pairs, and k-merge into the graph via the windowless
    * [[topKPerQuery]]. All shuffles are bounded by n·(2k)² candidate
    * rows per round, never n² — and the incremental-scoring anti-join
    * keeps repeat work to genuinely new pairs. The graph checkpoints
    * every round (one-round-deep plans, the repo-wide iteration rule).
    *
    * Determinism: with `deterministic=true` every cosine is the exact
    * decimal kernel and ties break by candidate id, so the result is a
    * pure function of (corpus, k, iters, seed params) — re-runs and
    * repartitionings agree bit-for-bit. Per-query neighbor quality
    * (the multiset of kept cosines) is monotonically non-decreasing in
    * `iters` by construction (k-merge never discards a better
    * neighbor for a worse one). */
  def nnDescent(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                iters: Int, deterministic: Boolean = true,
                seed: Option[DataFrame] = None,
                lshBits: Int = 0, lshBands: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0 && iters <= 10,
      s"iters must be in [0, 10], got $iters")
    val spark = emb.sparkSession
    def pin(df: DataFrame): DataFrame =
      if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint()
    val base = emb.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__n", norm2Decimal(col("__v")))
      .persist()
    base.count()
    def rescore(pairs: DataFrame): DataFrame = {
      val joined = pairs
        .join(base.select(col("__id").as("query_id"), col("__v").as("qv"),
          col("__n").as("qn")), "query_id")
        .join(base.select(col("__id").as("cand_id"), col("__v").as("cv"),
          col("__n").as("cn")), "cand_id")
      val cos =
        if (deterministic)
          cosineDeterministic(col("qv"), col("cv"), col("qn"), col("cn"))
        else cosine(col("qv"), col("cv"))
      joined.select(col("query_id"), col("cand_id"), cos.as("cosine"))
    }
    var g = pin(seed.getOrElse(
      lshBucketTopK(emb, emb, idCol, vecCol, k, bits = lshBits,
        bands = lshBands, deterministic = deterministic))
      .select(col("query_id"), col("cand_id"), col("cosine")))
    for (_ <- 1 to iters) {
      val und = g.select(col("query_id").as("s"), col("cand_id").as("t"))
        .unionByName(
          g.select(col("cand_id").as("s"), col("query_id").as("t")))
        .distinct()
      val twoHop = und.as("a")
        .join(und.withColumnRenamed("t", "u").as("b"),
          col("a.t") === col("b.s"))
        .select(col("a.s").as("query_id"), col("b.u").as("cand_id"))
        .where(col("query_id") =!= col("cand_id"))
        .distinct()
        // score only pairs the graph doesn't already hold
        .join(g.select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"), "left_anti")
      g = pin(topKPerQuery(
        g.unionByName(rescore(twoHop)), "cosine", k, ascending = false)
        .select(col("query_id"), col("cand_id"), col("cosine")))
    }
    base.unpersist()
    // re-attach ranks (topKPerQuery emits rnk, dropped across rounds to
    // keep the merge schema minimal)
    topKPerQuery(g, "cosine", k, ascending = false)
  }

  /** Maximal-Marginal-Relevance re-rank (Carbonell & Goldstein 1998):
    * per query, greedily select `k` of its candidates maximizing
    * `λ·relevance − (1−λ)·max cosine to the already-selected` — the
    * diversification pass after ANN retrieval (redundant near-copies
    * stop crowding out distinct results). Iterative greedy argmax has
    * no SQL form (each pick conditions the next), so like BPE this is
    * spec-pinned, not oracle-gated.
    *
    * Input: one row per (query, candidate) with the candidate's
    * relevance and VECTOR — i.e. an ANN route's top-C joined back to
    * its embeddings. Scale shape: `groupByKey(query_id)` +
    * `flatMapGroups`, each group C candidates where C is the ANN
    * retrieval depth — bounded BY CONSTRUCTION, enforced by
    * `maxCandidates` (fail-closed: an unbounded group means the caller
    * fed a cross join, not a retrieval). The greedy loop is O(k·C)
    * cosines over one group in one task; queries parallelize freely.
    *
    * Determinism: selection compares doubles but every input is the
    * same bits on every executor, and ties break on ascending cand_id —
    * re-runs and repartitions reproduce the selection exactly.
    * First pick (empty selected set) is pure relevance. */
  def mmrRerank(cands: DataFrame, queryIdCol: String, candIdCol: String,
                relCol: String, vecCol: String, k: Int,
                lambda: Double = 0.5,
                maxCandidates: Int = 10000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    require(maxCandidates >= 1, "maxCandidates must be >= 1")
    val spark = cands.sparkSession
    import spark.implicits._
    val typed = cands
      .where(col(vecCol).isNotNull && col(relCol).isNotNull)
      .select(
        col(queryIdCol).cast("long"), col(candIdCol).cast("long"),
        col(relCol).cast("double"), col(vecCol).cast("array<double>"))
      .as[(Long, Long, Double, Array[Double])]
    typed.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val rows = it.toArray
      require(rows.length <= maxCandidates,
        s"query $qid has ${rows.length} candidates > $maxCandidates — " +
          "mmrRerank expects ANN-bounded retrieval, not a cross join")
      val n = rows.length
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        val d = math.min(a.length, b.length)
        while (i < d) { dot += a(i) * b(i); na += a(i) * a(i)
          nb += b(i) * b(i); i += 1 }
        if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
      }
      val picked = new Array[Boolean](n)
      // running max-cosine to the selected set, updated per pick —
      // O(k·C) total instead of recomputing O(C·|sel|) per round.
      // -Inf, NOT 0: the max over selected can be NEGATIVE (opposed
      // vectors), and clamping it at 0 would silently erase the
      // diversity BONUS classical MMR grants anti-correlated picks
      // (found by the driver-reference spec).
      val maxSim = new Array[Double](n)
      java.util.Arrays.fill(maxSim, Double.NegativeInfinity)
      val out = Seq.newBuilder[(Long, Long, Int, Double)]
      var r = 0
      while (r < math.min(k, n)) {
        var best = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < n) {
          if (!picked(i)) {
            // round 0 has no selected set: pure relevance
            val s = lambda * rows(i)._3 -
              (if (r == 0) 0.0 else (1.0 - lambda) * maxSim(i))
            // ties → ascending cand_id (rows are unsorted; compare ids)
            if (s > bestScore ||
                (s == bestScore && (best < 0 || rows(i)._2 < rows(best)._2))) {
              best = i; bestScore = s
            }
          }
          i += 1
        }
        picked(best) = true
        out += ((qid, rows(best)._2, r + 1, bestScore))
        i = 0
        while (i < n) {
          if (!picked(i)) {
            val c = cos(rows(i)._4, rows(best)._4)
            if (c > maxSim(i)) maxSim(i) = c
          }
          i += 1
        }
        r += 1
      }
      out.result().iterator
    }.toDF("query_id", "cand_id", "mmr_rank", "mmr_score")
  }

  /** CALINSKI–HARABASZ INDEX — clustering-quality readout for a
    * centroid assignment (the internal-validity number next to
    * ops/Agreement.partitionAgreementPpm's external ARI): the
    * between/within variance ratio
    *   CH = (B/(k−1)) / (W/(n−k))
    * with W = Σ_points ||x − μ_cluster||² and B = Σ_c m_c·||μ_c − μ||².
    * Higher = tighter, better-separated clusters — the k-picker for
    * [[ivfCentroids]]/semantic-dedup sizing.
    *
    * Determinism lane: coordinates are MICRO-QUANTIZED up front
    * (x → floor(10⁶·x) as long — one deterministic double multiply
    * both engines replay bit-for-bit), after which every sum of
    * squares is a pure integer: per (cluster, dim) sums s and squares
    * q give the classic identities
    *   W_c·m_c = m_c·Σq − Σ_d s_d²
    *   B_c·m_c·n² = Σ_d (n·s_d − m_c·g_d)²     [g = global dim sums]
    * W/B are surfaced in REAL-unit milli via the 10⁹ = (10⁶)²/10³
    * descale, floored PER CLUSTER (documented schedule):
    *   w_c_milli = (m_c·Σq − Σs²) div (m_c·10⁹)
    *   b_c_milli = Σ(n·s−m_c·g)² div (m_c·n²·10⁹)
    *   ch_milli  = (1000·Σb·(n−k)) div (Σw·(k−1))
    * k counts OBSERVED (non-empty) clusters. NULL when k < 2, n ≤ k,
    * or W = 0 (every point sits on its centroid).
    *
    * Output one row: (n, k, w_milli, b_milli, ch_milli).
    *
    * Scale shape: one explode + (cluster, dim) groupBy — map-side
    * partials mean only k·d aggregate rows cross the shuffle — then
    * k-grain and one-row aggregates. O(n·d) work, no n×k stage (the
    * assignment upstream owns that). */
  def calinskiHarabaszMilli(df: DataFrame, clusterCol: String,
                            vecCol: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = df.where(col(clusterCol).isNotNull && col(vecCol).isNotNull)
      .select(col(clusterCol).as("__c"),
        posexplode(col(vecCol)).as(Seq("__d", "__xf")))
      .select(col("__c"), col("__d"),
        floor(col("__xf").cast("double") * lit(1000000.0d))
          .cast("long").as("__x"))
    val cd = e.groupBy(col("__c"), col("__d"))
      .agg(count(lit(1)).as("__m"),
        sum(col("__x").cast(d38)).as("__s"),
        sum(col("__x").cast(d38) * col("__x")).as("__q"))
      .localCheckpoint() // consumed by the W pass, the B pass, and g
    val g = cd.groupBy(col("__d"))
      .agg(sum(col("__s")).as("__g"), sum(col("__m")).as("__nn"))
    val wc = cd.groupBy(col("__c"))
      .agg(max(col("__m")).as("__mc"), sum(col("__q")).as("__sx2"),
        sum(col("__s") * col("__s")).as("__ss2"))
      .select(col("__c"), expr(
        """(CAST(__mc AS DECIMAL(38,0)) * __sx2 - __ss2)
          |div (CAST(__mc AS DECIMAL(38,0)) * 1000000000)"""
          .stripMargin.replace("\n", " ")).as("__wmilli"))
    val bc = cd.join(broadcast(g), "__d")
      .groupBy(col("__c"))
      .agg(max(col("__m")).as("__mb"), max(col("__nn")).as("__n"),
        sum((col("__nn").cast(d38) * col("__s") -
          col("__m").cast(d38) * col("__g")) *
          (col("__nn").cast(d38) * col("__s") -
            col("__m").cast(d38) * col("__g"))).as("__bnum"))
      .select(col("__c"), col("__n"), expr(
        """__bnum div (CAST(__mb AS DECIMAL(38,0)) * __n * __n
          | * 1000000000)""".stripMargin.replace("\n", " "))
        .as("__bmilli"))
    wc.join(bc, "__c")
      .agg(count(lit(1)).as("__k"), max(col("__n")).as("__ntot"),
        sum(col("__wmilli").cast(d38)).as("__w"),
        sum(col("__bmilli").cast(d38)).as("__b"))
      .select(coalesce(col("__ntot"), lit(0L)).cast("long").as("n"),
        coalesce(col("__k"), lit(0L)).cast("long").as("k"),
        col("__w").cast("long").as("w_milli"),
        col("__b").cast("long").as("b_milli"),
        when(col("__k") < 2 || col("__ntot") <= col("__k") ||
            col("__w") === 0, lit(null).cast("long"))
          .otherwise(expr(
            """CAST((1000 * __b * (__ntot - __k))
              |div (__w * (__k - 1)) AS BIGINT)"""
              .stripMargin.replace("\n", " ")))
          .as("ch_milli"))
  }

  /** SIMPLIFIED SILHOUETTE — the per-point companion to
    * [[calinskiHarabaszMilli]]: for each point, a = squared distance
    * to its OWN cluster centroid, b = the nearest OTHER centroid, and
    *   s = (b − a) / max(a, b)  ∈ [−1, 1]
    * averaged over the corpus. The "simplified" (centroid-based)
    * variant is the O(n·k) industry form — classic silhouette's
    * all-pairs a/b is O(n²) and never acceptable at corpus scale; the
    * squared-distance metric keeps the exact-integer lane (monotone
    * per point, so the min/argmin structure is unchanged).
    *
    * Same micro-quantized coordinate lane as CH (x → floor(10⁶·x)),
    * then exact integers throughout: with per-(cluster,dim) sums s
    * and sizes m, the squared distance point→centroid_c rides the
    * common denominator m_c²:
    *   A_num(p,c) = Σ_d (m_c·x_d − s_{c,d})²
    *   f(p,c)     = A_num div m_c²                 [pinned floor]
    *   s_milli(p) = sign(b−a) · (10³·|b−a| div max(a,b)); 0 when the
    *                point's own cluster is a singleton (a undefined —
    *                the sklearn convention) or max(a,b) = 0
    *   silhouette_milli = sign(S) · (|S| div n),  S = Σ s_milli(p)
    * NULL when k < 2 or n = 0. `idCol` must be unique per point (the
    * point-grain groupBy key).
    *
    * Output one row: (n, k, silhouette_milli).
    *
    * Scale shape: one (cluster,dim) groupBy (k·d aggregate rows), a
    * broadcast of the k centroid rows against the corpus (n·k rows,
    * the designed O(n·k) — k bounded by contract), one point-grain
    * groupBy, one final row. No windows, no n² stage. */
  def simplifiedSilhouetteMilli(df: DataFrame, idCol: String,
                                clusterCol: String,
                                vecCol: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val pts = df.where(col(idCol).isNotNull &&
        col(clusterCol).isNotNull && col(vecCol).isNotNull)
      .select(col(clusterCol).as("__pc"),
        expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) " +
          "* 1000000.0) AS BIGINT))").as("__px"),
        col(idCol).as("__pid"))
    val cd = pts.select(col("__pc"), posexplode(col("__px"))
        .as(Seq("__d", "__x")))
      .groupBy(col("__pc"), col("__d"))
      .agg(count(lit(1)).as("__m"), sum(col("__x")).as("__s"))
    val cents = cd.groupBy(col("__pc").as("__cc"))
      .agg(max(col("__m")).as("__mc"),
        expr("transform(array_sort(collect_list(struct(__d, __s))), " +
          "t -> t.__s)").as("__cs"))
    val pc = pts.crossJoin(broadcast(cents))
      .select(col("__pid"), col("__pc"), col("__cc"), col("__mc"),
        expr("""aggregate(zip_with(__px, __cs,
                |  (x, s) -> __mc * x - s),
                |CAST(0 AS DECIMAL(38,0)),
                |(acc, v) -> acc + CAST(v AS DECIMAL(38,0)) * v)"""
          .stripMargin.replace("\n", " ")).as("__anum"))
      .select(col("__pid"), col("__pc"), col("__cc"), col("__mc"),
        expr("__anum div (CAST(__mc AS DECIMAL(38,0)) * __mc)")
          .as("__f"))
    val per = pc.groupBy(col("__pid"))
      .agg(max(when(col("__pc") === col("__cc"), col("__f"))).as("__a"),
        min(when(col("__pc") =!= col("__cc"), col("__f"))).as("__b"),
        max(when(col("__pc") === col("__cc"), col("__mc"))).as("__mo"),
        countDistinct(col("__cc")).as("__k"))
      .select(col("__k"),
        when(col("__mo") === 1 || col("__b").isNull ||
            greatest(col("__a"), col("__b")) === 0, lit(0L))
          .otherwise(expr(
            """CAST(CAST(sign(__b - __a) AS DECIMAL(38,0)) *
              |(1000 * abs(CAST(__b AS DECIMAL(38,0)) - __a)
              | div greatest(__a, __b)) AS BIGINT)"""
              .stripMargin.replace("\n", " ")))
          .as("__sm"))
    per.agg(count(lit(1)).as("__n"), max(col("__k")).as("__kk"),
        sum(col("__sm").cast(d38)).as("__ss"))
      .select(coalesce(col("__n"), lit(0L)).cast("long").as("n"),
        coalesce(col("__kk"), lit(0L)).cast("long").as("k"),
        when(col("__n") === 0 || col("__kk") < 2,
            lit(null).cast("long"))
          .otherwise(expr(
            """CAST(CAST(sign(__ss) AS DECIMAL(38,0)) *
              |(abs(__ss) div __n) AS BIGINT)"""
              .stripMargin.replace("\n", " ")))
          .as("silhouette_milli"))
  }
}

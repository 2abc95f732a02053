package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.LlmGateUtil._

/** ANN / embedding-retrieval gates (brute-force, Hamming, LSH, IVF,
  * PQ, SQ8 top-k; persisted-index probes; k-means; hard negatives;
  * margin-based bitext mining; retrieval eval). Split from LlmQueries
  * by domain (round-6 verdict ask #5) — pure code motion.
  */
object LlmAnnGates {

  // Brute-force cosine top-5 for a fixed probe set (vec_id < 8) — the
  // exact-ANN baseline. Queries broadcast; corpus scanned once. Cosine is
  // decimal-deterministic (see graft.llm.Similarity) so the DuckDB oracle
  // hash-matches bit-for-bit.
  def q26_cosine_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.llm.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("cand_id"),
              col("cosine").cast(out).cast("double").as("cosine"), col("rnk"))
  }

  // K-means ASSIGNMENT at the gate (llm/Similarity.assignToCentroids):
  // every embedding assigned to its nearest of 8 pinned centroids (the
  // lowest-id vectors — a deterministic "init"; full Lloyd training is
  // ivfCentroids) by squared-L2 via |v|²+|c|²−2·v·c on the native
  // decimal-dot kernel, double finish — cross-engine exact, ties to the
  // lowest centroid id.
  def q61_kmeans_assign(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.llm.Similarity.assignToCentroids(
        emb, emb.filter(col("vec_id") < 8),
        idCol = "vec_id", vecCol = "embedding",
        centroidIdCol = "vec_id", centroidVecCol = "embedding")
      .select(col("vec_id"), col("centroid_id"),
              col("dist2").cast(out).cast("double").as("dist2"))
  }

  // Sign-bit embedding sketch + Hamming top-k at the gate
  // (Similarity.hammingTopK): 64 float dims packed into two 32-bit words,
  // XOR+popcount distance — integer arithmetic end-to-end, so unlike
  // cosine it needs no decimal scaffolding to hash-match the oracle.
  def q72_hamming_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.llm.Similarity.hammingTopK(
        emb.where(col("vec_id") < 8), emb,
        idCol = "vec_id", vecCol = "embedding", dim = 64, k = 5)
      .select(col("query_id"), col("cand_id"),
              col("hamming").cast("int").as("hamming"),
              col("rnk").cast("int").as("rnk"))
  }

  // Distributed k-means M-step at the gate
  // (Similarity.centroidUpdateStats): exact decimal component sums +
  // member counts per (label, dimension) — q61 covers the E-step
  // (assignment), this covers the update; together they are the full
  // Lloyd iteration as gate-checked distributed operators.
  def q79_centroid_update(s: SparkSession, dir: String): DataFrame =
    graft.llm.Similarity.centroidUpdateStats(
      t(s, dir, "embeddings"), labelCol = "label", vecCol = "embedding")

  // IVF ANN at the gate (Similarity.ivfTopKDeterministic): bucket
  // assignment, nprobe probe selection, and exact rerank with every
  // distance an IEEE-double combination of exact decimal sums —
  // centroids pinned to the iters=0 init (first nlist vectors by id)
  // because Lloyd training averages doubles and is not
  // oracle-comparable (q61/q79 gate the E/M steps separately). With
  // q26 (brute), q72 (Hamming), and q84 (LSH), every ANN route is now
  // hash-checked end to end.
  def q86_ivf_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.llm.Similarity.ivfTopKDeterministic(
        emb.where(col("vec_id") < 8), emb,
        idCol = "vec_id", vecCol = "embedding", k = 5,
        nlist = 16, nprobe = 4)
      .select(col("query_id"), col("cand_id"),
              col("cosine").cast(out).cast("double").as("cosine"), col("rnk"))
  }

  // Product-quantization ADC search at the gate
  // (Similarity.pqTopKDeterministic): encode the corpus to m=4 subspace
  // codes against iters=0 codebooks, per-query LUT of exact subspace
  // distances, fixed-order recombine, k-bounded rank. Completes the
  // embedding-compression family (sign sketch q72 = 1 bit/dim; PQ =
  // log2(nlist) bits/subspace) with the same decimal-distance recipe
  // as q86.
  def q87_pq_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.llm.Similarity.pqTopKDeterministic(
        emb.where(col("vec_id") < 8), emb,
        idCol = "vec_id", vecCol = "embedding", k = 5,
        m = 4, dims = 64, nlist = 16)
      .select(col("query_id"), col("cand_id"),
              col("approx_dist").cast(out).cast("double").as("approx_dist"),
              col("rnk"))
  }

  // LSH ANN at the gate (Similarity.lshSignatureMd5 + bandKeys +
  // deterministic cosine + the k-bounded topKPerQuery): until now the
  // LSH path was recall-checked only — its xxhash64 hyperplanes had no
  // DuckDB peer. The md5-parity hyperplanes + exact-decimal plane dots
  // make every signature bit cross-engine deterministic, so the ENTIRE
  // search — signature, banding, bucket-join candidate set, exact
  // rerank, top-k — hash-checks. Same banding math as production
  // (16 bits / 4 bands), so the gate exercises the real shape.
  def q84_lsh_topk(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.Similarity
    val emb = t(s, dir, "embeddings")
    val sigs = emb.select(col("vec_id"), col("embedding"),
      Similarity.lshSignatureMd5(col("embedding"), 16, dims = 64).as("sig"))
    val keys = sigs.select(col("vec_id"), col("embedding"),
      explode(Similarity.bandKeys(col("sig"), 16, 4)).as("bk"))
      .select(col("vec_id"), col("embedding"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val q = keys.where(col("vec_id") < 8)
    val cand = keys.as("c").join(q.as("q"),
        col("c.band") === col("q.band") && col("c.key") === col("q.key") &&
          col("c.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("cand_id"))
      .distinct()
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        "query_id")
      .join(emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv")),
        "cand_id")
    val scored = cand.select(col("query_id"), col("cand_id"),
      Similarity.cosineDeterministic(col("qv"), col("cv"),
        Similarity.norm2Decimal(col("qv")),
        Similarity.norm2Decimal(col("cv"))).as("cosine"))
    Similarity.topKPerQuery(scored, "cosine", k = 5, ascending = false)
      .select(col("query_id"), col("cand_id"),
        col("cosine").cast(out).cast("double").as("cosine"), col("rnk"))
  }

  // Margin-based BITEXT MINING at the gate (Similarity.marginMining):
  // forward top-4 pairs from the even-id sub-corpus (< 400) into the
  // odd-id corpus, scored by the Artetxe-Schwenk margin — raw cosine
  // over the mean of both endpoints' neighborhood cosines. Per-pair
  // cosines round to decimal(18,6) before the neighborhood sums, one
  // q22-recipe division, DOUBLE surface.
  def q126_margin_mining(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.llm.Similarity.marginMining(
        emb.where(col("vec_id") % 2 === 0 && col("vec_id") < 400),
        emb.where(col("vec_id") % 2 === 1),
        idCol = "vec_id", vecCol = "embedding", k = 4)
      .select(col("query_id"), col("cand_id"),
        col("cosine").cast(out).cast("double").as("cosine"),
        col("rnk"), col("margin").cast("double").as("margin"))
  }

  // STREAMING ANN probe at the gate (EventStream.runStreamForeachBatch
  // + Similarity.sqTopKIndexed): the online-serving shape — the SQ8
  // index is built once batch-side, then query vectors ARRIVE AS A
  // STREAM and each micro-batch probes the stored codes and appends its
  // top-k to a results table. Finite replay ⇒ the union of per-batch
  // results ≡ the batch run, so the oracle is q110's — streamed ≡
  // indexed ≡ direct, the whole SQ8 family pinned to one SQL form.
  def q128_stream_ann(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val store = new graft.io.ParquetTableStore(
      s, java.nio.file.Files.createTempDirectory("q128idx").toString)
    graft.llm.Similarity.buildSqIndex(store, "sq", emb, "vec_id", "embedding")
    graft.streaming.EventStream.runStreamForeachBatch(
      s, s"$dir/embeddings.parquet", { (batch, _) =>
        val res = graft.llm.Similarity.sqTopKIndexed(store, "sq",
          batch.where(col("vec_id") < 8), idCol = "vec_id",
          vecCol = "embedding", k = 5)
        store.append("sq.results", res)
      })
    store.read("sq.results")
      .select(col("query_id"), col("cand_id"),
        col("approx_dist").cast(out).cast("double").as("approx_dist"),
        col("rnk"))
  }

  // PQ INDEXED search at the gate (Similarity.buildPqIndex +
  // pqTopKIndexed): the persisted-index path — codebooks + codes +
  // meta stored once, queries probe without codebook derivation or a
  // corpus encode. Must be indistinguishable from the direct q87 path,
  // so the oracle is IDENTICAL to q87's (the q122 precedent).
  def q127_pq_indexed(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val store = new graft.io.ParquetTableStore(
      s, java.nio.file.Files.createTempDirectory("q127idx").toString)
    graft.llm.Similarity.buildPqIndex(store, "pq", emb, "vec_id",
      "embedding", m = 4, dims = 64, nlist = 16)
    graft.llm.Similarity.pqTopKIndexed(store, "pq",
        emb.where(col("vec_id") < 8), idCol = "vec_id",
        vecCol = "embedding", k = 5)
      .select(col("query_id"), col("cand_id"),
        col("approx_dist").cast(out).cast("double").as("approx_dist"),
        col("rnk"))
  }

  // SQ8 INDEXED search at the gate (Similarity.buildSqIndex +
  // sqTopKIndexed): the persisted-index path — stats row + codes table
  // stored once, queries probe without a stats scan or corpus encode.
  // Must be indistinguishable from the direct q110 path, so the oracle
  // is IDENTICAL to q110's — the strongest indexed==direct statement
  // the gate can make.
  def q122_sq_indexed(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val store = new graft.io.ParquetTableStore(
      s, java.nio.file.Files.createTempDirectory("q122idx").toString)
    graft.llm.Similarity.buildSqIndex(store, "sq", emb, "vec_id", "embedding")
    graft.llm.Similarity.sqTopKIndexed(store, "sq",
        emb.where(col("vec_id") < 8), idCol = "vec_id",
        vecCol = "embedding", k = 5)
      .select(col("query_id"), col("cand_id"),
        col("approx_dist").cast(out).cast("double").as("approx_dist"),
        col("rnk"))
  }

  // RETRIEVAL-EVAL metrics at the gate (Relevance.retrievalMetrics):
  // the measurement harness over a ranked search output — q26's
  // decimal-exact brute-force top-5 scored against same-label qrels
  // (embeddings carry class labels; relevant = same label). Integer
  // surface: hit counts, first relevant rank, reciprocal rank in micro
  // units (a float 1/rank sum is order-sensitive).
  def q116_retrieval_eval(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val results = graft.llm.Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", k = 5)
    val qrels = emb.where(col("vec_id") < 8).select(
        col("vec_id").as("query_id"), col("label").as("qlab"))
      .join(emb.select(col("vec_id").as("cand_id"), col("label").as("clab")),
        col("cand_id") =!= col("query_id") && col("qlab") === col("clab"))
      .select(col("query_id"), col("cand_id"))
    graft.llm.Relevance.retrievalMetrics(results, qrels, k = 5)
  }

  // nDCG@5 at the gate (Relevance.ndcgAtK): the position-sensitive
  // eval next to q116's hits/MRR — same brute-force top-5 + same-label
  // qrels, discounts from the pinned ⌊10⁶/log₂(r+1)⌋ table both
  // engines read as literals.
  def q261_ndcg(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val results = graft.llm.Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", k = 5)
    val qrels = emb.where(col("vec_id") < 8).select(
        col("vec_id").as("query_id"), col("label").as("qlab"))
      .join(emb.select(col("vec_id").as("cand_id"), col("label").as("clab")),
        col("cand_id") =!= col("query_id") && col("qlab") === col("clab"))
      .select(col("query_id"), col("cand_id"))
    graft.llm.Relevance.ndcgAtK(results, qrels, k = 5)
  }

  // RECIPROCAL RANK FUSION at the gate (Relevance.rrfFuse): the hybrid
  // retrieval merge — q26's exact-cosine top-20 fused with q72's
  // Hamming-sketch top-20 per query, score = Σ⌊10⁶/(60+rank)⌋, fused
  // top-10. Rank-based, so the incomparable score scales never need
  // calibration; the fused tail demonstrably carries candidates only
  // one ranker surfaced.
  def q266_rrf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val qs = emb.where(col("vec_id") < 8)
    // dense leg rides the unified dispatch (the marginMining precedent,
    // Similarity.topK): below bruteForceThreshold it IS the exact scan
    // (oracle unchanged); past it the same call takes the LSH/index
    // route — the gate exercises the production entry point, and the
    // indexed-route agreement floor is spec-pinned (LlmOpsSpec).
    val dense = graft.llm.Similarity.topK(
        qs, emb, "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("cand_id"), col("rnk"))
    val ham = graft.llm.Similarity.hammingTopK(
        qs, emb, idCol = "vec_id", vecCol = "embedding", dim = 64, k = 20)
      .select(col("query_id"), col("cand_id"), col("rnk"))
    graft.llm.Relevance.rrfFuse(dense.unionByName(ham), k = 10)
      .select(col("query_id"), col("cand_id"), col("rrf_micro"),
        col("rnk").cast("int").as("rnk"))
  }

  // SQ8 scalar-quantization ANN at the gate (Similarity.sqTopK): per-dim
  // min/span affine codes (4× memory cut keeping per-dim resolution —
  // between the q72 sign sketch and q87's PQ in the compression
  // family), exact query vs dequantized candidates, the shared q86/q87
  // decimal squared-distance recipe, k-bounded rank. No separate gate
  // form: min/max are selections and the affine maps are chains of
  // correctly-rounded IEEE ops, so production IS the deterministic path.
  def q110_sq_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.llm.Similarity.sqTopK(
        emb.where(col("vec_id") < 8), emb,
        idCol = "vec_id", vecCol = "embedding", k = 5)
      .select(col("query_id"), col("cand_id"),
        col("approx_dist").cast(out).cast("double").as("approx_dist"),
        col("rnk"))
  }

  // HARD-NEGATIVE mining at the gate (Similarity.hardNegatives): per
  // query, top-5 most-similar embeddings with a DIFFERENT label —
  // contrastive-training negatives on the q26 decimal-exact cosine and
  // the k-bounded topKPerQuery buffers; the label inequality rides the
  // join so same-class rows never reach the buffers.
  def q105_hard_negatives(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.llm.Similarity.hardNegatives(
        emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding",
        "label", k = 5)
      .select(col("query_id"), col("cand_id"),
        col("cosine").cast(out).cast("double").as("cosine"), col("rnk"))
  }

  // Quality-aware cluster resolution at the gate
  // (Dedup.resolveClustersBest): the q82 near-dup components resolved
  // to their LONGEST member (token count as the quality score, ties →
  // lowest id) instead of blind min-id — the keep-best step a real
  // pipeline runs after transitive clustering. Integer scores, so the
  // argmax is cross-engine exact.
  def q94_cluster_best(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = graft.llm.Dedup.winnowingOverlapPairs(
      docs, idCol = "doc_id", textCol = "text",
      minShared = 2, ngram = 3, window = 4, maxDf = 50,
      hashFn = graft.llm.TextAnalysis.md5Hash60)
    val comps = graft.llm.Dedup.connectedComponents(
      pairs.select(col("doc_a").as("id_a"), col("doc_b").as("id_b")))
    graft.llm.Dedup.resolveClustersBest(
        comps.select(col("id").cast("long").as("doc_id"),
          col("comp").cast("long").as("comp_id")),
        docs.select(col("doc_id"),
          size(split(col("text"), " ")).as("n_toks")),
        idCol = "doc_id", compCol = "comp_id", scoreCol = "n_toks")
      .select(col("doc_id"), col("comp_id"),
        col("survivor_id").cast("long").as("survivor_id"))
  }

  private val PqOracleSql: String =
    """WITH sv AS (
        |  SELECT vec_id, j, embedding[j*16+1 : j*16+16] AS s
        |  FROM (SELECT vec_id, embedding, unnest(range(0,4)) AS j FROM embeddings)),
        |svn AS (SELECT vec_id, j, s,
        |  CAST(list_sum(list_transform(s,
        |    x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE) AS nrm
        |  FROM sv),
        |books AS (SELECT j, vec_id AS cid, s AS cv, nrm AS cnrm FROM svn
        |          WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
        |ad AS (SELECT v.vec_id AS cand_id, v.j, b.cid,
        |  v.nrm - 2*CAST(list_sum(list_transform(list_zip(v.s, b.cv),
        |      z -> CAST(CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE) + b.cnrm AS dist
        |  FROM svn v JOIN books b ON b.j = v.j),
        |codes AS (SELECT cand_id, j, cid AS code FROM
        |  (SELECT *, row_number() OVER (PARTITION BY cand_id, j ORDER BY dist ASC, cid ASC) AS rn FROM ad)
        |  WHERE rn = 1),
        |lut AS (SELECT cand_id AS query_id, j, cid AS code, dist AS d FROM ad WHERE cand_id < 8),
        |per AS (SELECT l.query_id, c.cand_id, c.j, l.d
        |        FROM codes c JOIN lut l ON l.j = c.j AND l.code = c.code
        |        WHERE c.cand_id <> l.query_id),
        |piv AS (SELECT query_id, cand_id,
        |          max(CASE WHEN j=0 THEN d END) + max(CASE WHEN j=1 THEN d END) +
        |          max(CASE WHEN j=2 THEN d END) + max(CASE WHEN j=3 THEN d END) AS approx_dist
        |        FROM per GROUP BY 1, 2)
        |SELECT query_id, cand_id,
        |  CAST(CAST(approx_dist AS DECIMAL(38,6)) AS DOUBLE) AS approx_dist, CAST(rnk AS INT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx_dist ASC, cand_id ASC) AS rnk
        |      FROM piv) WHERE rnk <= 5""".stripMargin

  private val Sq8OracleSql: String =
    """WITH dims AS (
      |  SELECT vec_id, unnest(range(0, len(embedding))) AS d,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |stats AS (
      |  SELECT d, min(x) AS mn, max(x) - min(x) AS sp FROM dims GROUP BY d),
      |codes AS (
      |  SELECT vec_id AS cand_id, d,
      |    CASE WHEN sp > 0
      |         THEN CAST(least(greatest(floor(((x - mn) / sp) * 255.0), 0), 255) AS BIGINT)
      |         ELSE 0 END AS c
      |  FROM dims JOIN stats USING (d)),
      |vhat AS (
      |  SELECT cand_id, d, mn + (CAST(c AS DOUBLE) * sp) / 255.0 AS xh
      |  FROM codes JOIN stats USING (d)),
      |cn AS (
      |  SELECT cand_id, CAST(sum(CAST(xh * xh AS DECIMAL(38,15))) AS DOUBLE) AS cnrm
      |  FROM vhat GROUP BY cand_id),
      |qn AS (
      |  SELECT vec_id AS query_id,
      |    CAST(list_sum(list_transform(embedding,
      |      x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE) AS qnrm
      |  FROM embeddings WHERE vec_id < 8),
      |dotp AS (
      |  SELECT qd.vec_id AS query_id, v.cand_id,
      |    CAST(sum(CAST(qd.x * v.xh AS DECIMAL(38,15))) AS DOUBLE) AS dot
      |  FROM dims qd JOIN vhat v USING (d)
      |  WHERE qd.vec_id < 8 AND v.cand_id <> qd.vec_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT query_id, cand_id, q.qnrm - 2*d.dot + c.cnrm AS approx_dist
      |  FROM dotp d JOIN qn q USING (query_id) JOIN cn c USING (cand_id))
      |SELECT query_id, cand_id,
      |  CAST(CAST(approx_dist AS DECIMAL(38,6)) AS DOUBLE) AS approx_dist,
      |  CAST(rnk AS INT) AS rnk
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY approx_dist ASC, cand_id ASC) AS rnk FROM pairs)
      |WHERE rnk <= 5""".stripMargin

  // Johnson–Lindenstrauss reduction at the gate
  // (Similarity.rademacherProjectRows): 64-dim embeddings → 8
  // components, signs from the deterministic LCG-bit hash both
  // engines re-derive — ±1 entries keep every term an exact IEEE
  // negation, so the decimal-sum recipe hash-matches where a Gaussian
  // matrix couldn't. Map-only (no shuffle); the production packed form
  // (rademacherProject) feeds LSH/IVF after the cut.
  def q135_jl_project(s: SparkSession, dir: String): DataFrame =
    graft.llm.Similarity.rademacherProjectRows(
      t(s, dir, "embeddings").filter(col("vec_id") < 200),
      idCol = "vec_id", vecCol = "embedding", dim = 64, outDim = 8)

  // Exact covariance sufficient statistics (Similarity
  // .covarianceStats): per dimension pair i ≤ j the exact decimal
  // Σ x_i·x_j — the PCA/whitening input. Pair expansion is a
  // higher-order transform×slice comprehension inside the scan stage
  // (no self-join), one map-side-partial groupBy on (i, j) → 2080
  // metadata rows at dim 64; float products exact in double, summed
  // under the q79 decimal recipe.
  def q138_covariance_stats(s: SparkSession, dir: String): DataFrame =
    graft.llm.Similarity.covarianceStats(
      t(s, dir, "embeddings"), vecCol = "embedding")

  // All-corpus k-NN graph (Similarity.knnGraph): every vector's top-4
  // neighbors, self excluded, deterministic decimal cosine — the
  // substrate for graph curation. Subset to 300 vectors so the
  // DuckDB all-pairs oracle stays bounded; the operator itself routes
  // through the unified ANN dispatch at scale.
  def q142_knn_graph(s: SparkSession, dir: String): DataFrame =
    graft.llm.Similarity.knnGraph(
      // the 300-vector subset is one parquet split — spread it so the
      // decimal kernel parallelizes (result is aggregation-exact
      // regardless of partitioning); scale-adaptive, was repartition(32)
      graft.ops.ScanFanout(t(s, dir, "embeddings").filter(col("vec_id") < 300)),
      "vec_id", "embedding", k = 4, corpusSize = 300L,
      deterministic = true)
      .select(col("query_id"), col("cand_id"),
        col("cosine").cast(out).cast("double").as("cosine"), col("rnk"))

  // NOTE on nnDescent (Similarity.nnDescent, spec-pinned, NO gate): an
  // exact-endpoint gate (oracle = brute-force SQL) was tried and
  // rejected — the fixture embeddings are structure-free, so true
  // low-cosine "neighbors" share no mutual neighbors for the 2-hop
  // diffusion to traverse and a residual ~1% of slots never converge.
  // That is the documented failure mode of NN-descent on random data
  // (Dong et al. 2011 §5), not an implementation bug; on clustered
  // data NnDescentSpec pins recall ≥ 0.95, determinism, and per-query
  // monotone refinement.

  // Embedding-graph centrality (knnGraph → GraphOps.pageRank): rank
  // mass diffuses along nearest-neighbor edges, scoring how
  // REPRESENTATIVE each vector is of its neighborhood — hub documents
  // score high, isolated outliers keep near-base rank. Integer
  // per-mille rule end to end, so the composite stays hash-exact.
  def q143_graph_centrality(s: SparkSession, dir: String): DataFrame = {
    val edges = graft.llm.Similarity.knnGraph(
      t(s, dir, "embeddings").filter(col("vec_id") < 300).repartition(32),
      "vec_id", "embedding", k = 4, corpusSize = 300L,
      deterministic = true)
    graft.ops.GraphOps.pageRank(edges, "query_id", "cand_id",
        iters = 3, dampingPm = 850)
      .select(col("node").as("vec_id"), col("rank_micro"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q135_jl_project"   -> q135_jl_project _,
    "q138_covariance_stats" -> q138_covariance_stats _,
    "q142_knn_graph"    -> q142_knn_graph _,
    "q143_graph_centrality" -> q143_graph_centrality _,
    "q26_cosine_topk"   -> q26_cosine_topk _,
    "q61_kmeans_assign" -> q61_kmeans_assign _,
    "q72_hamming_topk"  -> q72_hamming_topk _,
    "q79_centroid_update" -> q79_centroid_update _,
    "q84_lsh_topk"      -> q84_lsh_topk _,
    "q86_ivf_topk"      -> q86_ivf_topk _,
    "q87_pq_topk"       -> q87_pq_topk _,
    "q94_cluster_best"  -> q94_cluster_best _,
    "q105_hard_negatives" -> q105_hard_negatives _,
    "q110_sq_topk"      -> q110_sq_topk _,
    "q116_retrieval_eval" -> q116_retrieval_eval _,
    "q261_ndcg" -> q261_ndcg _,
    "q266_rrf" -> q266_rrf _,
    "q122_sq_indexed"   -> q122_sq_indexed _,
    "q126_margin_mining" -> q126_margin_mining _,
    "q127_pq_indexed"   -> q127_pq_indexed _,
    "q128_stream_ann"   -> q128_stream_ann _,
  )

  val oracleSql: Map[String, String] = Map(
    // cosine top-20 (q26's decimal recipe) ∪ hamming top-20 (q72's
    // sketch) → RRF score → fused top-10, ties by candidate id
    "q266_rrf" ->
      """WITH norm AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS nrm
        |  FROM embeddings),
        |cpairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    CAST(list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |        p -> CAST(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE)
        |      / sqrt(CAST(q.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)) AS cosine
        |  FROM norm q JOIN norm c ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
        |dense AS (SELECT query_id, cand_id, rnk FROM
        |  (SELECT *, row_number() OVER (PARTITION BY query_id
        |     ORDER BY cosine DESC, cand_id ASC) AS rnk FROM cpairs)
        |  WHERE rnk <= 20),
        |sk AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(range(1,33),
        |      i -> CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i-1)) ELSE 0 END)) AS BIGINT) AS w0,
        |    CAST(list_sum(list_transform(range(33,65),
        |      i -> CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i-33)) ELSE 0 END)) AS BIGINT) AS w1
        |  FROM embeddings),
        |hpairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS hamming
        |  FROM sk q JOIN sk c ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
        |ham AS (SELECT query_id, cand_id, rnk FROM
        |  (SELECT *, row_number() OVER (PARTITION BY query_id
        |     ORDER BY hamming ASC, cand_id ASC) AS rnk FROM hpairs)
        |  WHERE rnk <= 20),
        |u AS (SELECT * FROM dense UNION ALL SELECT * FROM ham),
        |sc AS (SELECT query_id, cand_id,
        |         CAST(sum(1000000 // (60 + rnk)) AS BIGINT) AS rrf_micro
        |       FROM u GROUP BY 1,2)
        |SELECT query_id, cand_id, rrf_micro, CAST(rnk AS INT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY rrf_micro DESC, cand_id ASC) AS rnk FROM sc)
        |WHERE rnk <= 10""".stripMargin,
    "q142_knn_graph" ->
      """WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
        |norm AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS nrm
        |  FROM sub),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    CAST(list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |        p -> CAST(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE)
        |      / sqrt(CAST(q.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)) AS cosine
        |  FROM norm q JOIN norm c ON c.vec_id <> q.vec_id)
        |SELECT query_id, cand_id, CAST(CAST(cosine AS DECIMAL(38,6)) AS DOUBLE) AS cosine, CAST(rnk AS INT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
        |      FROM pairs) WHERE rnk <= 4""".stripMargin,
        "q143_graph_centrality" ->
      """WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
        |norm AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS nrm
        |  FROM sub),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    CAST(list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |        p -> CAST(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE)
        |      / sqrt(CAST(q.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)) AS cosine
        |  FROM norm q JOIN norm c ON c.vec_id <> q.vec_id),
        |e AS (
        |  SELECT query_id AS src, cand_id AS dst
        |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
        |        FROM pairs) WHERE rnk <= 4),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |nodes AS (SELECT DISTINCT node
        |          FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        |i1 AS (SELECT e.dst AS node, sum(r0.rank // deg.outdeg) AS m
        |       FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src GROUP BY 1),
        |r1 AS (SELECT nodes.node, CAST(150000 + (850 * coalesce(i1.m, 0)) // 1000 AS BIGINT) AS rank
        |       FROM nodes LEFT JOIN i1 USING (node)),
        |i2 AS (SELECT e.dst AS node, sum(r1.rank // deg.outdeg) AS m
        |       FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src GROUP BY 1),
        |r2 AS (SELECT nodes.node, CAST(150000 + (850 * coalesce(i2.m, 0)) // 1000 AS BIGINT) AS rank
        |       FROM nodes LEFT JOIN i2 USING (node)),
        |i3 AS (SELECT e.dst AS node, sum(r2.rank // deg.outdeg) AS m
        |       FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src GROUP BY 1),
        |r3 AS (SELECT nodes.node, CAST(150000 + (850 * coalesce(i3.m, 0)) // 1000 AS BIGINT) AS rank
        |       FROM nodes LEFT JOIN i3 USING (node))
        |SELECT node AS vec_id, rank AS rank_micro FROM r3""".stripMargin,
    "q138_covariance_stats" ->
      """WITH e AS (SELECT vec_id, unnest(embedding) AS x,
        |                  generate_subscripts(embedding, 1) AS i FROM embeddings)
        |SELECT CAST(a.i - 1 AS INT) AS i, CAST(b.i - 1 AS INT) AS j,
        |  CAST(CAST(CAST(sum(CAST(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE) AS DECIMAL(38,15))) AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE) AS sum_xy,
        |  count(*) AS n
        |FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY 1, 2""".stripMargin,
    "q135_jl_project" ->
      """WITH t AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < 200),
        |ji AS (SELECT unnest(generate_series(0, 7)) AS j),
        |ii AS (SELECT unnest(generate_series(0, 63)) AS i),
        |h AS (
        |  SELECT i, j, xor(h2, h2 >> 13) AS h3 FROM (
        |    SELECT i, j, ((xor(h0, h0 >> 16) % 2147483648) * 2246822519)
        |                   % 4294967296 AS h2 FROM (
        |      SELECT ii.i, ji.j,
        |        (ii.i*2654435761 + ji.j*40503 + 2246822519) % 4294967296 AS h0
        |      FROM ii CROSS JOIN ji))),
        |terms AS (
        |  SELECT t.vec_id, h.j,
        |    CASE WHEN (h.h3 >> 16) % 2 = 0
        |         THEN CAST(CAST(v[h.i+1] AS DOUBLE) AS DECIMAL(38,15))
        |         ELSE CAST(-CAST(v[h.i+1] AS DOUBLE) AS DECIMAL(38,15)) END AS term
        |  FROM t CROSS JOIN h),
        |p AS (SELECT vec_id, j, sum(term) AS s FROM terms GROUP BY 1, 2)
        |SELECT vec_id, CAST(j AS INT) AS j,
        |       CAST(CAST(CAST(s AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE) AS proj
        |FROM p""".stripMargin,
    // nearest-centroid assignment: decimal norms/dots, double combine
    "q61_kmeans_assign" ->
      """WITH nv AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS nrm
        |  FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, embedding AS cvec, nrm AS cnrm FROM nv WHERE vec_id < 8),
        |p AS (
        |  SELECT v.vec_id, c.centroid_id,
        |    CAST(v.nrm AS DOUBLE) + CAST(c.cnrm AS DOUBLE)
        |    - 2*CAST(list_sum(list_transform(list_zip(v.embedding, c.cvec),
        |        p -> CAST(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE) AS dist2
        |  FROM nv v CROSS JOIN c),
        |a AS (SELECT vec_id, centroid_id, dist2,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, centroid_id ASC) AS rn
        |      FROM p)
        |SELECT vec_id, centroid_id, CAST(CAST(dist2 AS DECIMAL(38,6)) AS DOUBLE) AS dist2
        |FROM a WHERE rn = 1""".stripMargin,
    "q26_cosine_topk" ->
      """WITH norm AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    CAST(list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |        p -> CAST(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE)
        |      / sqrt(CAST(q.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)) AS cosine
        |  FROM norm q JOIN norm c ON q.vec_id < 8 AND c.vec_id <> q.vec_id)
        |SELECT query_id, cand_id, CAST(CAST(cosine AS DECIMAL(38,6)) AS DOUBLE) AS cosine, CAST(rnk AS INT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
        |      FROM pairs) WHERE rnk <= 5""".stripMargin,
    // iters=0 centroids (first nlist by id), dist = vnrm - 2*dot + cnrm
    // with each term an exact DECIMAL(38,15) sum cast to DOUBLE (the
    // NOTES combination rule); assignment rn=1 == Spark's
    // min(struct(dist, cid)); probe and rerank tie-break (dist|cosine,
    // id) == topKPerQuery
    "q86_ivf_topk" ->
      """WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT 16),
        |cn AS (SELECT cid, cv,
        |  CAST(list_sum(list_transform(cv,
        |    x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE) AS cnrm
        |  FROM cents),
        |vn AS (SELECT vec_id, embedding,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE) AS vnrm
        |  FROM embeddings),
        |ad AS (SELECT v.vec_id AS cand_id, c.cid,
        |  v.vnrm - 2*CAST(list_sum(list_transform(list_zip(v.embedding, c.cv),
        |      p -> CAST(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE) + c.cnrm AS dist
        |  FROM vn v CROSS JOIN cn c),
        |assign AS (SELECT cand_id, cid FROM
        |  (SELECT *, row_number() OVER (PARTITION BY cand_id ORDER BY dist ASC, cid ASC) AS rn FROM ad)
        |  WHERE rn = 1),
        |probes AS (SELECT query_id, cid FROM
        |  (SELECT cand_id AS query_id, cid, dist,
        |     row_number() OVER (PARTITION BY cand_id ORDER BY dist ASC, cid ASC) AS pr
        |   FROM ad WHERE cand_id < 8)
        |  WHERE pr <= 4),
        |norm AS (SELECT vec_id, embedding,
        |  list_sum(list_transform(embedding,
        |    x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS nrm
        |  FROM embeddings),
        |pairs AS (SELECT p.query_id, a.cand_id,
        |  CAST(list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |      z -> CAST(CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE)
        |    / sqrt(CAST(q.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)) AS cosine
        |  FROM probes p JOIN assign a USING (cid)
        |  JOIN norm q ON q.vec_id = p.query_id
        |  JOIN norm c ON c.vec_id = a.cand_id
        |  WHERE a.cand_id <> p.query_id)
        |SELECT query_id, cand_id, CAST(CAST(cosine AS DECIMAL(38,6)) AS DOUBLE) AS cosine, CAST(rnk AS INT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
        |      FROM pairs) WHERE rnk <= 5""".stripMargin,
    // PQ: subvector slices per subspace j, iters=0 codebooks (first 16
    // by id), decimal-exact subspace distances, argmin codes (rn=1 ==
    // Spark's min(struct)), per-query LUT join on (j, code),
    // fixed-order pivot recombine — sum() over doubles would be
    // order-nondeterministic
    "q87_pq_topk" -> PqOracleSql,
    // the persisted-index path must be indistinguishable from direct
    // PQ: q127 runs the SAME oracle
    "q127_pq_indexed" -> PqOracleSql,
    // md5-parity hyperplanes (±1 by md5Hash60('lsh:p:d') % 2), plane
    // dots as exact DECIMAL(38,15) (float32 converts exactly → every
    // signature bit deterministic), 16-bit signature / 4 bands, shared
    // band-key candidates, q26's deterministic-cosine rerank
    "q84_lsh_topk" ->
      """WITH sig AS (SELECT vec_id, embedding,
        |  CAST(list_sum(list_transform(range(0,16), p ->
        |    CASE WHEN list_sum(list_transform(range(1, len(embedding)+1), i ->
        |      CAST(CAST(embedding[i] AS DOUBLE) *
        |        (CASE WHEN (('0x'||substring(md5('lsh:' || p || ':' || (i-1)),1,15))::BIGINT) % 2 = 0
        |              THEN 1.0 ELSE -1.0 END) AS DECIMAL(38,15)))) >= 0
        |         THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS sig
        |  FROM embeddings),
        |keys AS (SELECT vec_id, band, (sig >> (band*4)) & 15 AS key
        |         FROM (SELECT vec_id, sig, unnest(range(0,4)) AS band FROM sig)),
        |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
        |         FROM keys q JOIN keys c ON q.band = c.band AND q.key = c.key
        |         WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
        |norm AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT cand.query_id, cand.cand_id,
        |    CAST(list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |        p -> CAST(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE)
        |      / sqrt(CAST(q.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)) AS cosine
        |  FROM cand JOIN norm q ON q.vec_id = cand.query_id
        |            JOIN norm c ON c.vec_id = cand.cand_id)
        |SELECT query_id, cand_id, CAST(CAST(cosine AS DECIMAL(38,6)) AS DOUBLE) AS cosine, CAST(rnk AS INT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
        |      FROM pairs) WHERE rnk <= 5""".stripMargin,
    // sign bits packed 32/word so DuckDB BIGINT arithmetic never
    // overflows; pure integer surface
    "q72_hamming_topk" ->
      """WITH sk AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(range(1,33),
        |      i -> CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i-1)) ELSE 0 END)) AS BIGINT) AS w0,
        |    CAST(list_sum(list_transform(range(33,65),
        |      i -> CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i-33)) ELSE 0 END)) AS BIGINT) AS w1
        |  FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS hamming
        |  FROM sk q JOIN sk c ON q.vec_id < 8 AND c.vec_id <> q.vec_id)
        |SELECT query_id, cand_id, CAST(hamming AS INT) AS hamming, CAST(rnk AS INT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY hamming ASC, cand_id ASC) AS rnk FROM pairs)
        |WHERE rnk <= 5""".stripMargin,
    // exact decimal component sums; 1-based subscripts shifted to match
    // posexplode's 0-based pos
    "q79_centroid_update" ->
      """SELECT label, CAST(i - 1 AS INT) AS pos,
        |  CAST(CAST(CAST(sum(CAST(CAST(e AS DOUBLE) AS DECIMAL(38,15))) AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE) AS sum_val,
        |  count(*) AS n
        |FROM (SELECT label, unnest(embedding) AS e,
        |        generate_subscripts(embedding, 1) AS i FROM embeddings)
        |GROUP BY 1, 2""".stripMargin,
    // q82's component closure resolved to the max-token (tie min-id)
    // member; score compared as DOUBLE on both sides (integer-valued)
    "q94_cluster_best" ->
      """WITH RECURSIVE raw AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, i, len(toks) - 2 AS n,
        |        ('0x' || substring(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15))::BIGINT AS h
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks)-2)) AS i FROM raw
        |            WHERE len(toks) >= 3)),
        |m AS (SELECT doc_id, i, n,
        |        min(h) OVER (PARTITION BY doc_id ORDER BY i
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |      FROM g),
        |fps AS (SELECT DISTINCT doc_id, fp FROM m WHERE i <= greatest(n-4, 0) + 1),
        |keep AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
        |f2 AS (SELECT doc_id, fp FROM fps JOIN keep USING (fp)),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |walk AS (
        |  SELECT src AS node, src AS lbl FROM e
        |  UNION
        |  SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.node),
        |comp AS (SELECT node AS doc_id, min(lbl) AS comp_id FROM walk GROUP BY node),
        |tc AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS sc FROM documents),
        |j AS (SELECT c.doc_id, c.comp_id, t.sc FROM comp c JOIN tc t USING (doc_id)),
        |mx AS (SELECT comp_id, max(sc) AS ms FROM j GROUP BY comp_id),
        |best AS (SELECT j.comp_id, min(j.doc_id) AS survivor_id
        |         FROM j JOIN mx ON j.comp_id = mx.comp_id AND j.sc = mx.ms
        |         GROUP BY j.comp_id)
        |SELECT j.doc_id, j.comp_id, b.survivor_id
        |FROM j JOIN best b ON j.comp_id = b.comp_id""".stripMargin,
    // q26's decimal-cosine top-5 joined to same-label qrels; integer
    // metrics (reciprocal rank in micro units via floor division)
    "q116_retrieval_eval" ->
      """WITH norm AS (
        |  SELECT vec_id, embedding, label,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    CAST(list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |        p -> CAST(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE)
        |      / sqrt(CAST(q.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)) AS cosine
        |  FROM norm q JOIN norm c ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
        |res AS (SELECT query_id, cand_id, rnk FROM
        |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
        |   FROM pairs) WHERE rnk <= 5),
        |qrels AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id
        |          FROM embeddings q JOIN embeddings c
        |            ON q.vec_id < 8 AND c.vec_id <> q.vec_id AND q.label = c.label),
        |h AS (SELECT r.query_id, count(*) AS hits, min(r.rnk) AS fr
        |      FROM res r JOIN qrels USING (query_id, cand_id) GROUP BY 1),
        |nr AS (SELECT query_id, count(*) AS n_rel FROM qrels GROUP BY 1)
        |SELECT q.query_id,
        |  CAST(coalesce(nr.n_rel, 0) AS BIGINT) AS n_rel,
        |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  CAST(coalesce(h.fr, 0) AS INT) AS first_rank,
        |  CAST(CASE WHEN h.fr IS NOT NULL THEN 1000000 // h.fr ELSE 0 END AS BIGINT) AS rr_micro
        |FROM (SELECT DISTINCT query_id FROM res) q
        |LEFT JOIN nr ON nr.query_id = q.query_id
        |LEFT JOIN h ON h.query_id = q.query_id""".stripMargin,
    // q116's brute top-5 + same-label qrels scored with the pinned
    // log2 discount table (literals injected from ndcgWeightsMicro)
    "q261_ndcg" -> {
      val w = graft.llm.Relevance.ndcgWeightsMicro(5)
      val wRows = w.zipWithIndex
        .map { case (wt, i) => s"(${i + 1}, ${wt})" }.mkString(", ")
      val prefix = w.scanLeft(0L)(_ + _)
      val idcgRows = (0 to 5)
        .map(i => s"($i, ${prefix(i)})").mkString(", ")
      s"""WITH norm AS (
        |  SELECT vec_id, embedding, label,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    CAST(list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |        p -> CAST(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE)
        |      / sqrt(CAST(q.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)) AS cosine
        |  FROM norm q JOIN norm c ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
        |res AS (SELECT query_id, cand_id, rnk FROM
        |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
        |   FROM pairs) WHERE rnk <= 5),
        |qrels AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id
        |          FROM embeddings q JOIN embeddings c
        |            ON q.vec_id < 8 AND c.vec_id <> q.vec_id AND q.label = c.label),
        |wt AS (SELECT * FROM (VALUES $wRows) t(r, w)),
        |idcg AS (SELECT * FROM (VALUES $idcgRows) t(nr, v)),
        |d AS (SELECT r.query_id, CAST(sum(wt.w) AS BIGINT) AS dcg
        |      FROM res r JOIN qrels USING (query_id, cand_id)
        |      JOIN wt ON wt.r = r.rnk GROUP BY 1),
        |nr AS (SELECT query_id, count(*) AS n_rel FROM qrels GROUP BY 1),
        |base AS (SELECT q.query_id,
        |    CAST(coalesce(nr.n_rel, 0) AS BIGINT) AS n_rel,
        |    CAST(coalesce(d.dcg, 0) AS BIGINT) AS dcg_micro
        |  FROM (SELECT DISTINCT query_id FROM res) q
        |  LEFT JOIN nr ON nr.query_id = q.query_id
        |  LEFT JOIN d ON d.query_id = q.query_id)
        |SELECT base.query_id, base.n_rel, base.dcg_micro,
        |  CASE WHEN base.n_rel = 0 THEN NULL
        |       ELSE CAST((1000000*base.dcg_micro) // idcg.v AS BIGINT)
        |  END AS ndcg_micro
        |FROM base JOIN idcg ON idcg.nr = least(base.n_rel, 5)""".stripMargin
    },
    // SQ8: per-dim min/span stats, floor-clamped affine codes, exact
    // query vs dequantized candidates, the q86/q87 decimal sq-dist
    // recipe — every step a selection, exact integer, or chain of
    // correctly-rounded IEEE ops, so production and oracle agree
    "q110_sq_topk" -> Sq8OracleSql,
    // forward/backward top-4 neighborhoods over the even<400 → odd
    // split; margin = 2·kf·kb·cos6 / (sf·kb + sb·kf), the q22 division
    "q126_margin_mining" ->
      """WITH norm AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS nrm
        |  FROM embeddings),
        |cosf AS (
        |  SELECT s.vec_id AS query_id, t.vec_id AS cand_id,
        |    CAST(list_sum(list_transform(list_zip(s.embedding, t.embedding),
        |        p -> CAST(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE)
        |      / sqrt(CAST(s.nrm AS DOUBLE) * CAST(t.nrm AS DOUBLE)) AS cosine
        |  FROM norm s JOIN norm t
        |    ON s.vec_id % 2 = 0 AND s.vec_id < 400 AND t.vec_id % 2 = 1),
        |fwdk AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, cand_id ASC) AS rnk FROM cosf)
        |  WHERE rnk <= 4),
        |fstats AS (
        |  SELECT query_id, CAST(sum(CAST(cosine AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS sf,
        |         count(*) AS kf
        |  FROM fwdk GROUP BY 1),
        |bstats AS (
        |  SELECT cand_id, CAST(sum(CAST(cosine AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS sb,
        |         count(*) AS kb
        |  FROM (SELECT *, row_number() OVER (PARTITION BY cand_id
        |          ORDER BY cosine DESC, query_id ASC) AS brnk FROM cosf)
        |  WHERE brnk <= 4 GROUP BY 1)
        |SELECT f.query_id, f.cand_id,
        |  CAST(CAST(f.cosine AS DECIMAL(38,6)) AS DOUBLE) AS cosine,
        |  CAST(f.rnk AS INT) AS rnk,
        |  CASE WHEN (sf*kb + sb*kf) > 0 THEN
        |    CAST(CAST(CAST(CAST(f.cosine AS DECIMAL(18,6)) * kf * kb * 2 AS DECIMAL(18,6))
        |         / CAST(sf*kb + sb*kf AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) END AS margin
        |FROM fwdk f JOIN fstats USING (query_id) JOIN bstats USING (cand_id)""".stripMargin,
    // the persisted-index path must be indistinguishable from direct
    // SQ8: q122 runs the SAME oracle
    "q122_sq_indexed" -> Sq8OracleSql,
    // streamed probe of the stored SQ8 codes: finite replay ==> union
    // of micro-batch results == the batch run == q110's oracle
    "q128_stream_ann" -> Sq8OracleSql,
    // q26's decimal-cosine recipe + the label-inequality join condition
    "q105_hard_negatives" ->
      """WITH norm AS (
        |  SELECT vec_id, label, embedding,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS nrm
        |  FROM embeddings WHERE label IS NOT NULL),
        |pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    CAST(list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |        p -> CAST(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE)
        |      / sqrt(CAST(q.nrm AS DOUBLE) * CAST(c.nrm AS DOUBLE)) AS cosine
        |  FROM norm q JOIN norm c ON q.vec_id < 8 AND c.vec_id <> q.vec_id AND c.label <> q.label)
        |SELECT query_id, cand_id, CAST(CAST(cosine AS DECIMAL(38,6)) AS DOUBLE) AS cosine, CAST(rnk AS INT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
        |      FROM pairs) WHERE rnk <= 5""".stripMargin,
  )
}

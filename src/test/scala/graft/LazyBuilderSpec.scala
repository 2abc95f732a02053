package graft

/** Lazy-builder contract (round-11 verdict ask #2): CONSTRUCTING a
  * `SparkEntry.queries` value must run ZERO Spark jobs — all sizing
  * decisions (q339's nlist, q341's band width) ride the plan as
  * broadcast 1-row frames, the q343 nFrame precedent. An eager
  * `count()` in a builder is the same violation the ksUniformPpm
  * raise_error rework removed: Verify/Bench construct every query
  * before timing/dumping it, so build-time jobs are silent
  * double-execution.
  */
class LazyBuilderSpec extends SparkTestBase {

  test("gate construction runs zero Spark jobs of any kind") {
    // the pinning builders q339/q341/q363 plus the six small gates the
    // fixed-cost benchmark runs; fixture reads take their schema from
    // parquet footers (graft.io.ParquetMeta), so not even the reader's
    // schema-inference job may fire
    val gates = Seq("q339_semantic_dedup", "q341_semantic_dedup_lsh",
      "q363_semantic_dedup_cc", "q3_watermark", "q13_scalar_funcs",
      "q21_token_count", "q38_array_funcs", "q182_twap", "q300_trend_prop")
    val (built, jobs) = JobProbe.jobs(spark) {
      gates.map(g => g -> SparkEntry.queries(g)(spark, sf("sf0.001"))).toMap
    }
    assert(jobs.isEmpty,
      s"query construction fired job(s) [${jobs.mkString(" | ")}] — " +
        "builders must be lazy")
    // and the lazily-built plans still execute to the gate's answers
    assert(built("q339_semantic_dedup").count() > 0,
      "q339 lazy plan returned no survivors")
    assert(built("q341_semantic_dedup_lsh").count() > 0,
      "q341 lazy plan returned no survivors")
    assert(built("q363_semantic_dedup_cc").count() > 0,
      "q363 lazy plan returned no survivors")
  }

  test("semanticDedupCc: dup collapse, O(n·k̄) cluster-size shape") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, count, sum}
    val emb = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    val k = 16
    val all = graft.llm.Dedup.semanticDedupCc(emb, "vec_id",
      "embedding", minCosine = 0.25, dims = 64,
      targetClusterSize = k, deterministic = true)
    val n = emb.count()
    assert(all.count() == n, "one row per input vector")
    // a planted exact duplicate collapses: append a copy of vector 7
    // under a higher id — identical vectors share every band bucket
    // and the same argmin, so they land in one cluster and the copy
    // (cosine 1.0 to a lower id) must drop
    val dup = emb.where($"vec_id" === 7L)
      .select(lit(900000L).as("vec_id"), $"embedding", $"label")
    val withDup = emb.unionByName(dup)
    val r = graft.llm.Dedup.semanticDedupCc(withDup, "vec_id",
        "embedding", minCosine = 0.999, dims = 64,
        targetClusterSize = k, deterministic = true)
      .where($"vec_id" === 900000L).select($"keep").as[Int]
      .collect().toSeq
    assert(r == Seq(0), s"planted duplicate must drop, got keep=$r")
    // the constant-cluster contract: Σ|cluster|² stays O(n·k̄) — the
    // pair-phase cost bound the sizing rule exists to pin (a fixed
    // nlist would blow this up as n grows)
    val sq = all.groupBy($"centroid_id").agg(count(lit(1)).as("c"))
      .agg(sum($"c" * $"c")).as[Long].collect().head
    assert(sq <= 10L * n * k,
      s"sum of squared cluster sizes $sq exceeds 10·n·k̄ = ${10L * n * k}")
  }

  test("semanticDedupLshScaled == semanticDedupLsh at the selected width") {
    import spark.implicits._
    // 150 vectors; the integer rule picks w=4 (16·2^4=256 >= 150), so
    // the scaled operator must agree bit-for-bit with the static
    // operator at bits = 4·4 — the full-width-signature truncation
    // argument, pinned empirically
    val df = spark.range(0, 150).selectExpr("id AS vec_id",
      "array(CAST(id % 13 AS FLOAT), CAST(id % 7 AS FLOAT), " +
        "CAST(1.0 AS FLOAT), CAST((id % 3) - 1 AS FLOAT)) AS embedding")
    val stat = graft.llm.Dedup.semanticDedupLsh(df, "vec_id",
        "embedding", tau = 0.9, bits = 16, bands = 4, dims = 4)
      .as[Long].collect().toSet
    val scaled = graft.llm.Dedup.semanticDedupLshScaled(df, "vec_id",
        "embedding", tau = 0.9, bands = 4, dims = 4)
      .as[Long].collect().toSet
    assert(stat == scaled,
      s"scaled width selection diverged: static ${stat.size} vs " +
        s"scaled ${scaled.size} survivors")
    assert(stat.size < 150, "fixture produced no dups — vacuous test")
  }
}

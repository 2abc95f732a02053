package graft

import org.apache.spark.sql.DataFrame

/** Shuffle-record audit: the plan-volume metric behind the
  * ShuffleBudgetSpec regression guard, in main sources so the SCALE
  * rehearsal can assert budget and scale from ONE artifact.
  *
  * Wall-clock swings 0.7–1.1x with ambient VM load; shuffle volume is
  * deterministic per plan+data, which is why budgets — not seconds —
  * are the primary regression tripwire (round-9 protocol).
  *
  * Usage: `runMain graft.ShuffleAudit <sfDir> <gate,gate,...>` prints
  * one JSON line {"<gate>":records,...} (-1 for a gate that failed)
  * for tools/make_scale_report.py to embed as the rehearsal's
  * "budgets" section; cores as in [[Bench.env]]. */
object ShuffleAudit {

  /** Total shuffle-WRITE records across every job the query ran —
    * including jobs fired eagerly during DataFrame CONSTRUCTION
    * (iterative operators checkpoint mid-build, so their returned plan
    * is an RDD scan and per-exchange plan metrics would miss all the
    * real work). `build` is by-name for exactly that reason:
    * construction must run inside the probe. */
  def shuffledRecords(spark: org.apache.spark.sql.SparkSession,
                      build: => DataFrame): Long =
    JobProbe.jobs(spark)(build.queryExecution.toRdd.count())._2
      .map(_.shuffleWriteRecords).sum

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ShuffleAudit <sfDir> <q1,q2,...>")
    val sfDir = args(0)
    val queries = args(1).split(',').toSeq.filter(_.nonEmpty)
      .map(q => q -> SparkEntry.queries(q))
    val spark = Bench.session(Bench.env().cpus, sfDir, "graft-shuffle-audit")
    try {
      val out = Bench.passes(spark, sfDir, queries, 1)(q => shuffledRecords(spark, q()))
        .map { case (q, runs) => s""""$q":${runs.head.getOrElse(-1L)}""" }
      println(out.mkString("{", ",", "}"))
    } finally spark.stop()
  }
}

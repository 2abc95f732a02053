package graft

import scala.util.{Failure, Success}

/** Per-JOB wall-clock profile of one or more SparkEntry queries — the
  * measurement tool behind OPTIMIZATION_r12.md (guide §1: decide where
  * the time goes before touching the plan). Each query runs in full
  * (construction + terminal count, the Bench methodology) under
  * [[JobProbe]], then every Spark job's duration, description, and
  * summed stage records are printed with the query wall total.
  * Construction-time jobs (collects, fixture writes, stream
  * micro-batches) are exactly what Bench times, so they are profiled
  * too — that is the point. Passes after the first show the
  * post-codegen steady state; each pass prints separately.
  *
  * Usage: `runMain graft.ProfileOne <name[,name...]>`, settings as in
  * [[Bench.env]]. */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val env = Bench.env()
    val queries = args(0).split(',').toSeq.map(n => n -> SparkEntry.queries(n))
    val spark = Bench.session(env.cpus, env.sfDir, "graft-profile")
    try {
      val runs = Bench.passes(spark, env.sfDir, queries, env.reps) { query =>
        JobProbe.jobs(spark) {
          val t0 = System.nanoTime()
          val n = query().count()
          (n, (System.nanoTime() - t0) / 1e9)
        }
      }
      for ((name, reps) <- runs; (run, i) <- reps.zipWithIndex) run match {
        case Failure(e) =>
          println(s"\n[profile] ===== $name rep${i + 1}: FAILED: ${e.getMessage}")
        case Success(((n, wall), jobs)) =>
          val jobSum = jobs.map(_.ms).filter(_ >= 0).sum / 1e3
          println(f"%n[profile] ===== $name rep${i + 1}: wall=$wall%.3f s, " +
            f"jobs=${jobs.size}, job-sum=$jobSum%.3f s ($n rows) =====")
          jobs.sortBy(-_.ms).take(40).foreach { j =>
            val d = if (j.description.length > 60) j.description.take(60) + "…"
              else j.description
            println(f"[profile]  job${j.id}%4d ${j.ms / 1e3}%8.3f s  " +
              f"tasks=${j.tasks}%4d in=${j.inputRecords}%9d " +
              f"sw=${j.shuffleWriteRecords}%8d sr=${j.shuffleReadRecords}%8d  " +
              f"$d [${j.stages.take(140)}]")
          }
      }
    } finally spark.stop()
  }
}

package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.{Failure, Success, Try}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric","value","unit","queries","sf"}.
  * Usage: `runMain graft.Bench [name,name,...]`; with a name list it
  * runs only those queries, prints {"metric":"subset",...} with full
  * names and 3-decimal seconds, and writes no out file.
  *
  * Measurement protocol (round-2 verdict: a single pass is too noisy to
  * adjudicate — unchanged queries swung 5–10× run-to-run on a busy VM;
  * round-4 verdict: back-to-back reps of ONE query share any sustained
  * noise window, so the per-query min doesn't protect — q27 recorded
  * 16.74 s while a clean re-run measured 2.44 s):
  * reps are INTERLEAVED — the full sorted query list runs as pass 1,
  * then pass 2, ... pass N (default 3), and each query reports the
  * MINIMUM across passes. A sustained noisy window now inflates one
  * pass of many queries instead of every rep of one query, and the min
  * across passes recovers the clean number. The first pass absorbs plan
  * compilation + codegen; a global warm-up action absorbs session init.
  *
  * Output: the bare JSON line is the LAST stdout line (build.sbt sets
  * `run / outputStrategy := StdoutOutput` so sbt's forked-run logger
  * cannot prefix it with [info]), and the same line is persisted to
  * SPARK_GRAFT_BENCH_OUT (default target/bench_out.json, cwd-relative;
  * `target/` is build output, so a default run rewrites no tracked file).
  *
  * Line-size budget (round-5 verdict: the driver's tail window is 2000
  * bytes and the 81-query 3-decimal line was 2022 — `parsed: null` for
  * the third round running): per-query values are integer DECISECONDS
  * (`"qunit":"ds"` — round 7 moved ms→cs at 137 queries and cs→ds at
  * 157, each time a digit per entry; 0.1 s resolution stays inside
  * run-to-run noise for every query the verdicts scrutinize, and the
  * per-query MINIMUM across reps is what's recorded anyway),
  * per-query keys are the unique numeric
  * prefix of the SparkEntry.queries name (`"27":157` for
  * q27_minhash_pairs — the digits are how every round's verdict refers
  * to queries, and full 15-char-average names put the worst-case line
  * back over the window), and `sf` is the directory basename. BenchSpec
  * asserts the worst-case serialized line stays under 1980 bytes so
  * query growth cannot silently regress this again. A failed query
  * reports -1, never a fake timing.
  */
object Bench {

  /** Numeric prefix used as the compact per-query JSON key: `q174_kmv`
    * → `"174"`. The digits alone are unique by construction (BenchSpec
    * asserts it); the `q` was dropped at 178 queries — one byte per
    * entry was the cheapest capacity step left that keeps deciseconds
    * resolution (the ds→s step would cost a digit of precision on
    * every sub-10 s query, which is most of them). */
  def shortKey(name: String): String = name.takeWhile(_ != '_').drop(1)

  /** The one JSON line the driver parses. `results` carries integer
    * centiseconds per full query name (-1 = failure); `totalSec` is
    * seconds. Shared with BenchSpec so the size guard tests the real
    * serializer, not a re-implementation.
    *
    * `reps` records the interleaved-pass count behind each per-query
    * minimum (round-6 verdict: min-across-runs must be the RECORDED
    * artifact, not a protocol footnote). `nfail`/`failed` make a partial
    * run self-describing: a total computed with failed queries excluded
    * is NOT comparable to a green round's total, and cross-referencing
    * -1 sentinels shouldn't be required to notice (round-6 advice).
    * `failed` lists short keys, capped at 4 so a catastrophic run
    * cannot blow the driver's 2000-byte tail window. Per-query values
    * CLAMP at 999 ds (99.9 s): the artifact must be fixed-size by
    * construction, and a single query past 100 s at sf0.1 is a
    * catastrophic regression where the exact digit carries no
    * information — the clamped 999 reads as "investigate". */
  def serialize(results: Seq[(String, Long)], totalSec: Double, sfDir: String,
                reps: Int = 1): String = {
    // per-query values as ONE csv string in NUMERIC-ascending short-key
    // order (`"qorder":"numeric-asc"`), keys implicit — the structural
    // capacity step 197 queries forced: the per-entry `"193":` key
    // syntax (~7 B × queries) pushed the worst-case object form to
    // 1994 B. Decode rule (one line, also in NOTES.md): align the csv
    // with SparkEntry.queries short keys sorted as integers. Worst case
    // now ~4 B/query → headroom to ~400 queries at the 999-ds clamp.
    val qs = results
      .sortBy { case (k, _) => shortKey(k).toInt }
      .map { case (_, v) => math.min(v, 999L).toString }
      .mkString(",")
    val failed = results.filter(_._2 < 0).map(_._1)
    val failedJson = failed.take(4).map("\"" + shortKey(_) + "\"")
      .mkString("[", ",", "]")
    val sf = new java.io.File(sfDir).getName
    s"""{"metric":"total","value":$totalSec,"unit":"sec","qunit":"ds","reps":$reps,""" +
      s""""nfail":${failed.size},"failed":$failedJson,"qorder":"numeric-asc",""" +
      s""""qds":"$qs","sf":"$sf"}"""
  }
  /** The settings every harness main reads from the environment. */
  final case class Env(sfDir: String, cpus: Int, reps: Int)

  /** Reads SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS and
    * SPARK_GRAFT_BENCH_REPS. A count that is not a positive integer
    * fails with the variable and the value. */
  def env(vars: Map[String, String] = sys.env): Env = {
    def count(key: String, default: Int): Int = vars.get(key).map { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$key must be a positive integer, got '$v'"))
    }.getOrElse(default)
    Env(vars.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      count("SPARK_GRAFT_CPUS", 4), count("SPARK_GRAFT_BENCH_REPS", 3))
  }

  /** A local session on `cpus` cores after a warm-up action (session
    * init, codegen compiler, parquet footer reads). */
  def session(cpus: Int, sfDir: String, appName: String): SparkSession = {
    val spark = GraftSession.local(cpus, appName)
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    spark
  }

  /** Runs every query once per pass, `reps` passes in pass-major order,
    * and returns each query's per-pass results, in `queries` order.
    * `measure` gets the query's builder; a query that throws is a
    * failed entry for that pass, never a fake result (a regression must
    * read as breakage, not as a faster run), and the loop goes on. */
  def passes[R](spark: SparkSession, sfDir: String,
                queries: Seq[(String, (SparkSession, String) => DataFrame)],
                reps: Int)(measure: (() => DataFrame) => R): Seq[(String, Seq[Try[R]])] = {
    val runs = queries.map(_ => Vector.newBuilder[Try[R]])
    for (_ <- 1 to reps; ((name, fn), out) <- queries.zip(runs)) {
      // each rep must pay the full query: operators that persist() their
      // result would otherwise be cache-substituted in reps 2+ (identical
      // canonicalized plans) and the reported minimum would time a cache
      // scan, not the query
      spark.catalog.clearCache()
      // clearCache() only drops CATALOG-cached Datasets; blocks pinned by
      // operator-internal persist()/localCheckpoint() (iterative graph
      // ops, index builds) outlive their query and accumulated across the
      // 200+-query run until the block manager ran hot — BENCH_r07
      // recorded q100 at 7.9 s where an isolated min is 1.5 s.
      // Dropping every persistent RDD between queries (blocking, so the
      // release is not racing the next timed region) restores per-query
      // isolation without a session restart.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      out += (try Success(measure(() => fn(spark, sfDir)))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); Failure(e) })
    }
    queries.map(_._1).zip(runs.map(_.result()))
  }

  def main(args: Array[String]): Unit = {
    val env = Bench.env()
    val subset = args.headOption.map(_.split(',').toSeq)
    val queries = subset.fold(SparkEntry.queries.toSeq.sortBy(_._1))(
      _.map(n => n -> SparkEntry.queries(n)))
    val spark = session(env.cpus, env.sfDir, "graft-bench")
    val mins = passes(spark, env.sfDir, queries, env.reps) { query =>
      val t0 = System.nanoTime()
      query().count()
      (System.nanoTime() - t0) / 1e9
    }.map { case (name, ts) =>
      name -> (if (ts.exists(_.isFailure)) -1.0 else ts.map(_.get).min)
    }
    spark.stop()
    def round3(v: Double): Double = math.rint(v * 1000) / 1000
    if (subset.isDefined) {
      val secs = mins.map { case (n, t) => n -> (if (t < 0) -1.0 else round3(t)) }
      val total = round3(secs.map(_._2).filter(_ >= 0).sum)
      val qs = secs.map { case (n, v) => s""""$n":$v""" }.mkString(",")
      val sf = new java.io.File(env.sfDir).getName
      println(s"""{"metric":"subset","value":$total,"unit":"sec","reps":${env.reps},""" +
        s""""queries":{$qs},"sf":"$sf"}""")
    } else {
      val results = mins.map { case (n, t) =>
        n -> (if (t < 0) -1L else math.rint(t * 10).toLong) }
      val total = round3(results.map(_._2).filter(_ >= 0).sum / 10.0)
      val json = serialize(results, total, env.sfDir, env.reps)
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_out.json")
      try {
        val out = java.nio.file.Paths.get(outPath).toAbsolutePath
        java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.writeString(out, json + "\n")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $outPath write failed: ${e.getMessage}") }
      println(json)
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.util.Success

/** The harness loop (`Bench.passes`), its settings (`Bench.env`) and
  * the job probe, driven on the test session with injected queries. */
class HarnessSpec extends SparkTestBase {

  private def query(log: mutable.Buffer[String], name: String)(
      body: SparkSession => DataFrame): (String, (SparkSession, String) => DataFrame) =
    name -> { (s: SparkSession, _: String) => log += name; body(s) }

  test("passes run pass-major and a failing query does not stop the loop") {
    val log = mutable.ArrayBuffer.empty[String]
    val queries = Seq(
      query(log, "a")(_.range(3).toDF()),
      query(log, "boom")(_ => throw new IllegalStateException("boom")),
      query(log, "c")(_.range(5).toDF()))
    val runs = Bench.passes(spark, "unused", queries, 2)(_().count())
    assert(log == Seq("a", "boom", "c", "a", "boom", "c"))
    assert(runs.map(_._1) == Seq("a", "boom", "c"))
    assert(runs(0)._2 == Seq(Success(3L), Success(3L)))
    assert(runs(1)._2.forall(_.failed.toOption.exists(_.getMessage == "boom")))
    assert(runs(2)._2 == Seq(Success(5L), Success(5L)))
  }

  test("blocks one query pins are gone before the next query runs") {
    val log = mutable.ArrayBuffer.empty[String]
    val queries = Seq(
      query(log, "pin") { s =>
        s.range(100).toDF().persist().count()
        s.range(10).toDF().localCheckpoint()
      },
      query(log, "next")(_.range(1).toDF()))
    val runs = Bench.passes(spark, "unused", queries, 2) { q =>
      val left = spark.sparkContext.getPersistentRDDs.size
      q().count()
      left
    }
    assert(runs.flatMap(_._2) == Seq.fill(4)(Success(0)), runs)
  }

  test("the job probe counts shuffle-write records and keeps descriptions") {
    val (n, jobs) = JobProbe.jobs(spark)(spark.range(1000).repartition(4).count())
    assert(n == 1000)
    // 1000 rows through the round-robin exchange, then one partial
    // count per partition through the single-partition one
    assert(jobs.map(_.shuffleWriteRecords).filter(_ > 0) == Seq(1000, 4), jobs)
    assert(jobs.map(_.shuffleReadRecords).sum == 1004, jobs)
    assert(jobs.forall(_.ms >= 0), jobs)
    val sc = spark.sparkContext
    val (_, described) = JobProbe.jobs(spark) {
      sc.setJobDescription("harness probe")
      try sc.parallelize(1 to 10, 2).count()
      finally sc.setJobDescription(null)
    }
    assert(described.map(_.description) == Seq("harness probe"), described)
    assert(described.head.tasks == 2, described)
  }

  test("a bad harness count names the variable and the value") {
    for (key <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_REPS");
         bad <- Seq("abc", "0", "-2", "")) {
      val e = intercept[IllegalArgumentException](Bench.env(Map(key -> bad)))
      assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
    val defaults = Bench.env(Map.empty)
    assert(defaults.sfDir.endsWith("/sf0.1") && defaults.cpus == 4 &&
      defaults.reps == 3, defaults)
    assert(Bench.env(Map("SPARK_GRAFT_SF_DIR" -> "/d", "SPARK_GRAFT_CPUS" -> "8",
      "SPARK_GRAFT_BENCH_REPS" -> "1")) == Bench.Env("/d", cpus = 8, reps = 1))
  }
}

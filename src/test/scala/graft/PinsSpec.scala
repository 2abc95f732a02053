package graft

import graft.ops.Pins
import org.apache.hadoop.fs.Path
import org.apache.spark.CheckpointDirBridge
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** ops/Pins — the one pin policy, on both of its branches: local
  * checkpoints (no checkpoint dir, the default) and reliable ones. */
class PinsSpec extends SparkTestBase {

  // one partition: counting it needs no exchange, so an action is one job
  private def frame = spark.range(0, 100, 1, 1).selectExpr("id", "id * 2 AS v")

  private def rddOf(ds: Dataset[_]): RDD[_] =
    ds.queryExecution.logical.asInstanceOf[LogicalRDD].rdd

  private def persisted(r: RDD[_]): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(r.id)

  private def exists(file: String): Boolean = {
    val p = new Path(file)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  test("local branch: eager cut runs 1 job, lazy cut 0, cutCount 1") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val (eager, eagerJobs) = JobProbe.jobs(spark)(Pins.cut(frame))
    assert(eagerJobs.size == 1, eagerJobs)
    val (lazyCut, lazyJobs) = JobProbe.jobs(spark)(Pins.cut(frame, eager = false))
    assert(lazyJobs.isEmpty, lazyJobs)
    // the count is the lazy pin's first action: it materializes the pin
    val ((counted, n), countJobs) = JobProbe.jobs(spark)(Pins.cutCount(frame))
    assert(n == 100 && countJobs.size == 1, countJobs)
    assert(rddOf(counted).isCheckpointed && rddOf(eager).isCheckpointed)
    assert(!rddOf(lazyCut).isCheckpointed)
    val (m, rddJobs) = JobProbe.jobs(spark) {
      val r = spark.sparkContext.parallelize(1 to 10, 2)
      (Pins.cutCount(r), r.isCheckpointed)
    }
    assert(m == (10L, true) && rddJobs.size == 1, rddJobs)
    Seq(eager, lazyCut, counted).foreach(Pins.free)
  }

  test("local branch: free drops a pin from the persistent RDDs") {
    for (pinned <- Seq(Pins.cut(frame), Pins.cutCount(frame)._1)) {
      val r = rddOf(pinned)
      assert(persisted(r))
      Pins.free(pinned)
      assert(!persisted(r))
    }
    val r = spark.sparkContext.parallelize(1 to 10, 2)
    Pins.cutCount(r)
    assert(persisted(r))
    Pins.free(r)
    assert(!persisted(r))
    val e = intercept[IllegalArgumentException](Pins.free(frame))
    assert(e.getMessage.contains("cut frame"), e.getMessage)
  }

  test("reliable branch: cut writes a checkpoint file, free deletes it") {
    CheckpointDirBridge.withCheckpointDir(spark.sparkContext, tmpDir("graft-pins")) {
      // a reliable cut is eager even when asked for a lazy one
      val pinned = Pins.cut(frame, eager = false)
      val file = rddOf(pinned).getCheckpointFile
      assert(file.exists(exists), file)
      assert(pinned.count() == 100)
      Pins.free(pinned)
      assert(!exists(file.get))
      val (counted, n) = Pins.cutCount(frame)
      val countedFile = rddOf(counted).getCheckpointFile
      assert(n == 100 && countedFile.exists(exists), countedFile)
      Pins.free(counted)
      assert(!exists(countedFile.get))
      val r = spark.sparkContext.parallelize(1 to 10, 2)
      assert(Pins.cutCount(r) == 10)
      val rddFile = r.getCheckpointFile
      assert(rddFile.exists(exists), rddFile)
      Pins.free(r)
      assert(!exists(rddFile.get))
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "the bridge must put the shared session back on the local branch")
  }
}

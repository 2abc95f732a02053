package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable

/** The Spark jobs a block launches, one row each, seen through a
  * SparkListener: the one job listener of the harness mains and specs.
  *
  * The listener bus is asynchronous but FIFO, and the DAGScheduler
  * posts a job's stage-completed and job-end events in the same event
  * loop step that wakes the caller waiting on the job. So the probe
  * ends with a one-job sentinel, tagged through a local property: once
  * its start event lands, every event of every job the block waited on
  * has landed before it. The sentinel is RDD-level, so no AQE stage
  * submission can reorder it. */
object JobProbe {

  /** One job. `description` is its `spark.job.description` (a
    * streaming micro-batch describes its jobs with a line
    * `batch = <id>`), `callSite` its `callSite.short` property ("" when
    * unset), `stages` the names of every stage it lists. `ms` is -1
    * when the job had not ended when the sentinel started. `tasks` and
    * the record counts sum the job's completed stages: each completed
    * stage run counts once, in the first job that lists it (a later job
    * skips a stage an earlier one ran). */
  final case class Job(id: Int, description: String, callSite: String,
                       stages: String, ms: Long = -1, tasks: Int = 0,
                       inputRecords: Long = 0, shuffleReadRecords: Long = 0,
                       shuffleWriteRecords: Long = 0)

  private val Tag = "graft.jobprobe"

  /** The block's result and the jobs it launched, in start order. */
  def jobs[T](spark: SparkSession)(block: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val sentinel = new CountDownLatch(1)
    // written only on the listener thread, and only until the sentinel
    // starts; the latch publishes them to the caller
    val rows = mutable.LinkedHashMap.empty[Int, Job]
    val startedAt = mutable.Map.empty[Int, Long]
    val stageJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      private def open = sentinel.getCount > 0
      override def onJobStart(j: SparkListenerJobStart): Unit = if (open) {
        def prop(key: String) = Option(j.properties)
          .flatMap(p => Option(p.getProperty(key))).getOrElse("")
        if (prop(Tag) == token) sentinel.countDown()
        else {
          rows(j.jobId) = Job(j.jobId, prop("spark.job.description"),
            prop("callSite.short"), j.stageInfos.map(_.name).mkString("; "))
          startedAt(j.jobId) = j.time
          j.stageIds.foreach(stageJob.getOrElseUpdate(_, j.jobId))
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (open) {
          val info = s.stageInfo
          for {
            m <- Option(info.taskMetrics) if info.failureReason.isEmpty
            id <- stageJob.remove(info.stageId)
            r <- rows.get(id)
          } rows(id) = r.copy(tasks = r.tasks + info.numTasks,
            inputRecords = r.inputRecords + m.inputMetrics.recordsRead,
            shuffleReadRecords =
              r.shuffleReadRecords + m.shuffleReadMetrics.recordsRead,
            shuffleWriteRecords =
              r.shuffleWriteRecords + m.shuffleWriteMetrics.recordsWritten)
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (open)
        rows.get(j.jobId).foreach { r =>
          rows(j.jobId) = r.copy(ms = j.time - startedAt(j.jobId)) }
    }
    sc.addSparkListener(listener)
    try {
      val out = block
      sc.setLocalProperty(Tag, token)
      try sc.parallelize(1 to 4, 1).count()
      finally sc.setLocalProperty(Tag, null)
      if (!sentinel.await(15, TimeUnit.SECONDS))
        throw new IllegalStateException("sentinel job event never arrived")
      (out, rows.values.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

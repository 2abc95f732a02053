package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.CopyOnWriteArrayList
import scala.jdk.CollectionConverters._

/** The Spark jobs a block launches, seen through a SparkListener.
  *
  * The listener bus is asynchronous but FIFO, so the probe ends with a
  * one-job sentinel, tagged through a local property, and waits for its
  * start event: once it lands, every job the block launched has landed
  * before it. The sentinel is RDD-level, so no AQE stage submission can
  * reorder it. */
object JobProbe {

  private val Tag = "graft.test.jobprobe"

  /** The block's result and the stage names of each job it launched. */
  def jobs[T](spark: SparkSession)(block: => T): (T, Seq[String]) = {
    val (out, described) = describedJobs(spark)(block)
    (out, described.map(_._1))
  }

  /** Like [[jobs]], each job's stage names paired with its
    * `spark.job.description` ("" when unset). A streaming micro-batch
    * describes its jobs with a line `batch = <id>`. */
  def describedJobs[T](spark: SparkSession)(
      block: => T): (T, Seq[(String, String)]) = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val seen = new CopyOnWriteArrayList[((String, String), Boolean)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        val sentinel = props.exists(_.getProperty(Tag) == token)
        val description = props
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        seen.add(((j.stageInfos.map(_.name).mkString("; "), description),
          sentinel)); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = block
      sc.setLocalProperty(Tag, token)
      try sc.parallelize(1 to 4, 1).count()
      finally sc.setLocalProperty(Tag, null)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_._2) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.asScala.exists(_._2), "sentinel job event never arrived")
      (out, seen.asScala.takeWhile(!_._2).map(_._1).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

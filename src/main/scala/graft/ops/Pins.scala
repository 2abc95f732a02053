package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** The one pin policy: how an operator cuts a frame's lineage, and how
  * it releases the cut once a newer one supersedes it.
  *
  * A cut is a RELIABLE checkpoint when the SparkContext has a
  * checkpoint dir (it survives executor loss; always eager, since a
  * reliable checkpoint re-runs its lineage to write the files anyway),
  * else an executor-LOCAL checkpoint (test and local runs, where an
  * executor loss kills the JVM anyway). The context's own checkpoint
  * dir is the only input; there is no setting here.
  *
  * Small frames that several consumers read once and that nothing
  * supersedes stay plain `localCheckpoint()` calls at their sites. */
object Pins {

  private def reliable(sc: SparkContext): Boolean = sc.getCheckpointDir.isDefined

  /** Cut `ds`'s lineage. A lazy local cut (`eager = false`) is
    * materialized by the frame's FIRST action, in that action's own
    * job: one pass instead of a pin job plus the action's job.
    * Consumers after it read the same pinned blocks. */
  def cut[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] =
    if (reliable(ds.sparkSession.sparkContext)) ds.checkpoint()
    else ds.localCheckpoint(eager)

  /** A lazy [[cut]] and its row count: the count is the cut's first
    * action, so one job both materializes the pin and measures it (the
    * one-action-per-round loop of `GraphOps.hopDistance`). */
  def cutCount[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val pinned = cut(ds, eager = false)
    (pinned, pinned.count())
  }

  /** The RDD form of [[cutCount]]: marks `rdd` for checkpointing, then
    * counts it, which materializes the pin. */
  def cutCount[T](rdd: RDD[T]): Long = {
    if (reliable(rdd.sparkContext)) rdd.checkpoint()
    else { rdd.localCheckpoint(); () }
    rdd.count()
  }

  /** Release a superseded pin: delete its checkpoint files, drop its
    * blocks. Only once nothing will read it again. */
  def free(rdd: RDD[_]): Unit = {
    rdd.getCheckpointFile.foreach { f =>
      val p = new Path(f)
      p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
    }
    rdd.unpersist(blocking = false)
    ()
  }

  /** [[free]] for a Dataset returned by [[cut]]: its plan is a
    * `LogicalRDD` over the checkpointed RDD. */
  def free(ds: Dataset[_]): Unit = ds.queryExecution.logical match {
    case r: LogicalRDD => free(r.rdd)
    case p => throw new IllegalArgumentException(
      s"Pins.free takes a cut frame, got a ${p.nodeName} plan")
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One clock for every record of a run: milliseconds since the harness
  * started. Spark's listener events carry epoch milliseconds, which
  * `fromEpoch` maps onto the same axis. */
final class Clock {
  private val n0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - n0) / 1e6
  def fromEpoch(ms: Long): Double = (ms - epoch0).toDouble
}

/** Spans of the traced run, kept in memory and written out when the run
  * ends. `active` is switched on only for traced units; when it is off
  * every call is a no-op and no thread-local property is set.
  *
  * The current span id reaches Spark jobs as the thread-local property
  * [[Tracer.SpanKey]]. Spark copies local properties into threads created
  * by a thread that has them (the program's copy pools, table tickers and
  * stream threads), so those jobs are attributed without program hooks. */
final class Tracer(clock: Clock) {
  private final class Span(val id: Long, val parent: Long, val kind: String,
                           val name: String, val start: Double) {
    @volatile var end: Double = Double.NaN
  }
  @volatile var active = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()

  def open(kind: String, name: String, parent: Long): Long =
    if (!active) 0L
    else {
      val id = ids.incrementAndGet()
      spans.put(id, new Span(id, parent, kind, name, clock.now()))
      id
    }

  /** Idempotent: the first close wins. */
  def close(id: Long): Unit =
    Option(spans.get(id)).foreach(s => s.synchronized {
      if (s.end.isNaN) s.end = clock.now()
    })

  def span[A](kind: String, name: String, parent: Long)(body: Long => A): A = {
    val id = open(kind, name, parent)
    try body(id) finally close(id)
  }

  def bind(sc: SparkContext, id: Long): Unit =
    if (active) sc.setLocalProperty(Tracer.SpanKey, id.toString)

  def unbind(sc: SparkContext): Unit = sc.setLocalProperty(Tracer.SpanKey, null)

  def records: Seq[Map[String, Any]] =
    spans.values.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start" -> s.start, "end" -> s.end))
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Observes one traced unit (a pass or a cycle) through Spark's public
  * listener APIs only: scheduler events, query-execution callbacks and
  * streaming progress. */
final class Probe(spark: SparkSession, clock: Clock) {
  private final class Job(val id: Int, val start: Double, val span: String,
                          val callSite: String, val inSql: Boolean) {
    @volatile var end: Double = Double.NaN
    var succeeded = true
    var stages, tasks = 0L
    var runMs, cpuNs, inBytes, swBytes, swRecords, srBytes, fetchWaitMs,
        spillBytes, outBytes = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val blockBytes = new ConcurrentHashMap[RDDBlockId, Long]()
  private val rddsSeen = ConcurrentHashMap.newKeySet[Int]()
  private var pinnedNow, pinnedPeak = 0L

  private var actions = 0L
  private var failedActions = 0L
  private val phaseMs = scala.collection.mutable.Map(
    "analysis" -> 0.0, "optimization" -> 0.0, "planning" -> 0.0)

  private var triggers = 0L
  private var triggerMs = 0.0
  private val stateRowsByRun = new ConcurrentHashMap[String, Long]()

  private val gc0 = Probe.gcMs()

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).getOrElse("")
      val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")
      // jobs outside any SQL execution are the ones DataFrame readers run
      // for file listing and schema inference
      val inSql = props.exists(_.getProperty("spark.sql.execution.id") != null)
      jobs.put(e.jobId, new Job(e.jobId, clock.fromEpoch(e.time), span, site, inSql))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(jobs.get(stageJob.getOrDefault(info.stageId, -1))).foreach { j =>
        j.synchronized {
          j.stages += 1
          j.tasks += info.numTasks
          Option(info.taskMetrics).foreach { m =>
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.inBytes += m.inputMetrics.bytesRead
            j.swBytes += m.shuffleWriteMetrics.bytesWritten
            j.swRecords += m.shuffleWriteMetrics.recordsWritten
            j.srBytes += m.shuffleReadMetrics.totalBytesRead
            j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            j.spillBytes += m.diskBytesSpilled
            j.outBytes += m.outputMetrics.bytesWritten
          }
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.succeeded = e.jobResult == JobSucceeded
        j.end = clock.fromEpoch(e.time)
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      e.blockUpdatedInfo.blockId match {
        case b: RDDBlockId =>
          val info = e.blockUpdatedInfo
          val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
          Probe.this.synchronized {
            val old = Option(blockBytes.get(b)).getOrElse(0L)
            if (bytes > 0) { blockBytes.put(b, bytes); rddsSeen.add(b.rddId) }
            else blockBytes.remove(b)
            pinnedNow += bytes - old
            pinnedPeak = math.max(pinnedPeak, pinnedNow)
          }
        case _ =>
      }
  }

  private val catalyst = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, ok = false)
    private def record(qe: QueryExecution, ok: Boolean): Unit = Probe.this.synchronized {
      actions += 1
      if (!ok) failedActions += 1
      qe.tracker.phases.foreach { case (phase, s) =>
        if (phaseMs.contains(phase)) phaseMs(phase) += s.durationMs.toDouble
      }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Probe.this.synchronized {
        triggers += 1
        triggerMs += Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
      }
      stateRowsByRun.put(p.runId.toString, p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streams)
    this
  }

  /** Waits until every started job has ended and the event counts stop
    * moving (listener buses are asynchronous), then detaches. */
  def detach(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var stable = 0
    var last = -1L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val open = jobs.values.asScala.count(_.end.isNaN)
      val sig = jobs.size * 1000003L + actions * 1009L + triggers
      if (open == 0 && sig == last) stable += 1 else stable = 0
      last = sig
    }
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streams)
  }

  def result: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => j.synchronized(Map(
        "id" -> j.id, "start" -> j.start, "end" -> Option(j.end).filterNot(_.isNaN),
        "span" -> j.span,
        "call_site" -> j.callSite, "in_sql" -> j.inSql, "succeeded" -> j.succeeded,
        "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs,
        "cpu_ms" -> j.cpuNs / 1e6, "input_bytes" -> j.inBytes,
        "shuffle_write_bytes" -> j.swBytes, "shuffle_write_records" -> j.swRecords,
        "shuffle_read_bytes" -> j.srBytes, "fetch_wait_ms" -> j.fetchWaitMs,
        "spill_bytes" -> j.spillBytes, "output_bytes" -> j.outBytes))),
      "plan" -> Map("actions" -> actions, "failed_actions" -> failedActions,
        "analysis_ms" -> phaseMs("analysis"),
        "optimization_ms" -> phaseMs("optimization"),
        "planning_ms" -> phaseMs("planning")),
      "pins" -> Map("created" -> rddsSeen.size, "peak_bytes" -> pinnedPeak),
      "stream" -> Map("triggers" -> triggers, "trigger_ms" -> triggerMs,
        "state_rows" -> stateRowsByRun.values.asScala.map(_.toLong).sum),
      "jvm" -> Map("gc_ms" -> (Probe.gcMs() - gc0), "codecache_mb" -> Probe.codeCacheMb()))
  }
}

object Probe {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  /** Persistent RDDs still registered, and their stored bytes. */
  def pinsLeft(sc: SparkContext): (Int, Long) = {
    val ids = sc.getPersistentRDDs.keySet
    val bytes = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    (ids.size, bytes)
  }

  /** Releases pins the way `graft.Bench` does between queries: drop the
    * catalog cache, then unpersist every persistent RDD, blocking, so the
    * release does not race the next timed region. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

package graft.orchestration

import graft.audit.{AuditSink, EngineState, TableAudit}
import graft.ops.{SyncEngine, TableSpec, TaskSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.time.Instant
import java.util.concurrent.atomic.AtomicReference
import java.util.concurrent.{Executors, TimeUnit}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

/** Task orchestration — the Spark rewrite of `task/TaskLogic.scala`
  * (SURVEY.md §2.10, §3.1-3.2):
  *
  *  - **Two waves** (`TaskLogic.scala:285-348`): every non-update op
  *    first, updates strictly after.
  *  - **Degree semantics** (`:350-363`): sequential when degree ≤ 3, else
  *    degree−1 concurrent per-table copies. Spark actions are thread-safe
  *    per session; each copy runs in the FAIR scheduler pool "graft-task"
  *    so concurrent table loads share executors instead of convoying.
  *  - **Single-flight** (`server/WServer.scala:38-52`): one task at a
  *    time; a second submission while state ≠ Wait is rejected.
  *  - **Progress heartbeat** (`:51-61,201-207`): a 5 s ticker per table
  *    writing copied-rows/speed audit events (interval configurable for
  *    tests); interrupted at completion. Each tick reads the target's row
  *    count from the store; on a [[graft.io.ParquetTableStore]] that is
  *    footer metadata, so a tick launches no Spark job.
  *  - **Error capture** (`:118-129`): per-table failures audit an `error`
  *    event and fail the task, state returns to Wait.
  */
final class TaskRunner(
    spark: SparkSession,
    engine: SyncEngine,
    audit: AuditSink,
    heartbeat: FiniteDuration = 5.seconds) {

  final case class RejectedException(msg: String) extends RuntimeException(msg)

  private val state = new AtomicReference[EngineState](EngineState.Wait)
  def currentState: EngineState = state.get()

  /** sources: table fullName → source DataFrame provider;
    * pkColumns: for update-wave tables (reference reads PK from
    * `system.tables.primary_key`, `clickhouse/jdbsChSession.scala:185-201`).
    * How much of a target a write rewrites follows the target's own
    * layout in the store (see [[SyncEngine]]). */
  def run(task: TaskSpec,
          sources: String => DataFrame,
          pkColumns: Map[String, Seq[String]] = Map.empty,
          onAdmitted: Long => Unit = _ => ()): Long = {
    if (!state.compareAndSet(EngineState.Wait, EngineState.Executing))
      throw RejectedException(s"task rejected: engine state = ${state.get()}")
    // everything after the CAS runs inside try/finally — a failure in
    // id allocation or audit (e.g. a TableAuditSink Spark read) must
    // still release the Executing state or the engine wedges
    try {
      val taskId = audit.nextTaskId()
      audit.taskEvent(taskId, "executing")
      // admission point: callers that respond before completion (the HTTP
      // shell's fire-and-forget taskid reply, WServer.scala:105-120) hook here
      onAdmitted(taskId)
      try {
        runWave(taskId, task.nonUpdateWave, task.degree, sources, pkColumns)
        runWave(taskId, task.updateWave, task.degree, sources, pkColumns)
        audit.taskEvent(taskId, "finished")
        taskId
      } catch {
        case e: Throwable =>
          audit.taskEvent(taskId, s"error: ${e.getMessage}")
          throw e
      }
    } finally {
      scala.util.Try(audit.flush())
      state.set(EngineState.Wait)
    }
  }

  private def runWave(taskId: Long, wave: Seq[TableSpec], degree: Int,
                      sources: String => DataFrame,
                      pkColumns: Map[String, Seq[String]]): Unit = {
    if (wave.isEmpty) return
    if (degree <= 3) wave.foreach(t => copyOne(taskId, t, sources, pkColumns))
    else {
      val par = degree - 1
      val pool = Executors.newFixedThreadPool(par)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val futs = wave.map { t =>
          Future {
            // FAIR pool: concurrent table copies share the cluster fairly
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", "graft-task")
            copyOne(taskId, t, sources, pkColumns)
          }
        }
        val failures = futs.map(f => Try(Await.result(f, Duration.Inf)))
          .collect { case Failure(e) => e }
        failures.headOption.foreach(throw _)
      } finally pool.shutdown()
    }
  }

  private def copyOne(taskId: Long, spec: TableSpec,
                      sources: String => DataFrame,
                      pkColumns: Map[String, Seq[String]]): Unit = {
    val t0 = System.nanoTime()
    audit.tableEvent(TableAudit(taskId, spec.fullName, spec.operation.operStr,
      "begin", 0, 0, None, Instant.now()))
    // 5 s progress ticker (C4): first tick after one full interval,
    // like the reference's delayed repeat
    val ticker = Executors.newSingleThreadScheduledExecutor()
    val copied = new java.util.concurrent.atomic.AtomicLong(0)
    ticker.scheduleAtFixedRate(() => {
      // live progress = target row count while the copy runs — the
      // reference's count-probe heartbeat (C4), read from metadata where
      // the store keeps it (parquet footers: no Spark job); racy by
      // design, a count that fails mid-swap falls back to the last value
      val rows = Try(engine.store.count(spec.fullName)).getOrElse(copied.get())
      copied.set(rows)
      val secs = math.max(1L, (System.nanoTime() - t0) / 1000000000L)
      audit.tableEvent(TableAudit(taskId, spec.fullName,
        spec.operation.operStr, "copying", rows, rows / secs, None, Instant.now()))
    }, heartbeat.toMillis, heartbeat.toMillis, TimeUnit.MILLISECONDS)
    try {
      val res = engine.run(spec, sources(spec.fullName),
        pkColumns.getOrElse(spec.fullName, Nil))
      copied.set(res.rowsCopied)
      val secs = math.max(1L, (System.nanoTime() - t0) / 1000000000L)
      audit.tableEvent(TableAudit(taskId, spec.fullName, spec.operation.operStr,
        s"finished_${spec.operation.operStr}", res.rowsCopied,
        res.rowsCopied / secs, None, Instant.now()))
    } catch {
      case e: Throwable =>
        audit.tableEvent(TableAudit(taskId, spec.fullName,
          spec.operation.operStr, "error", 0, 0,
          Some(e.getMessage), Instant.now()))
        throw e
    } finally ticker.shutdownNow()
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.audit.{AuditSink, InMemoryAuditSink, TableAudit}
import graft.calc.{CalcEngine, ViewQueryMeta}
import graft.io.ParquetTableStore
import graft.ops.{SyncEngine, SyncOp, TableSpec, TaskSpec}
import graft.orchestration.TaskRunner
import graft.params.ParamBinder
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Audit sink injected into `TaskRunner`: keeps the events with the
  * harness clock, and in traced units opens a span per table at its
  * `begin` event and binds it to the copy thread. The table's heartbeat
  * thread is created after `begin` on that thread, so it inherits the
  * span too. */
final class BenchAudit(sc: SparkContext, tracer: Tracer, clock: Clock, parent: Long)
    extends AuditSink {
  private val inner = new InMemoryAuditSink
  private val spans = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  val stamped = new ConcurrentLinkedQueue[(Double, TableAudit)]()

  override def nextTaskId(): Long = inner.nextTaskId()
  override def taskEvent(taskId: Long, status: String): Unit = inner.taskEvent(taskId, status)
  override def tableEvent(e: TableAudit): Unit = {
    stamped.add(clock.now() -> e)
    inner.tableEvent(e)
    if (e.status == "begin") {
      val id = tracer.open("table", e.table, parent)
      spans.put(e.table, id)
      tracer.bind(sc, id)
    } else if (e.status.startsWith("finished") || e.status == "error") {
      Option(spans.remove(e.table)).foreach(tracer.close)
    }
  }
  override def events: Seq[TableAudit] = inner.events
  override def taskEvents = inner.taskEvents
}

/** The `etl_cycle` workload: one `TaskRunner.run` task, then one
  * `CalcEngine.runAll` batch, over inputs the runner generated. The task
  * and calc layout come from the generator's spec file. */
final class Etl(ctx: Ctx, specPath: String) {
  private val spec: JsonNode = Json.read(specPath)
  private val spark = ctx.spark
  private val sc = spark.sparkContext
  private val srcDir = spec.get("src_dir").asText
  private val pristine = Paths.get(spec.get("pristine_dir").asText)
  private val storeDir = Paths.get(spec.get("store_dir").asText)
  private val store = new ParquetTableStore(spark, storeDir.toString)
  private val primeDir = Paths.get(spec.get("prime_store_dir").asText)

  private def text(n: JsonNode, k: String): Option[String] =
    Option(n.get(k)).filterNot(_.isNull).map(_.asText)

  private val tables = spec.get("tables").elements.asScala.toSeq
  private val pk: Map[String, Seq[String]] = tables.flatMap { t =>
    text(t, "pk").map(k => s"wh.${t.get("table").asText}" -> k.split(",").toSeq)
  }.toMap

  private val task = TaskSpec(tables.map { t =>
    val op = Seq(SyncOp.Recreate, SyncOp.AppendWhere, SyncOp.AppendByMax,
      SyncOp.AppendNotIn, SyncOp.Update).find(_.operStr == t.get("op").asText).get
    TableSpec(op, "wh", t.get("table").asText,
      whereFilter = text(t, "where"),
      syncByColumnMax = text(t, "by_max"),
      syncByColumns = text(t, "key").map(_.split(",").toSeq),
      updateFields = text(t, "update_fields").map(_.split(",").toSeq))
  }, degree = spec.get("degree").asInt)

  private def sources(prime: Boolean): String => DataFrame = {
    val byTable = tables.map(t => s"wh.${t.get("table").asText}" -> t).toMap
    table => {
      val t = byTable(table)
      val df = spark.read.parquet(s"$srcDir/${t.get("source").asText}.parquet")
      if (prime) text(t, "prime_filter").map(df.filter).getOrElse(df) else df
    }
  }

  private val calc = spec.get("calc")
  private val calcParams: Map[String, Any] =
    calc.get("params").fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap
  private val meta = ViewQueryMeta(
    name = calc.get("name").asText,
    sqlText = calc.get("sql").asText,
    params = calcParams,
    chTable = calc.get("ch_table").asText,
    oraTable = Some(calc.get("copy_table").asText),
    copyByPartsCnt = calc.get("copy_parts").asInt,
    copyByPartField = Some(calc.get("copy_part_field").asText),
    copyToLocalCache = true,
    cacheTable = Some(calc.get("cache_table").asText))
  private val sliceCols = calc.get("slice_cols").elements.asScala.map(_.asText).toSeq

  /** The calc SQL with its parameters rendered inline, for the checker. */
  val boundCalcSql: String = ParamBinder.bindInline(meta.sqlText, calcParams)

  private def clear(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))

  /** Restores every target from the generator's pristine copy. The store
    * never modifies a file it did not write, so hard links suffice. */
  def reset(): Unit = {
    clear(storeDir)
    Files.walk(pristine).forEach { p =>
      val to = storeDir.resolve(pristine.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.createLink(to, p)
    }
  }

  /** Untimed, unchecked warm-up: the same task and calc on each source's
    * `prime_filter` slice, against a separate small store whose update
    * targets are seeded from that slice. Returns the errors it met. */
  def prime(): Seq[String] = {
    clear(primeDir)
    val small = new ParquetTableStore(spark, primeDir.toString)
    val src = sources(prime = true)
    try {
      pk.keys.foreach(t => small.overwrite(t, src(t)))
      calc.get("views").fields.asScala.map(_.getValue.asText).filterNot(_.startsWith("wh."))
        .foreach(t => small.overwrite(t,
          spark.read.parquet(pristine.resolve(t.replace('.', '/')).toString)))
      val (_, ops) = run(small, primeDir, src, 0, 0L)
      ops.flatMap(_("error").asInstanceOf[Option[String]])
    } catch { case e: Throwable => Seq(Ctx.describe(e)) }
    finally clear(primeDir)
  }

  /** One timed cycle over freshly reset targets. */
  def cycle(index: Int, root: Long): (Map[String, Any], Seq[Map[String, Any]]) = {
    reset()
    run(store, storeDir, sources(prime = false), index, root)
  }

  private def run(store: ParquetTableStore, dir: Path, src: String => DataFrame, index: Int,
                  root: Long): (Map[String, Any], Seq[Map[String, Any]]) = {
    val wallStart = System.currentTimeMillis()
    val tr = ctx.tracer
    val clock = ctx.clock
    val cycleSpan = tr.open("cycle", s"cycle$index", root)
    val t0 = clock.now()

    val taskSpan = tr.open("task", "task", cycleSpan)
    tr.bind(sc, taskSpan)
    val audit = new BenchAudit(sc, tr, clock, taskSpan)
    val runner = new TaskRunner(spark, new SyncEngine(store), audit,
      heartbeat = scala.concurrent.duration.Duration(spec.get("heartbeat_ms").asLong, "ms"))
    val taskErr =
      try { runner.run(task, src, pkColumns = pk); None }
      catch { case e: Throwable => Some(Ctx.describe(e)) }
    val t1 = clock.now()
    tr.close(taskSpan)

    val calcSpan = tr.open("calc", meta.name, cycleSpan)
    tr.span("calc.views", meta.name, calcSpan) { id =>
      tr.bind(sc, id)
      calc.get("views").fields.asScala.foreach { e =>
        store.read(e.getValue.asText).createOrReplaceTempView(e.getKey)
      }
    }
    val phases = new ConcurrentLinkedQueue[(String, Double)]()
    val phaseSpans = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    def phaseSpan(kind: String): Unit = {
      val id = tr.open(kind, meta.name, calcSpan)
      phaseSpans.put(kind, id)
      tr.bind(sc, id)
    }
    def endSpan(kind: String): Unit = Option(phaseSpans.get(kind)).foreach(tr.close)
    val c0 = clock.now()
    val calcErr =
      try {
        new CalcEngine(spark, store).runAll(Seq(1 -> meta),
          write = m => df => store.overwrite(m.oraTable.get, df),
          sliceCols = sliceCols,
          onPhase = (_, phase) => {
            phases.add(phase -> clock.now())
            phase match {
              case "calculation"   => phaseSpan("calc.calculation")
              case "copying"       => endSpan("calc.calculation"); phaseSpan("calc.copyback")
              case "local_copying" => endSpan("calc.calculation"); phaseSpan("calc.promote")
              case "finished_chora_copy" => endSpan("calc.copyback")
              case "finished_local_copy" => endSpan("calc.promote")
              case _ =>
            }
          })
        None
      } catch { case e: Throwable => Some(Ctx.describe(e)) }
    val c1 = clock.now()
    phaseSpans.values.asScala.foreach(tr.close)
    tr.close(calcSpan)
    tr.close(cycleSpan)
    tr.unbind(sc)

    val events = audit.stamped.asScala.toSeq.map { case (t, e) =>
      Map("t" -> t, "table" -> e.table, "op" -> e.operation, "status" -> e.status,
        "rows" -> e.rowsCopied)
    }
    val ops = tables.map { t =>
      val name = s"wh.${t.get("table").asText}"
      val mine = events.filter(_("table") == name)
      val begin = mine.find(_("status") == "begin").map(_("t").asInstanceOf[Double])
      val end = mine.find(e => e("status").toString.startsWith("finished"))
      val failed = mine.find(_("status") == "error")
      Map("unit" -> index, "kind" -> "sync", "name" -> name, "op" -> t.get("op").asText,
        "ms" -> (for (b <- begin; e <- end) yield e("t").asInstanceOf[Double] - b),
        "rows_copied" -> end.map(_("rows")).getOrElse(0L),
        "error" -> failed.map(_ => taskErr.getOrElse("error")).orElse(
          if (end.isEmpty) Some(taskErr.getOrElse("not run")) else None))
    } :+ Map("unit" -> index, "kind" -> "calc", "name" -> meta.name, "ms" -> (c1 - c0),
      "error" -> calcErr)
    val unit = Map("index" -> index, "kind" -> "cycle", "start" -> t0, "ms" -> (c1 - t0),
      "task_ms" -> (t1 - t0), "calc_ms" -> (c1 - c0),
      "traced" -> tr.active, "events" -> events,
      "calc_phases" -> phases.asScala.toSeq.map { case (p, t) => Map("phase" -> p, "t" -> t) },
      "files_written" -> writtenSince(dir, wallStart))
    (unit, ops)
  }

  /** Data files under the target root modified since `epochMs`. */
  private def writtenSince(dir: Path, epochMs: Long): Long =
    Files.walk(dir).iterator.asScala.count(p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet") &&
        Files.getLastModifiedTime(p).toMillis >= epochMs).toLong

  /** Row count and checksums of every target, untimed. */
  def checks(): Map[String, Map[String, String]] =
    spec.get("checks").fields.asScala.map { e =>
      val target = e.getKey
      val values =
        try {
          store.read(target).createOrReplaceTempView("t")
          val row = spark.sql(e.getValue.asText).collect().head
          row.schema.fieldNames.zipWithIndex.map { case (c, i) =>
            c -> (row.get(i) match {
              case null => "null"
              case d: java.math.BigDecimal => d.toPlainString
              case v => v.toString
            })
          }.toMap
        } catch { case ex: Throwable => Map("error" -> Ctx.describe(ex)) }
      target -> values
    }.toMap
}

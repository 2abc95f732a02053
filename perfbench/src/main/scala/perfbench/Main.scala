package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession

/** What every workload needs: the session, the run clock, the tracer and
  * the fixture directory the gates read. */
final case class Ctx(spark: SparkSession, clock: Clock, tracer: Tracer, fixtures: String)

object Ctx {
  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .linesIterator.nextOption().getOrElse("").take(300)
}

/** Benchmark JVM. `run.py` launches it and turns the raw-observation file
  * it writes into metrics; nothing here decides pass or fail.
  *
  * {{{
  * perfbench.Main --workload gates|etl --seed N --seconds S --trace 0|1
  *   --fixtures DIR --work DIR --cores N --out FILE
  *   [--gates a,b,c] [--etl-spec FILE] [--min-units N]
  * perfbench.Main --dump-oracle FILE --gates a,b,c
  * }}}
  */
object Main {
  /** Lets the JIT compilers finish before a timed unit: waits (up to
    * 10 s) until they have been idle for half a second. Otherwise
    * compilations queued by the cold prime unit spill into the timed unit
    * by an amount that depends on how fast the machine happened to run.
    * There is deliberately no full GC here: G1 shrinks the heap after one,
    * and the timed unit then pays a number of collections and concurrent
    * marking cycles that varied by over 1 s of CPU time between identical
    * runs. */
  def quiesce(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    var idle = 0
    while (idle < 2 && System.nanoTime() < deadline) {
      Thread.sleep(250)
      val t = jit.getTotalCompilationTime
      if (t == last) idle += 1 else idle = 0
      last = t
    }
  }

  /** CPU time of the JVM in ms: all threads, and the parts of it spent by
    * the JIT compiler threads and by the garbage collector's threads. */
  final case class Cpu(total: Double, jit: Double, gc: Double) {
    def -(o: Cpu): Cpu = Cpu(total - o.total, jit - o.jit, gc - o.gc)
    /** Every thread but the JIT compilers: the program's own cost, its
      * garbage collection included. */
    def program: Double = total - jit
  }

  /** Reads [[Cpu]] from the kernel's per-thread accounting (10 ms ticks).
    * Time the host takes from this machine's virtual CPUs is not counted
    * as CPU time. */
  def cpu(): Cpu = {
    def ticks(stat: String): Long = {
      // fields after the parenthesised thread name: utime and stime are 14 and 15
      val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
      f(11).toLong + f(12).toLong
    }
    val proc = java.nio.file.Paths.get("/proc/self")
    val total = ticks(Files.readString(proc.resolve("stat")))
    var jit, gc = 0L
    Files.list(proc.resolve("task")).forEach { t =>
      try {
        val comm = Files.readString(t.resolve("comm")).trim
        if (comm.contains("CompilerThre")) jit += ticks(Files.readString(t.resolve("stat")))
        else if (comm.startsWith("GC Thread") || comm.startsWith("G1 "))
          gc += ticks(Files.readString(t.resolve("stat")))
      } catch { case _: java.io.IOException => () } // the thread ended meanwhile
    }
    Cpu(total * 10.0, jit * 10.0, gc * 10.0)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val gates = a.get("gates").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    a.get("dump-oracle") match {
      case Some(out) => dumpOracle(out, gates)
      case None      => run(a, gates)
    }
  }

  private def dumpOracle(out: String, gates: Seq[String]): Unit = {
    val oracle = SparkEntry.oracleSql
    val missing = gates.filterNot(oracle.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(",")}")
    Files.writeString(Paths.get(out), Json(gates.map(g => g -> oracle(g)).toMap) + "\n")
  }

  private def run(a: Map[String, String], gates: Seq[String]): Unit = {
    val clock = new Clock
    val tracer = new Tracer(clock)
    val work = a("work")
    val fixtures = a("fixtures")
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val budgetMs = a("seconds").toDouble * 1000
    val minUnits = a.getOrElse("min-units", "1").toInt
    val cores = a("cores").toInt

    // set-up, as graft.Bench does it: session build + warm-up action. This
    // is the JVM's first use of Spark, so it includes class loading and
    // Spark's start-up, as the program pays them.
    val c0 = cpu()
    val s0 = clock.now()
    val spark = GraftSession.builder(cores, "perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s1 = clock.now()
    spark.read.parquet(s"$fixtures/lineitem.parquet").count()
    val c1 = cpu() - c0
    val setup = Map("build_ms" -> (s1 - s0), "warmup_ms" -> (clock.now() - s1),
      "program_cpu_ms" -> c1.program)
    val ctx = Ctx(spark, clock, tracer, fixtures)

    val units = ArrayBuffer.empty[Map[String, Any]]
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val probes = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    type Measured = (Map[String, Any], Seq[Map[String, Any]])

    // one timed unit (a pass or a cycle), traced when asked
    def timed(index: Int, traceIt: Boolean)(body: Long => Measured): Unit = {
      quiesce()
      val probe = if (traceIt) Some(new Probe(spark, clock).attach()) else None
      tracer.active = traceIt
      val root = tracer.open("workload", a("workload"), 0L)
      val c0 = cpu()
      val (u, o) = body(root)
      val c = cpu() - c0
      tracer.close(root)
      tracer.active = false
      probe.foreach { pb => pb.detach(); probes(index.toString) = pb.result }
      units += u + ("root" -> root) + ("cpu_ms" -> c.total) +
        ("program_cpu_ms" -> c.program) + ("gc_cpu_ms" -> c.gc)
      ops ++= o
    }
    // Plain runs measure units until the budget is spent; the untimed prime
    // unit before them is the warm-up. Traced runs warm up with one more
    // unit, unrecorded, so the plain unit the overhead is measured against
    // is as warm as the traced one, then run two plain and two traced
    // units; the per-layer metrics come from the traced ones and the
    // tracing overhead from the difference.
    def loop(unit: (Int, Long) => Measured, after: Int => Unit): Unit = {
      if (traced) {
        unit(-1, 0L)
        // plain, traced, traced, plain: a steady drift (units still getting
        // faster) cancels out of the overhead
        for (i <- 1 to 4) { timed(i, traceIt = i == 2 || i == 3)(unit(i, _)); after(i) }
      } else {
        val t0 = clock.now()
        var i = 1
        var last = 0.0
        while (i <= minUnits || (clock.now() - t0) + last <= budgetMs) {
          val u0 = clock.now()
          timed(i, traceIt = false)(unit(i, _))
          last = clock.now() - u0
          after(i)
          i += 1
        }
      }
    }

    a("workload") match {
      case "gates" =>
        def order(p: Int) = new scala.util.Random(seed * 1000003L + p).shuffle(gates)
        val p0 = clock.now()
        extra("check") = Gates.checkPass(ctx, order(0), s"$work/check")
        extra("prime_ms") = clock.now() - p0
        loop((i, root) => Gates.pass(ctx, i, order(i), root), _ => ())
      case "etl" =>
        val etl = new Etl(ctx, a("etl-spec"))
        extra("bound_calc_sql") = etl.boundCalcSql
        val p0 = clock.now()
        extra("prime_errors") = etl.prime()
        extra("prime_ms") = clock.now() - p0
        val checks = ArrayBuffer.empty[Map[String, Any]]
        loop((i, root) => etl.cycle(i, root),
          i => checks += Map("unit" -> i, "targets" -> etl.checks()))
        extra("etl_checks") = checks.toSeq
    }

    val raw = Map(
      "workload" -> a("workload"), "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "setup" -> setup, "units" -> units.toSeq, "ops" -> ops.toSeq,
      "spans" -> tracer.records, "probes" -> probes) ++ extra
    spark.stop()
    Files.writeString(Paths.get(a("out")), Json(raw) + "\n")
  }
}

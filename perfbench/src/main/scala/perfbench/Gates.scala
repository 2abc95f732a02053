package perfbench

import graft.SparkEntry

/** Gate workloads: each gate is built through `SparkEntry.queries` and
  * executed with a terminal `count()`, as `graft.Bench` does. */
object Gates {

  /** Untimed pass that writes every gate's result for the output check.
    * It also warms the JIT and the code-generation cache, so it runs
    * before the timed passes. */
  def checkPass(ctx: Ctx, order: Seq[String], outDir: String): Seq[Map[String, Any]] =
    order.map { name =>
      val err =
        try {
          SparkEntry.queries(name)(ctx.spark, ctx.fixtures)
            .write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable => Some(Ctx.describe(e)) }
      Probe.release(ctx.spark)
      Map("name" -> name, "error" -> err)
    }

  /** One timed pass over `order`. Returns the unit record and one record
    * per gate execution. */
  def pass(ctx: Ctx, index: Int, order: Seq[String], root: Long)
      : (Map[String, Any], Seq[Map[String, Any]]) = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val tr = ctx.tracer
    val clock = ctx.clock
    val passSpan = tr.open("pass", s"pass$index", root)
    val t0 = clock.now()
    val ops = order.map { name =>
      val gate = tr.open("gate", name, passSpan)
      var span = tr.open("gate.build", name, gate)
      tr.bind(sc, span)
      if (tr.active) sc.setJobGroup(s"gate:$name", s"$name build")
      val b0 = clock.now()
      var b1 = Double.NaN
      var rows = -1L
      val err =
        try {
          val df = SparkEntry.queries(name)(spark, ctx.fixtures)
          b1 = clock.now()
          tr.close(span)
          span = tr.open("gate.action", name, gate)
          tr.bind(sc, span)
          if (tr.active) sc.setJobGroup(s"gate:$name", s"$name action")
          rows = df.count()
          None
        } catch { case e: Throwable => Some(Ctx.describe(e)) }
        finally { tr.close(span); tr.close(gate) }
      val a1 = clock.now()
      if (b1.isNaN) b1 = a1
      val (leftRdds, leftBytes) = if (tr.active) Probe.pinsLeft(sc) else (0, 0L)
      tr.span("release", name, passSpan) { id =>
        tr.bind(sc, id)
        Probe.release(spark)
      }
      if (tr.active) sc.clearJobGroup()
      Map("unit" -> index, "name" -> name, "kind" -> "gate", "ms" -> (a1 - b0),
        "build_ms" -> (b1 - b0), "action_ms" -> (a1 - b1), "rows" -> rows,
        "error" -> err, "pins_left_rdds" -> leftRdds, "pins_left_bytes" -> leftBytes)
    }
    val t1 = clock.now()
    tr.close(passSpan)
    tr.unbind(sc)
    (Map("index" -> index, "kind" -> "pass", "start" -> t0, "ms" -> (t1 - t0),
      "traced" -> tr.active), ops)
  }
}

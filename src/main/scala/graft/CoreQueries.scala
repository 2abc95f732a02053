package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import graft.compat.ChFunctions._

/** Core relational operator coverage (SURVEY.md §2) as driver-checkable
  * queries: each entry has a Spark implementation here and a DuckDB oracle
  * in [[CoreQueries.oracleSql]] with identical column names.
  *
  * Determinism rules used throughout (see SURVEY.md §7.4 "Decimal
  * fidelity"): every aggregate over floating-point input is computed over
  * `DECIMAL` casts (exact, associative, order-independent) and surfaced as
  * `DECIMAL(38,6)` in BOTH engines; raw doubles are only passed through
  * untouched, never re-derived.
  */
object CoreQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has shipped under MORE THAN ONE physical encoding across
    // fixture generations (INT64 epoch-nanos through round 5; TIMESTAMP(µs)
    // NTZ from round 6) — so, like the reference's type mapping which keys
    // on the LOGICAL column type from JDBC metadata rather than a fixed
    // physical layout (column/OraChColumn.scala:47-58), ingestion dispatches
    // on the read schema and surfaces ONE contract: after t(), events.ts is
    // ALWAYS epoch-MICROSECONDS as LongType. µs (not ns) because DuckDB
    // timestamps are µs-precision, so every oracle comparison is exact.
    // the session keeps nanosAsLong on so a nanos-encoded fixture still
    // reads (as long).
    if (name == "events") requireNanosAsLong(spark)
    val df = graft.io.ParquetMeta.read(spark, s"$dir/$name.parquet")
    if (name == "events" && df.schema.fieldNames.contains("ts"))
      df.withColumn("ts", tsToMicros(df)) else df
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Fails unless the session reads INT64 nanos timestamps as long, as
    * every graft session does (`GraftSession` pins it). Readers check the
    * setting and never write it: a conf write at read time would change a
    * session that other work shares. */
  private[graft] def requireNanosAsLong(spark: SparkSession): Unit = {
    val v = spark.conf.get(NanosAsLong, "false")
    if (!v.trim.equalsIgnoreCase("true"))
      throw new IllegalStateException(s"GRAFT_NANOS_AS_LONG: reading events " +
        s"needs $NanosAsLong=true on the session (GraftSession sets it), found $v")
  }

  /** The normalized table reader, exposed for the schema-contract spec. */
  private[graft] def tRead(spark: SparkSession, dir: String,
                           name: String): DataFrame = t(spark, dir, name)

  /** `ts` as epoch-microseconds LongType regardless of the fixture's
    * physical encoding. NTZ→epoch is deterministic (naive-as-UTC, matching
    * DuckDB's `epoch_ns(ts)`) because every graft session pins
    * `spark.sql.session.timeZone=UTC` (GraftSession.scala:17). */
  private[graft] def tsToMicros(df: DataFrame, c: String = "ts"): Column =
    df.schema(c).dataType match {
      case LongType => expr(s"$c div 1000")              // epoch-ns fixture
      case TimestampNTZType | TimestampType =>
        unix_micros(col(c).cast(TimestampType))          // µs fixture
      case other => sys.error(s"events.$c: unsupported physical type $other")
    }

  /** `ts` as a TimestampType column (µs precision) — the shape streaming
    * watermarks/windows need; same schema dispatch as [[tsToMicros]]. */
  private[graft] def tsAsTimestamp(df: DataFrame, c: String = "ts"): Column =
    df.schema(c).dataType match {
      case LongType => timestamp_micros(expr(s"$c div 1000"))
      case TimestampNTZType | TimestampType => col(c).cast(TimestampType)
      case other => sys.error(s"events.$c: unsupported physical type $other")
    }

  private val dec = "decimal(18,4)"
  private val out = "decimal(38,6)"

  /** Terminal cast for SURFACED aggregate columns: the decimal arithmetic
    * stays exact/order-independent internally, but the gate surface is
    * DOUBLE — the driver reads Spark parquet via pyarrow→pandas (decimals
    * stay `Decimal` objects) and the DuckDB oracle via `.df()` (decimals
    * lower to float64), so a surfaced DECIMAL hash-mismatches on rendering
    * alone. decimal(38,6)→double is correctly rounded in both engines. */
  private def outD(c: org.apache.spark.sql.Column) =
    c.cast(out).cast("double")

  // ---------------------------------------------------------------------
  // A4/A2-style aggregation (the reference's golden-value check shape,
  // v_cache_for_calc_6184_4626.txt:3-4) + TPC-H Q1 shape over lineitem.
  // Scale: partial aggregation map-side, one shuffle on the 6-value group
  // key; decimal sums stay exact at any row count.
  def q1_agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        outD(sum(col("l_quantity").cast(dec))).as("sum_qty"),
        outD(sum(col("l_extendedprice").cast(dec))).as("sum_base_price"),
        outD(sum((col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec))).cast(dec)))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  // J3/J4 multi-way equi join through the star schema + group agg —
  // the calc query's join pyramid (v_cache...txt:123-133). All three dims
  // are broadcast-able; lineitem⋈orders is the only real shuffle.
  def q2_join_agg(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        outD(sum((col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec))).cast(dec)))
          .as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  // A1: the watermark probe — max(sync_col) + count in one pass
  // (clickhouse/jdbsChSession.scala:93-116).
  def q3_watermark(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").agg(
      max(col("event_id")).as("max_event_id"),
      count(lit(1)).as("cnt_rows"))

  // A3: distinct key-set harvest, arity 2 (clickhouse/jdbsChSession.scala:123-177).
  def q4_distinct_keys(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"))
      .distinct()

  // W4/J1: append_notin as a left_anti join — source rows whose key tuple
  // is absent from the "target" (here: orders with status F plays target,
  // full orders plays source). Never a collected literal list.
  def q5_anti_notin(s: SparkSession, dir: String): DataFrame = {
    val src    = t(s, dir, "orders")
    val target = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    src.join(target.select(col("o_orderkey")).distinct(),
             Seq("o_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
  }

  // W3: append_bymax delta — rows above the target's watermark
  // (table/Table.scala:47-57). Watermark = max(event_id) of the "already
  // loaded" half; the filter pushes down to the scan.
  def q6_bymax_delta(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // "already loaded" target = ids up to 80% of max (long arithmetic,
    // sf-independent); the delta above the watermark is the incremental pull.
    val gmax = ev.agg(max(col("event_id"))).head().getLong(0)
    val target = ev.filter(col("event_id") <= lit(gmax * 4 / 5))
    val wm = graft.ops.Watermark.maxValAndCnt(Some(target), "event_id")
    ev.filter(graft.ops.Watermark.watermarkPredicate("event_id", wm))
      .select(col("event_id"), col("user_id"), col("event_type"))
  }

  // J5: IN-subquery semi join (v_cache...txt:112-118,134).
  def q7_semi_join(s: SparkSession, dir: String): DataFrame = {
    val c  = t(s, dir, "customer")
    val hi = t(s, dir, "orders").filter(col("o_totalprice") > 100000.0)
    c.join(hi.select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  // J4: left join with extra non-equi condition (v_cache...txt:140-146:
  // "left join ... and rn_pbo=1 and type_info=5" shape).
  def q8_left_join_cond(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o,
        c("c_custkey") === o("o_custkey") && o("o_orderstatus") === "O" &&
          o("o_totalprice") > 50000.0,
        "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_open_orders"),
           outD(sum(col("o_totalprice").cast(dec))).as("open_total"))
  }

  // WF3: row_number-per-group dedup-to-first (rn_pbo = 1 consumption,
  // v_cache...txt:145). Deterministic: the order key (ts, event_id) is
  // unique per user.
  def q9_rownum_dedup(s: SparkSession, dir: String): DataFrame = {
    // ts is epoch-micros long (see t()) — ordering matches the oracle's
    // µs timestamp ordering exactly.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("first_event_id"),
              col("event_type").as("first_event_type"))
  }

  // WF1: NTILE bucketing for parallel copy-back
  // (clickhouse/jdbsChSession.scala:425-443). The reference orders by
  // cityHash64(part_field); bucket assignment under xxhash64 differs
  // (SURVEY.md §7.4), so the driver-checkable form orders by the key
  // itself — bucket sizes and membership are then engine-independent.
  // Computed via the SCALABLE ntile (range repartition + offsets +
  // closed-form buckets, ops/GlobalRank) — `ntile() OVER (ORDER BY)`
  // would move the whole table to one partition; this is bit-identical
  // and survives cluster scale. Spec-pinned against the window form.
  def q10_ntile(s: SparkSession, dir: String): DataFrame =
    graft.ops.GlobalRank.ntileScalable(
        t(s, dir, "orders"), 8, Seq(col("o_orderkey")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("bucket_rows"),
           min(col("o_orderkey")).as("min_key"),
           max(col("o_orderkey")).as("max_key"))

  // W5/J2: the update merge — dictGet/dictHas ≡ broadcast-join lookup.
  // "updates" stage doubles acctbal for suppliers of nation 1; merged
  // target only changes matched PKs, only the update_field.
  def q11_update_merge(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
    val upd = sup.filter(col("s_nationkey") === 1)
      .select(col("s_suppkey"),
              (col("s_acctbal").cast(dec) * lit(2).cast(dec)).cast(out).as("new_acctbal"))
    sup.join(broadcast(upd), Seq("s_suppkey"), "left")
      .select(col("s_suppkey"), col("s_name"),
              coalesce(col("new_acctbal"), col("s_acctbal").cast(out))
                .cast("double").as("s_acctbal"))
  }

  // W2: append_where as kept ∪ incoming — delete-first dedup semantics
  // (request/OperType.scala:16-26). Target = stale copy (discounted
  // prices); incoming = fresh rows matching the filter.
  def q12_append_where(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    val pred = col("p_size") >= 25
    val target = part.select(col("p_partkey"), col("p_name"), col("p_size"),
      outD(col("p_retailprice").cast(dec) * lit("0.5").cast(dec)).as("p_retailprice"))
    val incoming = part.filter(pred)
      .select(col("p_partkey"), col("p_name"), col("p_size"),
              outD(col("p_retailprice")).as("p_retailprice"))
    target.filter(!coalesce(pred, lit(false))).unionByName(incoming)
  }

  // §2.8 scalar-function compat layer in one shot: toYYYYMMDD, toYear,
  // lpad(toString(x),3,'0'), concat, parseDateTime, coalesce-flag idiom.
  def q13_scalar_funcs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderkey") % 100 === 0)
      .select(
        col("o_orderkey"),
        toYYYYMMDD(col("o_orderdate")).as("order_yyyymmdd"),
        toYear(col("o_orderdate")).as("order_year"),
        lpadNum(col("o_custkey"), 9, "0").as("cust_padded"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("status_prio"),
        date_format(parseDateTime(lit("2024-03-01"), "%Y-%m-%d"), "yyyy-MM-dd HH:mm:ss").as("parsed_ts"),
        coalesceFlag(when(col("o_totalprice") > 200000.0, col("o_orderkey"))).as("big_flag"))

  // J3: inner join with EXPRESSION keys — lpad(toString(grbs),3,'0')
  // (v_cache...txt:126,130).
  def q14_expr_join(s: SparkSession, dir: String): DataFrame = {
    val n1 = t(s, dir, "nation")
      .select(lpadNum(col("n_nationkey"), 3, "0").as("nkey_pad"), col("n_name"))
    val c = t(s, dir, "customer")
      .withColumn("nkey_pad", lpadNum(col("c_nationkey"), 3, "0"))
    c.join(n1, Seq("nkey_pad"), "inner")
      .groupBy(col("nkey_pad"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
           outD(sum(col("c_acctbal").cast(dec))).as("total_bal"))
  }

  // The flagship calc query (SparkEntry.flagshipSql) parameterized over
  // the sf dir — runs through the {name:Type} binder exactly like the
  // stored-query path (§3.3).
  def q0_flagship(s: SparkSession, dir: String): DataFrame = {
    SparkEntry.registerViews(s, dir)
    val (text, args) = graft.params.ParamBinder.bindNamed(
      SparkEntry.flagshipSql,
      Map("min_price" -> "1000.0", "min_nation_pad" -> "000",
          "min_year" -> 1992L))
    s.sql(text, args)
  }

  // §1.2 date clamp: out-of-range timestamps snap to the DateTime bounds
  // (clickhouse/jdbsChSession.scala:630-644). Fixture dates shifted ±80
  // years to land outside [1971, 2106].
  def q15_date_clamp(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderkey") % 50 === 0)
    def f(c: org.apache.spark.sql.Column) =
      date_format(graft.types.OraTypeMap.clampDateTime(c), "yyyy-MM-dd HH:mm:ss")
    o.select(col("o_orderkey"),
      f(col("o_orderdate") - expr("INTERVAL 80 YEARS")).as("clamped_low"),
      f(col("o_orderdate") + expr("INTERVAL 115 YEARS")).as("clamped_high"),
      f(col("o_orderdate")).as("untouched"))
  }

  // WF extension: rank/dense_rank per group (top-3 orders per customer).
  def q16_window_rank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rnk"),
              col("o_totalprice"))
  }

  // Correlated EXISTS (TPC-H Q4 shape): order priorities with late lines.
  def q17_exists_agg(s: SparkSession, dir: String): DataFrame = {
    val o  = t(s, dir, "orders")
    val late = t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey")).distinct()
    o.join(late, o("o_orderkey") === late("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  // Conditional aggregation / share-of-total (CASE inside sum).
  def q18_conditional_agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        outD(sum(when(col("l_discount") > 0.05, col("l_quantity").cast(dec))
          .otherwise(lit(0).cast(dec)))).as("qty_discounted"),
        outD(sum(col("l_quantity").cast(dec))).as("qty_total"),
        count(when(col("l_tax") > 0.04, lit(1))).as("high_tax_lines"))

  // Tumbling 1-hour event windows (the batch shape of
  // streaming/EventStream.windowedTypeCounts). ts is epoch-micros long
  // (see t()); the bucket arithmetic stays in integers so the oracle
  // matches exactly.
  def q19_windowed_events(s: SparkSession, dir: String): DataFrame = {
    // integer floor-div chain (Spark `div` = long division) — no doubles
    val winUs = expr("ts div 3600000000 * 3600000000")
    t(s, dir, "events")
      .groupBy(date_format(timestamp_micros(winUs), "yyyy-MM-dd HH:mm:ss").as("win_start"),
               col("event_type"))
      .agg(count(lit(1)).as("n"),
           outD(sum(col("value").cast(dec))).as("total_value"))
  }

  // TRUE Structured Streaming at the gate: the same tumbling 1-hour
  // aggregation as q19, but executed as a stream — parquet file source →
  // withWatermark → window() → memory sink, drained synchronously. The
  // memory-sink result must equal the batch oracle exactly (stream/batch
  // parity is the whole point of sharing the Dataset API).
  def q40_stream_windowed(s: SparkSession, dir: String): DataFrame = {
    requireNanosAsLong(s)
    graft.streaming.EventStream.runBatchOfStream(
      s, s"$dir/events.parquet", "q40_stream_mem", df =>
        df.withColumn("ts_us", tsAsTimestamp(df))
          .withWatermark("ts_us", "10 minutes")
          .groupBy(window(col("ts_us"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
               outD(sum(col("value").cast(dec))).as("total_value"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
            col("event_type"), col("n"), col("total_value")))
  }

  // Gap-based sessionization, batch form: a new session starts when the
  // gap to the previous event of the same user exceeds 30 min. lag +
  // cumulative sum over windows (WF coverage beyond rank/ntile).
  def q31_sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val gapUs = 30L * 60L * 1000000L
    t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapUs, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col("event_id")).as("first_event"),
           outD(sum(col("value").cast(dec))).as("sess_value"))
  }

  // The TYPED Dataset path at the gate: KeyValueGroupedDataset.mapGroups
  // per-user sessionization — the same gap semantics as q31 but computed
  // imperatively per group (the API surface behind
  // streaming/EventStream.sessionize). Determinism: the value column is
  // Spark-cast to DECIMAL(18,4) BEFORE the typed boundary (so both
  // engines round identically), events sort in-group on (ts, event_id),
  // and exact decimal sums are order-independent anyway. Scale bound:
  // one user's events must fit an executor (the mapGroups contract).
  def q42_typed_sessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gapUs = 30L * 60L * 1000000L
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
              col("value").cast(dec).as("vdec"))
      .as[(Long, Long, Long, java.math.BigDecimal)]
    val per = ev.groupByKey(_._1).mapGroups { (uid, it) =>
      val rows = it.toArray.sortBy(r => (r._2, r._3))
      var sessions = if (rows.isEmpty) 0L else 1L
      var prevTs = Long.MinValue
      var total = java.math.BigDecimal.ZERO
      var first = true
      rows.foreach { r =>
        if (!first && r._2 - prevTs > gapUs) sessions += 1
        prevTs = r._2; first = false
        // value is nullable in the schema: SQL sum() skips NULLs, so
        // the typed path must too (add(null) would NPE)
        if (r._4 != null) total = total.add(r._4)
      }
      (uid, sessions, rows.length.toLong, total)
    }
    per.toDF("user_id", "n_sessions", "n_events", "total_value")
      .withColumn("total_value",
        col("total_value").cast(out).cast("double"))
  }

  // STATEFUL Structured Streaming at the gate: EventStream.sessionize
  // (mapGroupsWithState) executed as a real 2-micro-batch stream. The
  // corpus is split into two files by event parity (every user has
  // events in BOTH halves) and streamed with maxFilesPerTrigger=1, so
  // the final per-user (n_events, total_value) is correct ONLY if the
  // group state survives across micro-batches — a dropped state would
  // leave batch-2 rows missing batch-1 counts and fail the oracle.
  //
  // Determinism: session-gap CLOSURE is processing-time-based in
  // streaming (wall clock — not oracle-checkable, and its registered
  // timeouts livelock processAllAvailable; see sessionize's scaladoc),
  // so the gate runs with NoTimeout and the checked surface is the
  // cumulative state itself. Values are floor-quantized to whole-number doubles
  // (value*10000 is the same IEEE double in both engines, floor exact)
  // so the state's running double sum is integer-exact and
  // order-independent.
  def q44_stateful_sessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.EventStream
    val tmp = fixtureDir("q44_events")
    val ev = t(s, dir, "events").select(
      col("event_id"),
      timestamp_micros(col("ts")).as("ts"),
      col("user_id"), col("event_type"),
      floor(coalesce(col("value"), lit(0.0)) * 10000).cast("double").as("value"))
    rewritePartFilesOnePass(tmp, ev, pmod(col("event_id"), lit(2)), 2)
    val streamed = EventStream.runBatchOfStream(
      s, tmp.getAbsolutePath, "q44_state_mem",
      df => EventStream.sessionize(
        df.as[EventStream.Event], useTimeout = false).toDF(),
      mode = org.apache.spark.sql.streaming.OutputMode.Update(),
      options = Map("maxFilesPerTrigger" -> "1"))
    // Update-mode sink holds one row per (user, batch) at the cumulative
    // state of that point; n_events strictly grows, so the struct max is
    // the FINAL state per user
    streamed.groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("total_value"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
              col("m.total_value").cast("bigint").as("total_value"))
  }

  private def del(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.toSeq.foreach(del)
    f.delete(); ()
  }

  /** Per-JVM root for streaming fixture files. A FIXED path would race:
    * two processes (a Verify and a Bench, parallel test JVMs) rewriting
    * and streaming the same directory interleave deletes with the other
    * side's mid-stream reads. Unique per process, removed on exit. */
  private lazy val streamFixtureRoot: java.io.File = {
    val d = java.nio.file.Files
      .createTempDirectory("graft_stream_fixtures_").toFile
    sys.addShutdownHook(del(d))
    d
  }

  private[graft] def fixtureDir(name: String): java.io.File =
    new java.io.File(streamFixtureRoot, name)

  /** Deterministic multi-file stream fixture: each frame in `parts`
    * becomes one parquet file batch<i>.parquet (written in order, so
    * file mtimes AND lexicographic names both give the intended
    * micro-batch order under maxFilesPerTrigger=1); idempotent. */
  private[graft] def rewritePartFiles(target: java.io.File,
                               parts: Seq[DataFrame]): Unit = {
    del(target); target.mkdirs()
    parts.zipWithIndex.foreach { case (p, i) =>
      writeOnePart(target, p, i)
    }
  }

  private def writeOnePart(target: java.io.File, p: DataFrame,
                           i: Int): Unit = {
    val tmp = new java.io.File(target, s"__part$i")
    p.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val src = tmp.listFiles.toSeq
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    java.nio.file.Files.move(src.toPath,
      new java.io.File(target, s"batch$i.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    del(tmp)
  }

  /** One-pass form of [[rewritePartFiles]] for the common shape where
    * the parts are DISJOINT BUCKET FILTERS of one source frame
    * (optimization guide §1.2/§2.4 — the per-part form re-scanned the
    * source once per bucket AND `coalesce(1)` collapsed each scan into
    * a single task, so a k-bucket fixture paid k sequential
    * single-threaded passes): the source is scanned once, hash-
    * repartitioned on the bucket value (all rows of a bucket land in
    * exactly one task → exactly one file per bucket directory), written
    * via `partitionBy` in ONE parallel job, and the per-bucket files
    * are moved into the same `batch<i>.parquet` layout (bucket value =
    * micro-batch order). `extras` append as trailing batches through
    * the per-part path (sentinel frames — 1-row, not worth a pass).
    *
    * Row order WITHIN a batch file is shuffle-fetch-dependent, so this
    * is only for gates whose per-batch logic is row-order-free — true
    * of every current caller (per-batch aggregates, dropDuplicates
    * state, or an explicit in-batch sort before folding). */
  private[graft] def rewritePartFilesOnePass(target: java.io.File,
      df: DataFrame, bucket: Column, n: Int,
      extras: Seq[DataFrame] = Nil): Unit = {
    del(target); target.mkdirs()
    val tmp = new java.io.File(target, "__parts")
    df.withColumn("__b", bucket.cast("int"))
      .repartition(n, col("__b"))
      .write.partitionBy("__b").mode("overwrite")
      .parquet(tmp.getAbsolutePath)
    (0 until n).foreach { i =>
      val dirI = new java.io.File(tmp, s"__b=$i")
      val files = Option(dirI.listFiles).map(_.toSeq).getOrElse(Nil)
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("."))
      if (files.size > 1)
        sys.error(s"bucket $i wrote ${files.size} parquet files under " +
          s"$tmp (want exactly 1 — split partition?)")
      files.headOption match {
        case Some(f) =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(target, s"batch$i.parquet").toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        case None =>
          // empty bucket (toy test fixtures): preserve the per-part
          // contract of one file per batch with an empty parquet file
          writeOnePart(target, df.limit(0), i)
      }
    }
    del(tmp)
    extras.zipWithIndex.foreach { case (p, i) => writeOnePart(target, p, n + i) }
  }

  // As-of (point-in-time) join at the gate: each click gets the user's
  // most recent purchase at or before it — ops/AsofJoin's union+window
  // plan (ONE key shuffle, linear cost) vs DuckDB's native ASOF JOIN as
  // the oracle. The build side pre-dedups (user, ts) deterministically;
  // no-match probes surface -1 (both engines) so every column stays a
  // non-null BIGINT.
  def q46_asof_join(s: SparkSession, dir: String): DataFrame = {
    // all ts math in epoch-MICROS (the t() contract): DuckDB timestamps
    // are µs too, so every as-of comparison is exact in both engines
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts").as("ts_us"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts_us"), col("event_id"))
      .groupBy(col("user_id"), col("purchase_ts_us"))
      .agg(min(col("event_id")).as("purchase_id"))
    graft.ops.AsofJoin.asofBackward(clicks, purch,
        keyCols = Seq("user_id"), probeTs = "ts_us", buildTs = "purchase_ts_us",
        payloadCols = Seq("purchase_id", "purchase_ts_us"))
      .select(col("event_id"), col("user_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("purchase_ts_us"), lit(-1L)).as("purchase_ts_us"))
  }

  // Range (point-in-interval) join at the gate: orders against 120
  // overlapping price bands — ops/RangeJoin's binned equi-join (one
  // bucket shuffle, no nested loop) vs DuckDB's plain inequality join.
  // Band bounds are exact doubles (multiples of 5000), so containment
  // compares identically in both engines; o_totalprice passes through
  // untouched.
  def q47_range_join(s: SparkSession, dir: String): DataFrame = {
    val bands = s.range(120).select(col("id").as("band_id"),
      (col("id") * 5000).cast("double").as("lo"),
      (col("id") * 5000 + 12500).cast("double").as("hi"))
    graft.ops.RangeJoin.pointInInterval(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        bands, valueCol = "o_totalprice", loCol = "lo", hiCol = "hi",
        binWidth = 12500.0)
      .select(col("o_orderkey"), col("band_id"), col("o_totalprice"))
  }

  // EVENT-TIME stateful streaming at the gate: watermark-driven session
  // closure (flatMapGroupsWithState + EventTimeTimeout) whose emitted
  // session set equals the BATCH gap-sessionization bit for bit — the
  // deterministic counterpart of q44's cumulative-state check, and the
  // full streaming analog of q31/q42's 30-minute session semantics.
  //
  // Fixture: events time-split at the ts midpoint into two ordered
  // files (per-user event order holds across micro-batches), plus a
  // far-future sentinel event (its own user, filtered out) whose only
  // job is to advance the watermark past every session's gap horizon so
  // end-of-input sessions flush. Gap arithmetic runs on floored
  // epoch-micros longs and values are floor-quantized — both identical
  // integer math in Spark and DuckDB.
  def q45_eventtime_sessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.EventStream
    val tmp = fixtureDir("q45_events")
    val base = t(s, dir, "events").select(
      col("event_id"),
      col("ts").as("ts_us"),
      col("user_id"),
      floor(coalesce(col("value"), lit(0.0)) * 10000).cast("double").as("value"))
    val mm = base.agg(min(col("ts_us")), max(col("ts_us"))).head()
    val (minUs, maxUs) = (mm.getLong(0), mm.getLong(1))
    val midUs = minUs / 2 + maxUs / 2
    // sentinel: far enough that watermark (sentinel − delay) clears every
    // possible timeout (last + gap + 1ms) with a day of margin
    val sentinelUs = maxUs + (30L * 60 + 24L * 3600) * 1000000L
    def shaped(df: DataFrame) = df.select(
      col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
      col("ts_us"), col("user_id"), col("value"))
    // two-sided when (no otherwise): a NULL ts_us lands in the null
    // bucket and is dropped — the exact semantics of the pre-r12 pair
    // of filters (ts_us < mid / ts_us >= mid), which dropped null rows
    // from both batches; `.otherwise(1)` would silently route them
    // into batch 1 at a scale factor where ts ever goes null
    rewritePartFilesOnePass(tmp, shaped(base),
      when(col("ts_us") < midUs, 0).when(col("ts_us") >= midUs, 1), 2,
      extras = Seq(shaped(s.range(1).select(lit(-1L).as("event_id"),
        lit(sentinelUs).as("ts_us"), lit(-1L).as("user_id"),
        lit(0.0).as("value")))))
    val streamed = EventStream.runBatchOfStream(
      s, tmp.getAbsolutePath, "q45_state_mem",
      df => EventStream.sessionizeEventTime(
        df.as[EventStream.EventUs]).toDF(),
      mode = org.apache.spark.sql.streaming.OutputMode.Append(),
      options = Map("maxFilesPerTrigger" -> "1"))
    streamed.filter(col("user_id") >= 0)
      .select(col("user_id"), col("first_event"), col("n_events"),
              col("total_value").cast("bigint").as("total_value"))
  }

  // Spark's NATIVE session_window operator at the gate — the idiomatic
  // counterpart of the hand-rolled q31 (lag+cumsum) / q42 (typed) / q45
  // (streaming) sessionizations. Boundary semantics differ from those:
  // an event extends a session iff it lands STRICTLY inside the running
  // [min_ts, max_ts + gap) window, i.e. a gap of exactly 30 min starts a
  // NEW session — the oracle mirrors that with `>= gap`, not `> gap`.
  def q50_session_window(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
      timestamp_micros(col("ts")).as("tsm"))
    ev.groupBy(col("user_id"), session_window(col("tsm"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("sess_start_us"),
        col("n_events"), col("first_event"))
  }

  // Custom typed Aggregator at the gate: exact bounded top-k per group
  // (functions.TopKByScore) — top-3 orders per customer WITHOUT a
  // window sort. Must equal the row_number() formulation; the shuffle
  // carries at most 3 (price, orderkey) pairs per customer instead of
  // every order row (see the Aggregator's scaladoc for the scale math).
  def q43_topk_agg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = new graft.functions.TopKByScore(3)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.toColumn.name("topk"))
      .flatMap { case (ck, buf) =>
        buf.items.zipWithIndex.map { case ((price, ok), i) =>
          (ck, ok, i + 1, price)
        }
      }
      .toDF("o_custkey", "o_orderkey", "rnk", "o_totalprice")
  }

  // ROLLUP hierarchy totals (region -> nation -> grand total).
  def q32_rollup(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
           outD(sum(col("c_acctbal").cast(dec))).as("total_bal"))
  }

  // Z-order layout key at the gate (ops/Layout.withZOrderCode + the
  // native zorder_code expression): the multi-column clustering code
  // that keeps every keyed column's per-file min/max narrow so scans
  // filtered on ANY key prune. Deterministic end to end — min/max
  // scaling is plain IEEE double math with truncation (DuckDB needs an
  // explicit trunc(): its double→BIGINT cast ROUNDS, Spark's truncates)
  // and the Morton interleave (bit i of dim d → position i·n+d) is
  // integer bit-math both engines agree on.
  def q83_zorder(s: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.withZOrderCode(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
                                   col("o_totalprice")),
        cols = Seq("o_custkey", "o_totalprice"),
        bitsPerDim = 16, zcodeCol = "zcode")
      .select(col("o_orderkey"), col("zcode"))

  // CUBE: all 2^2 grouping combinations (completes the grouping family:
  // rollup q32, grouping sets q35, cube here).
  def q63_cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(year(col("o_orderdate")).as("order_year"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
           outD(sum(col("o_totalprice").cast(dec))).as("total"))

  // GROUPING SETS with explicit set list (finer than rollup/cube).
  def q35_grouping_sets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("gs_events")
    s.sql(
      """SELECT event_type, user_id % 10 AS cohort,
        |       count(*) AS n,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS total_value
        |FROM gs_events
        |GROUP BY GROUPING SETS ((event_type, user_id % 10), (event_type), ())
        |""".stripMargin)
  }

  // Median/extrema stats: both engines interpolate the exact median of
  // the same doubles with the same (a+b)/2 arithmetic → bit-identical.
  def q37_stats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(median(col("l_quantity")).as("med_qty"),
           min(col("l_extendedprice")).as("min_price"),
           max(col("l_extendedprice")).as("max_price"),
           count_distinct(col("l_suppkey")).as("n_suppliers"))

  // Array construction/manipulation surfaced as strings (array renderings
  // differ between engines' result layers; string join is stable).
  def q38_array_funcs(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    t(s, dir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"),
        size(words).as("n_words"),
        concat_ws("|", slice(sort_array(array_distinct(words)), 1, 5)).as("first5_sorted"),
        array_contains(words, "data").cast("int").as("has_data"),
        concat_ws("|", slice(words, 1, 3)).as("first3"))
  }

  // Correlated scalar subquery: customers above their nation's average
  // balance (Catalyst decorrelates into a join + agg).
  def q39_correlated(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("corr_customer")
    s.sql(
      """SELECT c_custkey, c_nationkey,
        |       CAST(CAST(c_acctbal AS DECIMAL(38,6)) AS DOUBLE) AS acctbal
        |FROM corr_customer c
        |WHERE CAST(c_acctbal AS DECIMAL(18,4)) > (
        |  SELECT avg(CAST(c2.c_acctbal AS DECIMAL(18,4)))
        |  FROM corr_customer c2 WHERE c2.c_nationkey = c.c_nationkey)
        |""".stripMargin)
  }

  // Bloom-filter-pruned semi join at the gate (ops/BloomPrune): lineitem
  // pruned to high-value orders via a distributed-built Catalyst
  // BloomFilterAggregate probe, then an exact semi join removes the
  // sketch's false positives — result identical to the plain IN-subquery
  // the oracle runs. The 100 TB point: the 128 KiB sketch filters the
  // fact scan BEFORE the join shuffle; only might-match rows shuffle.
  def q53_bloom_semi(s: SparkSession, dir: String): DataFrame = {
    val hi = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
    graft.ops.BloomPrune.semiJoinPruned(
      t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_extendedprice")),
      hi, bigKey = "l_orderkey", smallKey = "o_orderkey",
      expectedItems = 1L << 16, numBits = 1L << 20)
  }

  // STREAM-STREAM time-bounded join at the gate: clicks joined to the
  // same user's purchases within 24 h, both sides real streams of one
  // source (self-join), watermarked so the engine can bound join state —
  // the streaming-enrichment primitive. Inner join + finite replay ⇒
  // the emitted set equals the batch inequality join (the oracle).
  // All time math in epoch-micros timestamps (both engines µs-exact).
  def q54_stream_stream_join(s: SparkSession, dir: String): DataFrame = {
    requireNanosAsLong(s)
    graft.streaming.EventStream.runBatchOfStream(
      s, s"$dir/events.parquet", "q54_join_mem", df => {
        val base = df.withColumn("ts_us", tsAsTimestamp(df))
        val clicks = base.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
                  col("ts_us").as("click_ts"))
          .withWatermark("click_ts", "10 minutes")
        val purch = base.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
                  col("user_id").as("p_user"),
                  col("ts_us").as("purchase_ts"))
          .withWatermark("purchase_ts", "10 minutes")
        clicks.join(purch,
            col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"))
          .select(col("click_id"), col("purchase_id"), col("user_id"))
      },
      mode = org.apache.spark.sql.streaming.OutputMode.Append())
  }

  // STREAMING exact dedup at the gate: dropDuplicates over a 2-micro-batch
  // stream (events split by id parity — most (user_id, event_type) pairs
  // occur in BOTH halves, so the emitted distinct set is correct ONLY if
  // the dedup state survives across batches). Append mode; oracle =
  // batch SELECT DISTINCT.
  def q55_stream_dedup(s: SparkSession, dir: String): DataFrame = {
    val tmp = fixtureDir("q55_events")
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    rewritePartFilesOnePass(tmp, ev, pmod(col("event_id"), lit(2)), 2)
    graft.streaming.EventStream.runBatchOfStream(
      s, tmp.getAbsolutePath, "q55_dedup_mem",
      df => df.select(col("user_id"), col("event_type"))
              .dropDuplicates(Seq("user_id", "event_type")),
      mode = org.apache.spark.sql.streaming.OutputMode.Append(),
      options = Map("maxFilesPerTrigger" -> "1"))
  }

  // STREAM-STATIC enrichment join at the gate: the events stream joined
  // to a broadcast dimension table (stateless — each micro-batch joins
  // independently, no streaming state at all), the standard dimension-
  // lookup shape of a streaming ingest pipeline. Deterministic: inner
  // equi-join, finite replay ⇒ output = the batch join.
  def q60_stream_static_join(s: SparkSession, dir: String): DataFrame = {
    requireNanosAsLong(s)
    val nation = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    graft.streaming.EventStream.runBatchOfStream(
      s, s"$dir/events.parquet", "q60_enrich_mem", df =>
        df.select(col("event_id"), col("user_id"), col("event_type"))
          .withColumn("n_nationkey", pmod(col("user_id"), lit(25)))
          .join(broadcast(nation), Seq("n_nationkey"))
          .select(col("event_id"), col("user_id"), col("event_type"),
                  col("n_name")),
      mode = org.apache.spark.sql.streaming.OutputMode.Append())
  }

  // PIVOT (long→wide) at the gate: order counts + exact decimal totals
  // per year × status, statuses pinned explicitly (Seq("F","O","P") — a
  // production pivot never collect()s its value domain). Empty cells
  // surface 0 in both engines (Spark pivot yields NULL, coalesced here;
  // DuckDB conditional aggregation likewise COALESCEd).
  def q56_pivot(s: SparkSession, dir: String): DataFrame = {
    val piv = t(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("cnt"),
           sum(col("o_totalprice").cast(dec)).as("total"))
    piv.select(col("order_year"),
      coalesce(col("F_cnt"), lit(0L)).as("f_cnt"),
      outD(coalesce(col("F_total"), lit(0).cast(dec))).as("f_total"),
      coalesce(col("O_cnt"), lit(0L)).as("o_cnt"),
      outD(coalesce(col("O_total"), lit(0).cast(dec))).as("o_total"),
      coalesce(col("P_cnt"), lit(0L)).as("p_cnt"),
      outD(coalesce(col("P_total"), lit(0).cast(dec))).as("p_total"))
  }

  // EXACT per-group percentiles (median + p90) by discrete selection:
  // row_number over (price, orderkey) + integer index formulas — pure
  // value SELECTION, no interpolation arithmetic, so the surfaced
  // doubles are raw pass-throughs and cross-engine exact. Scale note:
  // exact percentiles require a per-group sort (here 5 fat groups — the
  // window shuffles on the segment key); at billions of rows per group
  // switch to percentile_approx (t-digest sketch, map-side mergeable) —
  // kept off the gate because sketches aren't cross-engine comparable.
  def q57_percentile(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
    val j = o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice"), col("o_orderkey"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    j.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("c_mktsegment"))))
      .groupBy(col("c_mktsegment"))
      .agg(
        max(when(col("rn") === expr("(n+1) div 2"), col("o_totalprice")))
          .as("median_price"),
        max(when(col("rn") === expr("(9*n+9) div 10"), col("o_totalprice")))
          .as("p90_price"))
  }

  // INTERVAL-OVERLAP join at the gate (ops/RangeJoin.intervalOverlap):
  // per-customer order-activity spans × fixed 45-day calendar windows,
  // paired via bucket explosion with exactly-once emission (the overlap
  // start's bucket) — vs DuckDB's plain double-inequality join. All
  // bounds are integer day offsets (datediff — identical in both).
  def q58_interval_overlap(s: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
    val cust = t(s, dir, "orders").filter(col("o_custkey") < 500)
      .groupBy(col("o_custkey"))
      .agg(min(day).cast("long").as("c_lo"),
           (max(day) + 1).cast("long").as("c_hi"))
    val win = s.range(80).select(col("id").as("win_id"),
      (col("id") * 30).as("w_lo"), (col("id") * 30 + 45).as("w_hi"))
    graft.ops.RangeJoin.intervalOverlap(cust, win,
        lLo = "c_lo", lHi = "c_hi", rLo = "w_lo", rHi = "w_hi",
        binWidth = 64.0)
      .select(col("o_custkey"), col("win_id"),
        (least(col("c_hi"), col("w_hi")) - greatest(col("c_lo"), col("w_lo")))
          .as("overlap_days"))
  }

  // UNPIVOT (wide→long, melt) at the gate: Dataset.unpivot over the three
  // lineitem measures — map-only (no shuffle), the feature-flattening
  // step of a metrics pipeline. Oracle = the UNION ALL it replaces.
  def q59_unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "value")

  // SLIDING (hopping) windows at the gate: Spark's native
  // window(ts, '1 hour', '30 minutes') — each event lands in exactly
  // size/slide = 2 overlapping windows; the oracle replays the window
  // membership with integer µs arithmetic (start ∈ {floor(ts/slide)·
  // slide − k·slide, k < size/slide}). Completes the window-operator
  // family next to q19's tumbling and q50's session windows.
  def q160_sliding_window(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("tts", timestamp_micros(col("ts")))
      .groupBy(window(col("tts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           outD(sum(col("value").cast(dec))).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("total_value"))

  // FIRST-TOUCH FUNNEL (ops/EventAnalytics.funnelLevels): highest
  // view→click→purchase step each user reaches in order within 7 days
  // of their first view — the ClickHouse windowFunnel question answered
  // with per-step user-keyed min joins (step-count-bounded), pure
  // integer epoch-µs arithmetic end to end.
  def q157_funnel(s: SparkSession, dir: String): DataFrame =
    graft.ops.EventAnalytics.funnelLevels(
      t(s, dir, "events"), "user_id", "ts", "event_type",
      steps = Seq("view", "click", "purchase"),
      windowUs = 7L * 24 * 3600 * 1000000L)

  // COHORT RETENTION (ops/EventAnalytics.cohortRetention): users cohort
  // by first-seen day, activity counted per (cohort, day offset) — the
  // product-analytics retention matrix; two groupBys + one user-keyed
  // join, result bounded by days², integer day buckets both engines
  // share.
  def q158_retention(s: SparkSession, dir: String): DataFrame =
    graft.ops.EventAnalytics.cohortRetention(
      t(s, dir, "events"), "user_id", "ts",
      periodUs = 24L * 3600 * 1000000L)

  // MARKOV TRANSITIONS (ops/EventAnalytics.eventTransitions): counts and
  // integer per-mille probabilities of consecutive (prev→next) event
  // types per user — the behavioral transition matrix next to q157's
  // funnel. The successor window is user-partitioned (bounded by one
  // user's history); the totals join broadcasts (alphabet-bounded).
  def q161_transitions(s: SparkSession, dir: String): DataFrame =
    graft.ops.EventAnalytics.eventTransitions(
      t(s, dir, "events"), "user_id", "ts", "event_id", "event_type")

  // TOP USER PATHS (ops/EventAnalytics.topPaths): the 20 most common
  // first-3-event journeys — first-k per user via the k-bounded
  // FirstKByTime aggregator (map-side partial, no per-user window sort),
  // final top-20 via orderBy+limit = TakeOrderedAndProject.
  def q162_top_paths(s: SparkSession, dir: String): DataFrame =
    graft.ops.EventAnalytics.topPaths(
      t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
      k = 3, topN = 20)

  // SCD TYPE-2 HISTORY (ops/Scd2.buildHistory): orders replayed as a CDC
  // change stream on the customer dimension (key=custkey, ts=integer
  // order day, attr=orderstatus, seq=orderkey as the same-day last-writer
  // rule) → validity-interval rows with no-op collapse and is_current.
  // The warehouse sibling of W5's latest-value merge — one shuffle on the
  // key; every window is key-partitioned.
  def q163_scd2(s: SparkSession, dir: String): DataFrame = {
    val ch = t(s, dir, "orders").filter(col("o_custkey") < 200)
      .select(col("o_custkey").as("custkey"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1992-01-01")))
          .cast("long").as("ts"),
        col("o_orderkey").as("seq"), col("o_orderstatus").as("status"))
    graft.ops.Scd2.buildHistory(ch, "custkey", "ts", "seq", Seq("status"))
  }

  // GAP-CONSTRAINED SEQUENCE MATCH (EventAnalytics.sequenceMatchGaps):
  // the ClickHouse sequenceMatch('(?1)(?t<=g)(?2)(?t<=g)(?3)') question —
  // view→click→purchase with EVERY consecutive pair ≤ 6 h apart, earliest
  // completion per user. NOT the q157 funnel: no anchor window, and the
  // per-gap constraint forces level-wise reachability (greedy
  // first-occurrence chaining is provably wrong here), implemented as
  // steps−1 user-keyed semi joins of (user, long) frames.
  def q168_seq_match(s: SparkSession, dir: String): DataFrame =
    graft.ops.EventAnalytics.sequenceMatchGaps(
      t(s, dir, "events"), "user_id", "ts", "event_type",
      steps = Seq("view", "click", "purchase"),
      maxGapUs = 6L * 3600 * 1000000L)

  // NEGATED SEQUENCE MATCH (EventAnalytics.sequenceMatchNoEvent): a
  // purchase within 6 h of a view with NO error strictly between — the
  // clean-conversion CEP question. Exists-semantics reduces to the
  // LATEST qualifying view per purchase (as-of logic on the equi user
  // key), so two user-keyed join+max aggregations decide every user.
  def q169_seq_noevent(s: SparkSession, dir: String): DataFrame =
    graft.ops.EventAnalytics.sequenceMatchNoEvent(
      t(s, dir, "events"), "user_id", "ts", "event_type",
      first = "view", last = "purchase", forbidden = "error",
      maxGapUs = 6L * 3600 * 1000000L)

  // DATA-QUALITY CONSTRAINT SUITE (ops/DataQuality.check): the reference's
  // ad-hoc probe queries (S10 exists/count/PK) generalized Deequ-style —
  // every row-level rule fused into ONE scan/one aggregate, uniqueness one
  // shuffle on its key, FKs one anti join each (broadcast dims). The gate
  // plants one violation batch per rule class (a ‰-slice cloned with a
  // negative quantity + dup key, an orphan orderkey + bad flag, a null
  // suppkey) so every counter demonstrably discriminates; the fixture's
  // own (orderkey, linenumber) duplicates surface in the unique row too.
  def q174_dq_constraints(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.DataQuality._
    val li = t(s, dir, "lineitem")
    val slice = li.filter(col("l_orderkey") % 499 === 0 &&
      col("l_linenumber") === 1)
    val base = li
      .unionByName(slice.withColumn("l_quantity", lit(-1.0)))
      .unionByName(slice.withColumn("l_orderkey", -col("l_orderkey"))
        .withColumn("l_returnflag", lit("X")))
      .unionByName(slice
        .withColumn("l_orderkey", -col("l_orderkey") - 1000000000L)
        .withColumn("l_suppkey", lit(null).cast("long")))
    check(base, Seq(
      NotNull("l_suppkey"),
      InRange("l_quantity", 1, 50),
      InSet("l_returnflag", Seq("A", "N", "R")),
      Satisfies("price_positive", col("l_extendedprice") > 0),
      Unique(Seq("l_orderkey", "l_linenumber")),
      // k-anonymity floor on the (flag, status) quasi-identifier — the
      // planted 'X' groups are the only ones under 1000
      MinGroupSize(Seq("l_returnflag", "l_linestatus"), 1000),
      ForeignKey(Seq("l_orderkey"), t(s, dir, "orders"), Seq("o_orderkey")),
      ForeignKey(Seq("l_partkey"), t(s, dir, "part"), Seq("p_partkey"))))
  }

  // INCREMENTAL VIEW MAINTENANCE (ops/Ivm.applyDelta): keep a per-partkey
  // count/sum view current under a retract changelog WITHOUT rescanning
  // the base — the set-based generalization of W3/W4's delta-only pulls.
  // Changelog here: post-cutoff rows as inserts, every 7th pre-cutoff
  // order retracted; merged view must equal the full recompute (the
  // oracle IS that recompute). Delta aggregates first (one shuffle over
  // the changelog only), then a key join the optimizer broadcasts when
  // the delta is small; count==0 groups drop — keys can disappear.
  def q175_ivm_agg(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Ivm
    val li = t(s, dir, "lineitem")
    val cutoff = lit("1998-01-01").cast("timestamp")
    val spec = Ivm.AggSpec(
      Seq("sum_qty" -> col("l_quantity").cast(dec)), "n_rows")
    val view = Ivm.materialize(
      li.filter(col("l_shipdate") < cutoff), Seq("l_partkey"), spec)
    val changes = li.filter(col("l_shipdate") >= cutoff)
      .withColumn("op", lit(1))
      .unionByName(li.filter(col("l_shipdate") < cutoff &&
        col("l_orderkey") % 7 === 0).withColumn("op", lit(-1)))
    val merged = Ivm.applyDelta(view, changes, Seq("l_partkey"), spec)
    merged.select(col("l_partkey"), col("n_rows"),
      outD(col("sum_qty")).as("sum_qty"))
  }

  // KMV BOTTOM-K SKETCH (ops/Sketches.kmvRegisters/kmvEstimate/
  // kmvJaccard): the third mergeable sketch next to HLL and CM — the k
  // smallest distinct hashes ARE a uniform distinct-value sample, so two
  // corpus slices' sketches estimate their Jaccard resemblance directly
  // (union bottom-k ∩ both sides), which HLL inclusion–exclusion (q173)
  // cannot do accurately for small overlaps of large sets. Per-lang
  // sketches of two overlapping doc_id-mod-3 shards; exact integer cores
  // gated (k_used, kth hash, n_common, permille), float estimate
  // spec-pinned — the q136/q146 register-gate stance.
  def q176_kmv_sketch(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val docs = t(s, dir, "documents")
    val k = 64
    val h = graft.llm.TextAnalysis.md5Hash60 _
    def shard(lo: Int, hi: Int) = docs.where(
      pmod(col("doc_id"), lit(3)) === lo || pmod(col("doc_id"), lit(3)) === hi)
    val ra = Sketches.kmvRegisters(shard(0, 1), col("text"), k, h, Seq("lang"))
    val rb = Sketches.kmvRegisters(shard(1, 2), col("text"), k, h, Seq("lang"))
    def core(r: DataFrame, suf: String) =
      Sketches.kmvEstimate(r, k, groupCols = Seq("lang"))
        .select(col("lang"), col("k_used").as(s"k_used_$suf"),
          col("kth").as(s"kth_$suf"))
    core(ra, "a")
      .join(core(rb, "b"), "lang")
      .join(Sketches.kmvJaccard(ra, rb, k, Seq("lang"))
        .select(col("lang"), col("k_used").as("k_used_u"),
          col("n_common"), col("jacc_permille")), "lang")
  }

  // BLOCKED RECORD LINKAGE (ops/EntityResolution.scorePairs): Fellegi–
  // Sunter field-agreement scoring of candidate pairs inside
  // (nationkey, mktsegment, key-window) blocks — never all-pairs;
  // integer weights keep the score exact cross-engine. The gate plants
  // perturbed customer clones (name + '~', balance + 0.5): full-name
  // agreement fails but the 18-char prefix and ±1.0 balance tolerance
  // hold, so exactly the clone pairs clear the match threshold.
  //
  // The key-window block column is the SCALING term (round-10 sf1
  // rehearsal: nation×segment alone is 125 FIXED blocks, so block
  // occupancy — and the pair product — grew with the corpus; 67× at
  // 10× data). `custkey mod 10^6 div 1000` strips the clone offset
  // (clones co-block with their originals) and adds one block per
  // 1000 keys, pinning expected occupancy at ~8 for every scale
  // factor — the block-key-cardinality-must-scale rule every blocked
  // linkage deployment follows.
  def q177_record_linkage(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.EntityResolution._
    val c = t(s, dir, "customer")
    val aug0 = c.unionByName(c.filter(col("c_custkey") % 97 === 0)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        concat(col("c_name"), lit("~")).as("c_name"),
        col("c_nationkey"),
        (col("c_acctbal") + 0.5).as("c_acctbal"),
        col("c_mktsegment")))
    val aug = aug0.withColumn("blk",
      expr("(c_custkey % 1000000L) div 1000L"))
    scorePairs(aug, "c_custkey",
      blockCols = Seq("c_nationkey", "c_mktsegment", "blk"),
      compareCols = Seq("c_name", "c_acctbal"),
      rules = Seq(
        prefixField("c_name", 18, wAgree = 30, wDisagree = 10),
        exactField("c_name", wAgree = 20, wDisagree = 5),
        toleranceField("c_acctbal", 1.0, wAgree = 15, wDisagree = 15)),
      matchThreshold = 35, possibleThreshold = 10)
      .filter(col("score") >= 10)
  }

  // EQUI-DEPTH DISCRETIZATION (ops/Stats.equiDepthBoundaries/discretize):
  // bucket docs by n_chars into 8 population-equal bins — the feature-
  // binning / range-partition-boundary op. Boundaries come from the
  // exactQuantiles plan (value histogram + bounded running sum, NO global
  // sort); assignment is map-only against one broadcast 7-long array.
  def q178_discretize(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Stats
    val docs = t(s, dir, "documents")
    val bnd = Stats.equiDepthBoundaries(docs, "n_chars", nBuckets = 8)
    Stats.discretize(docs, "n_chars", bnd)
      .select(col("doc_id"), col("n_chars"), col("bucket"))
  }

  // ROBUST OUTLIER REPORT (ops/Stats.robustOutlierReport): Tukey fences
  // at 1.5·IQR per event_type over floor(value·100) integer cents —
  // exact group quartiles (no sampled percentile), fences in ×2-scaled
  // integer arithmetic so no 1.5 ever rounds. floor(double·100) is one
  // IEEE multiply + floor in both engines — deterministic.
  def q179_outliers(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.robustOutlierReport(
      t(s, dir, "events").select(col("event_type"),
        floor(col("value") * 100).cast("long").as("v")),
      "event_type", "v")

  // CM-SKETCH JOIN-SIZE ESTIMATE (ops/Sketches.cmJoinSizeEstimate):
  // |lineitem ⋈ orders| from two one-pass Count-Min sketches — the
  // Cormode–Muthukrishnan inner-product bound, min over hash rows of the
  // register dot product. The planner-side primitive: estimate a join's
  // output without shuffling either table; everything after the two
  // scans touches ≤ d·2^b register rows.
  def q180_cm_join_size(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val h = graft.llm.TextAnalysis.md5Hash60 _
    val ra = Sketches.cmRegisters(t(s, dir, "lineitem"),
      col("l_orderkey").cast("string"), d = 3, b = 16, hashFn = h)
    val rb = Sketches.cmRegisters(t(s, dir, "orders"),
      col("o_orderkey").cast("string"), d = 3, b = 16, hashFn = h)
    Sketches.cmJoinSizeEstimate(ra, rb)
  }

  // SCD2 HISTORY AUDIT (ops/Scd2.auditHistory): the interval-algebra
  // data-quality suite — inverted/overlapping/gapped intervals and
  // broken is_current markers, as a DataQuality-shaped report. The gate
  // corrupts the q163 history four ways (one per rule, keyed by custkey
  // residue) so every counter provably discriminates; the lag window is
  // key-partitioned, everything after is a 4-row report.
  def q181_scd2_audit(s: SparkSession, dir: String): DataFrame = {
    val hist = q163_scd2(s, dir)
    val res = pmod(col("custkey"), lit(10))
    val corrupted = hist.withColumn("valid_to",
      when(res === 7 && col("is_current") === 1, col("valid_from") - 1)
        .when(res === 3 && col("is_current") === 0, col("valid_to") + 1)
        .when(res === 5 && col("is_current") === 0, col("valid_to") - 1)
        .otherwise(col("valid_to")))
      .unionByName(hist.filter(res === 1 && col("is_current") === 1))
    graft.ops.Scd2.auditHistory(corrupted, "custkey")
  }

  // TIME-WEIGHTED AVERAGE (the financial-bar / metering aggregate):
  // per (event_type, day), Σ value·Δt / ΣΔt with the last observation
  // carried to day end — the answer "what was the average level, not the
  // average OBSERVATION" that plain avg() gets wrong under irregular
  // sampling. Integer µs gaps × floor-cent values in DECIMAL(38,0) sums
  // (a cent·day product is ~4·10¹⁵ and a day of them overflows a long),
  // surfaced as the exact integer division twap_c. The lead window is
  // (type, day)-partitioned — state bounded by one group's events.
  def q182_twap(s: SparkSession, dir: String): DataFrame =
    graft.ops.EventAnalytics.timeWeightedAverage(
      t(s, dir, "events")
        .withColumn("vc", floor(col("value") * 100).cast("long")),
      "event_type", "ts", "vc", periodUs = 86400000000L, idCol = "event_id")
      .select(col("event_type"), col("period").as("day"), col("n"),
        col("twap").as("twap_c"), col("den"))

  // SLIDING-WINDOW DISTINCT-USER ROLLUP (Sketches.hllSlidingMerge): the
  // sketch-cube pattern — per-hour HLL registers of user_id built ONCE,
  // then every trailing 6-hour window's distinct estimate derived by
  // merging ≤ 6·64 register rows per window, never re-reading events.
  // The exact-window alternative (q160-style membership replay) rescans
  // the stream per window; this is how a 100 TB metrics store answers
  // "uniques over any trailing window" from periodic sketches. Integer
  // estimator cores gated (n_buckets, denom_units), float estimate
  // spec-pinned — the q136/q173 register-gate stance.
  def q183_sliding_hll(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val hourly = Sketches.hllRegisters(
      t(s, dir, "events")
        .withColumn("hr", expr("ts div 3600000000L")),
      col("user_id").cast("string"), b = 6,
      hashFn = graft.llm.TextAnalysis.md5Hash60, hashBits = 60,
      groupCols = Seq("hr"))
    val winReg = Sketches.hllSlidingMerge(hourly, "hr", windowLen = 6)
    Sketches.hllEstimate(winReg, b = 6, hashBits = 60, groupCols = Seq("w"))
      .select(col("w"), col("n_buckets"),
        col("denom_units").cast("long").as("denom_units"))
  }

  // FACT-TO-SCD2 ENRICHMENT (ops/AsofJoin.asofBackward over
  // Scd2.buildHistory): attach to every order the dimension state valid
  // AT ITS DAY — the point-in-time dimension lookup every warehouse
  // fact load runs. NOT a range join: SCD2 intervals tile, so "the
  // interval containing ts" ≡ "the latest valid_from ≤ ts" — an
  // equi-key as-of (one user-keyed shuffle, no interval explosion, and
  // immune to the open-ended MaxValue interval a binned range join
  // would explode on).
  def q185_scd2_enrich(s: SparkSession, dir: String): DataFrame = {
    val hist = q163_scd2(s, dir)
      .select(col("custkey"), col("valid_from"),
        col("status").as("dim_status"))
    val ord = t(s, dir, "orders").filter(col("o_custkey") < 200)
      .select(col("o_orderkey"), col("o_custkey").as("custkey"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1992-01-01")))
          .cast("long").as("day"))
    graft.ops.AsofJoin.asofBackward(ord, hist,
      keyCols = Seq("custkey"), probeTs = "day", buildTs = "valid_from",
      payloadCols = Seq("dim_status"))
      .select(col("o_orderkey"), col("custkey"), col("day"),
        col("dim_status"))
  }

  // WEIGHTED EXACT QUANTILES (ops/Stats.exactWeightedQuantiles): the
  // revenue-weighted quantity distribution — "half the SPEND sits at or
  // below q50 units", which the unweighted median cannot answer. Weights
  // are price cents (one IEEE multiply + floor); same histogram +
  // bounded-running-sum plan as q131, no global sort.
  def q186_weighted_quantiles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.exactWeightedQuantiles(
      t(s, dir, "lineitem").select(
        col("l_quantity").cast("long").as("v"),
        floor(col("l_extendedprice") * 100).cast("long").as("wt")),
      "v", "wt", Seq(("p25", 250), ("p50", 500), ("p75", 750), ("p90", 900)))

  // OHLC BARS (ops/EventAnalytics.ohlcBars): daily open/high/low/close
  // candles per event_type — open/close via min_by/max_by over a
  // (ts, event_id) struct key, which partial-aggregates map-side where
  // a window rank would sort every bar. Integer cents end to end.
  def q187_ohlc(s: SparkSession, dir: String): DataFrame =
    graft.ops.EventAnalytics.ohlcBars(
      t(s, dir, "events")
        .withColumn("vc", floor(col("value") * 100).cast("long")),
      "event_type", "ts", "vc", periodUs = 86400000000L,
      idCol = "event_id")

  // PARTITIONED LAYOUT + PARTITION PRUNING (io/TableStore's
  // partitionBy layout as a read-path gate): events written
  // hive-partitioned by event_type, then a two-type read — the scan
  // must touch ONLY those directories (PlanAuditSpec pins
  // PartitionFilters), the on-disk layout every 100 TB table uses so a
  // predicate becomes an O(1) directory listing instead of a full scan.
  def q188_partition_prune(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("q188part").toString
    t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        floor(col("value") * 100).cast("long").as("vc"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    graft.io.ParquetMeta.read(s, tmp)
      .filter(col("event_type").isin("purchase", "error"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("sum_vc"),
        countDistinct(col("user_id")).as("n_users"))
  }

  // CATEGORY-DISTRIBUTION DRIFT (ops/Stats.categoryDrift): per-language
  // share comparison of two corpus shards with integer per-mille shares
  // and |Δ| — the data-monitoring report between snapshots. The gate
  // drops one language from side B entirely (residue trick) so the
  // count-0 "category disappeared" row provably surfaces.
  def q189_category_drift(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.Stats.categoryDrift(
      docs.where(pmod(col("doc_id"), lit(2)) === 0),
      docs.where(pmod(col("doc_id"), lit(2)) === 1 && col("lang") =!= "de"),
      "lang")
  }

  // STREAMING-MAINTAINED MATERIALIZED VIEW (streaming/EventStream.
  // runStreamForeachBatch × ops/Ivm.applyDelta): the per-type
  // (count, sum) view maintained INCREMENTALLY — four real micro-batches
  // of inserts (maxFilesPerTrigger=1 over a repartitioned copy), then a
  // retract batch withdrawing every user_id%5==0 event. Each merge
  // touches only that batch's keys (the applyDelta broadcast split);
  // the final view must equal the one-shot recompute over the effective
  // rows — which IS the oracle. The continuous-ingest sibling of the
  // streaming dedup (q109) / CM sketch (q150) gates.
  def q190_stream_ivm(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Ivm
    val tmp = java.nio.file.Files.createTempDirectory("q190src").toString
    t(s, dir, "events").repartition(4).write
      .mode("overwrite").parquet(tmp + "/src")
    val spec = Ivm.AggSpec(
      Seq("sum_vc" -> floor(col("value") * 100).cast("long")
        .cast("decimal(38,0)")), "n_rows")
    var view: DataFrame = s.emptyDataFrame
      .select(lit("").as("event_type"), lit(0L).as("n_rows"),
        lit(null).cast("decimal(38,0)").as("sum_vc"))
      .limit(0)
    graft.streaming.EventStream.runStreamForeachBatch(
      s, tmp + "/src", { (batch, _) =>
        view = Ivm.applyDelta(view, batch.withColumn("op", lit(1)),
          Seq("event_type"), spec).localCheckpoint(true)
      }, options = Map("maxFilesPerTrigger" -> "1"))
    val retract = graft.io.ParquetMeta.read(s, tmp + "/src")
      .where(pmod(col("user_id"), lit(5)) === 0)
      .withColumn("op", lit(-1))
    Ivm.applyDelta(view, retract, Seq("event_type"), spec)
      .select(col("event_type"), col("n_rows"),
        outD(col("sum_vc")).as("sum_vc"))
  }

  // GOLDEN-RECORD SURVIVORSHIP (ops/EntityResolution.goldenRecord): the
  // MDM step after linkage — per entity, each FIELD from the highest-
  // priority source that has it (fields independently: the golden name
  // and golden balance may come from different rows). Three synthetic
  // source feeds with residue-keyed nulls make every source win
  // somewhere. One entity-keyed groupBy of min_by aggregates.
  def q191_golden_record(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val s1 = c.select(col("c_custkey"), lit(1).as("rnk"),
      when(col("c_custkey") % 3 === 0, lit(null).cast("string"))
        .otherwise(col("c_name")).as("name"),
      lit(null).cast("double").as("acctbal"),
      col("c_mktsegment").as("segment"))
    val s2 = c.select(col("c_custkey"), lit(2).as("rnk"),
      concat(col("c_name"), lit("_x")).as("name"),
      when(col("c_custkey") % 4 === 0, lit(null).cast("double"))
        .otherwise(col("c_acctbal")).as("acctbal"),
      lit(null).cast("string").as("segment"))
    val s3 = c.select(col("c_custkey"), lit(3).as("rnk"),
      lit(null).cast("string").as("name"),
      (col("c_acctbal") + 1.0).as("acctbal"),
      lit("FALLBACK").as("segment"))
    graft.ops.EntityResolution.goldenRecord(
      s1.unionByName(s2).unionByName(s3),
      entityCol = "c_custkey", rankCol = "rnk", idCol = "rnk",
      fields = Seq("name", "acctbal", "segment"))
  }

  // RANGE-FRAME ROLLING AGGREGATES: per-user trailing-7-day event count
  // and spend at EVERY event — the value-based window frame
  // (`rangeBetween`, Spark's RangeFrame) the tumbling/sliding/session
  // gates don't exercise: the frame is defined by the µs ORDER VALUE,
  // so same-ts peer rows are in each other's frames on both engines
  // (a ROWS frame would be tie-order-ambiguous and unhashable). The
  // window partitions by user — state bounded by one user's history.
  def q192_rolling_range(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rangeBetween(-7L * 86400000000L, 0)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * 100).cast("long").as("vc"))
      .select(col("user_id"), col("event_id"), col("ts"),
        count(lit(1)).over(w).as("n_7d"),
        sum(col("vc")).over(w).as("sum_7d"))
  }

  // PER-GROUP OLS TREND (ops/Stats.groupTrend): "is this metric moving,
  // and how fast" — the least-squares slope of value-cents against
  // event time per type, from the five sufficient statistics in EXACT
  // decimal arithmetic (rebased seconds so n·Σx² stays inside 38
  // digits), surfaced as integer µcents/day via truncate-toward-zero
  // division (matches DuckDB's `//` on negatives). Two group-keyed
  // aggregations; the regression itself is metadata arithmetic.
  def q193_trend(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.groupTrend(
      t(s, dir, "events").where(col("value").isNotNull)
        .select(col("event_type"), expr("ts div 1000000").as("xs"),
          floor(col("value") * 100).cast("long").as("vc")),
      "event_type", "xs", "vc", outScale = 86400000000L)
      .select(col("event_type"), col("n"),
        col("slope").as("slope_ucents_day"))

  // MULTI-TOUCH ATTRIBUTION (ops/EventAnalytics.attribution): credit
  // purchases back to the view/click touches within 24 h before them —
  // first/last/linear models side by side, linear as exact integer
  // micro-credits (1000000 div n — never a repeating decimal). One
  // user-keyed join + per-touch min-conversion groupBy; windows
  // partition by (user, conversion) so state is one conversion's touch
  // set, and the final rollup is alphabet-bounded.
  def q194_attribution(s: SparkSession, dir: String): DataFrame =
    graft.ops.EventAnalytics.attribution(
      t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
      convType = "purchase", touchTypes = Seq("view", "click"),
      lookbackUs = 24L * 3600 * 1000000L)

  // TRIANGLE COUNT + CLUSTERING COEFFICIENT (ops/GraphOps
  // .triangleStats): the supplier co-purchase graph — suppliers
  // co-occurring in ≥ 25 orders — scored for neighborhood cohesion via
  // degree-ordered edge orientation (out-neighborhoods bounded O(√m),
  // so wedge generation is O(m^1.5) regardless of hubs). cc in exact
  // integer per-mille: (2000·Δ) div (d·(d−1)).
  def q196_triangles(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct()
    val edges = o.as("a").join(o.as("b"),
        col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("x"), col("b.sk").as("y"))
      .agg(count(lit(1)).as("co")).filter(col("co") >= 25)
    graft.ops.GraphOps.triangleStats(edges, "x", "y")
  }

  // AUC BY RANK IDENTITY (ops/Stats.aucPpm): Mann–Whitney AUC of a
  // synthetic score (value-cents + 2000 for purchases — overlapping
  // classes, real ties) against the purchase label, in exact integer
  // ppm. Distinct score VALUES cross the shuffle (histogram
  // discipline), the prefix sum is window-free, and ties resolve by
  // the doubled-midrank identity — no per-row rank anywhere.
  def q198_auc(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.aucPpm(
      t(s, dir, "events").select(
        (floor(col("value") * 100).cast("long") +
          when(col("event_type") === "purchase", 2000L).otherwise(0L))
          .as("score"),
        (col("event_type") === "purchase").as("label")),
      "score", "label")

  // CALIBRATION BUCKETS (ops/Stats.reliabilityBuckets): the
  // reliability-diagram table — scores (value-cents ×20, clamped to
  // [0, 10⁶)) bucket into deciles; each bin reports promised
  // (mean_score_ppm) vs delivered (rate_ppm) purchase rate, floor
  // division throughout. One bucket-keyed partial groupBy.
  def q199_calibration(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.reliabilityBuckets(
      t(s, dir, "events").select(
        least(lit(999999L), floor(col("value") * 100).cast("long") * 20)
          .as("score_ppm"),
        (col("event_type") === "purchase").as("label")),
      "score_ppm", "label", bins = 10)

  // ASSOCIATION RULES (ops/Association.associationRules): market-basket
  // support/confidence/lift over order baskets (items = part-key mod 50
  // classes — dense enough to co-occur), min support 6 per-mille of
  // baskets (the scale-invariant Apriori knob). Exact integer
  // per-mille/ppm metrics; the pair join is basket-keyed with the
  // maxBasketSize hot-key guard; item-count joins broadcast.
  def q201_assoc_rules(s: SparkSession, dir: String): DataFrame =
    graft.ops.Association.associationRules(
      t(s, dir, "lineitem").select(col("l_orderkey").as("bk"),
        (col("l_partkey") % 50).as("item")),
      "bk", "item", minSupportPm = 6)

  // RECURSIVE HIERARCHY (ops/Hierarchy.ancestors): the WITH RECURSIVE /
  // CONNECT BY question Spark lacks natively — full ancestor closure
  // with hop counts over the doc_id div 2 binary tree, iterative
  // parent-keyed joins checkpointed per hop, early-exit on an empty
  // frontier. The oracle IS DuckDB's native WITH RECURSIVE.
  def q202_hierarchy(s: SparkSession, dir: String): DataFrame =
    graft.ops.Hierarchy.ancestors(
      t(s, dir, "documents").filter(col("doc_id") >= 1)
        .select(col("doc_id").as("child"),
          expr("doc_id div 2").as("parent")),
      "child", "parent", maxDepth = 12)

  // PEARSON χ² 2×2 (ops/Stats.chiSquare2x2Milli): the A/B significance
  // statistic — even/odd user cohorts × purchase outcome, closed-form
  // integer arithmetic in DECIMAL(38,0), cells surfaced for margin
  // audits. One scan, one partial aggregate, metadata-sized result.
  def q203_chi2(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.chiSquare2x2Milli(
      t(s, dir, "events").select(
        (col("user_id") % 2 === 0).as("grp"),
        (col("event_type") === "purchase").as("label")),
      "grp", "label")

  // COMMIT-LOG TIME TRAVEL (ops/CommitLog.snapshotAt): "the table AS OF
  // version v" reconstructed from an append-only add/remove action log
  // (orders replayed as actions: every 11th orderkey a remove) — one
  // key-keyed max_by aggregate, map-side partial, removes drop. The
  // lakehouse read next to SCD2's attribute history and IVM's live view.
  def q204_time_travel(s: SparkSession, dir: String): DataFrame =
    graft.ops.CommitLog.snapshotAt(
      t(s, dir, "orders").select(col("o_custkey").as("custkey"),
        col("o_orderkey").as("v"),
        when(col("o_orderkey") % 11 === 0, "remove").otherwise("add").as("op"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("total_c")),
      "custkey", "v", "op", version = 4000L,
      payloadCols = Seq("status", "total_c"))

  // QUANTILE NORMALIZATION (ops/Stats.quantileNormalize): map each
  // event type's value distribution onto the global one — rank kept,
  // scale drift killed. The quantile function materializes at 1000
  // per-mille points only (broadcast probe of the global histogram),
  // so the row-level transform is one broadcast join; the rank window
  // is type-partitioned.
  def q205_quantile_norm(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.quantileNormalize(
      t(s, dir, "events").where(col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100).cast("long").as("vc")),
      "event_type", "vc", "event_id")

  // COLUMN PROFILER (ops/Profiler.profileColumns): the ANALYZE-TABLE /
  // data-catalog report — per column: nulls, distinct cardinality,
  // native-order min/max (rendered after), modal value with the
  // (count, value)-struct tie rule. One fused aggregate scan + one
  // unpivoted (column, value) groupBy; a planted nullable column
  // proves the null path. S10's exists/count/PK probes generalized.
  def q206_profile(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiler.profileColumns(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        when(col("o_orderkey") % 10 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("prio")),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "prio"))

  // SET OPERATIONS (INTERSECT / EXCEPT, set and multiset forms): the
  // SQL-standard surface between union and join — customers ordering in
  // both 1995 and 1996, in 1995 only, and the EXCEPT ALL multiset
  // difference (per-customer surplus of 1995 orders over 1996 ones —
  // duplicates matter). Branch-labeled union so one gate pins all four
  // semantics; Catalyst plans set ops as aggregates/anti-joins on the
  // distinct keys, never row-at-a-time.
  def q207_set_ops(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    def yr(y: Int) = o.filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey"))
    val i = yr(1995).intersect(yr(1996)).withColumn("op", lit("intersect"))
    val e = yr(1995).except(yr(1996)).withColumn("op", lit("except"))
    val ia = yr(1995).intersectAll(yr(1996))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("__m"))
      .select(col("o_custkey"), lit("intersect_all").as("op"), col("__m"))
    val ea = yr(1995).exceptAll(yr(1996))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("__m"))
      .select(col("o_custkey"), lit("except_all").as("op"), col("__m"))
    i.withColumn("__m", lit(1L)).unionByName(e.withColumn("__m", lit(1L)))
      .unionByName(ia).unionByName(ea)
      .select(col("o_custkey"), col("op"), col("__m").as("multiplicity"))
  }

  // PER-GROUP WINSORIZATION (ops/Stats.winsorize): clamp each event
  // type's values into its own [p05, p95] per-mille fences — the
  // outlier-taming transform before averaging; exact type-1 group
  // quantiles ride a broadcast join, the clamp is map-only.
  def q208_winsorize(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.winsorize(
      t(s, dir, "events").where(col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100).cast("long").as("vc")),
      "event_type", "vc", loPm = 50, hiPm = 950)

  // GAP-FILL / RESAMPLE (ops/Resample.gapFillLocf): each user's daily
  // last-seen value carried onto a dense day spine — the
  // regularization step before anything that assumes regular sampling.
  // Spine = sequence(min, max) per group (span-bounded arrays); LOCF
  // window partitions by user.
  def q209_gap_fill(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "events").where(col("value").isNotNull)
      .groupBy(col("user_id"), expr("ts div 86400000000").as("day"))
      .agg(max_by(floor(col("value") * 100).cast("long"),
        struct(col("ts"), col("event_id"))).as("vc"))
    graft.ops.Resample.gapFillLocf(obs, "user_id", "day", "vc")
  }

  // WINDOWLESS PERCENT_RANK / CUME_DIST (GlobalRank.percentRanks): the
  // SQL rank-distribution functions in exact integer ppm without the
  // single-partition global window — both are functions of the VALUE,
  // so the histogram prefix sum + one value-keyed join replaces the
  // corpus sort.
  def q210_percent_rank(s: SparkSession, dir: String): DataFrame =
    graft.ops.GlobalRank.percentRanks(
      t(s, dir, "events").where(col("value").isNotNull)
        .select(col("event_id"),
          floor(col("value") * 100).cast("long").as("vc")),
      "vc")

  // CONVERSION-LATENCY DISTRIBUTION: time from first view to first
  // subsequent purchase per user, summarized as exact type-1 quantiles
  // — the "how long does conversion take" composite (funnel × order
  // statistics). Two user-keyed min-aggregations + the histogram
  // quantile plan; no windows.
  def q211_conversion_latency(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val v1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val lat = e.filter(col("event_type") === "purchase")
      .join(v1, "user_id")
      .filter(col("ts") >= col("t1"))
      .groupBy(col("user_id"), col("t1")).agg(min(col("ts")).as("tp"))
      .select((col("tp") - col("t1")).as("latency_us"))
    graft.ops.Stats.exactQuantiles(lat, "latency_us",
      Seq(("p25", 250), ("p50", 500), ("p75", 750), ("p90", 900)))
  }

  // NEAREST-IN-TIME AS-OF (ops/AsofJoin.asofNearest): align each error
  // event to the temporally CLOSEST purchase of the same user —
  // neither directional as-of answers it; two union+carry passes (the
  // forward one on the negated axis), equidistant ties to the earlier
  // match. Per-key bounded window state, no range explosion.
  def q212_asof_nearest(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    graft.ops.AsofJoin.asofNearest(
      e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts")),
      e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"),
          col("event_id").as("p_id")),
      keyCols = Seq("user_id"), probeTs = "ts", buildTs = "pts",
      payloadCols = Seq("p_id"), tieCols = Seq("p_id"))
  }

  // LABEL-PROPAGATION COMMUNITIES (GraphOps.labelPropagation): two
  // synchronous LPA rounds over the ≥30-co-order supplier graph —
  // community detection where components see one blob (ties to the
  // smallest label make plain LPA's order-dependence deterministic).
  def q213_communities(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct()
    val edges = o.as("a").join(o.as("b"),
        col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("x"), col("b.sk").as("y"))
      .agg(count(lit(1)).as("co")).filter(col("co") >= 30)
    graft.ops.GraphOps.labelPropagation(edges, "x", "y", iters = 2)
  }

  // 2-D SKYLINE / PARETO FRONTIER (ops/Skyline.skyline2D): parts no
  // other part beats on BOTH size and price — the sort-scan skyline
  // distributed via the windowless exclusive prefix max (range
  // partitions + offset metadata), O(n log n), never a pairwise
  // dominance join.
  def q214_skyline(s: SparkSession, dir: String): DataFrame =
    graft.ops.Skyline.skyline2D(
      t(s, dir, "part").select(col("p_size"),
        floor(col("p_retailprice") * 100).cast("long").as("price_c")),
      "p_size", "price_c")

  // k×m CONTINGENCY χ² (Stats.chiSquareKxMMilli): event type ×
  // user-cohort independence over the COMPLETE 5×3 grid (absent cells
  // contribute their expected mass); alphabet-bounded cells/margins,
  // per-cell integer milli terms.
  def q215_chi2_kxm(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.chiSquareKxMMilli(
      t(s, dir, "events").select(col("event_type").as("a"),
        (col("user_id") % 3).cast("string").as("b")),
      "a", "b")

  // RFM SEGMENTATION (EventAnalytics.rfmSegments): recency/frequency/
  // monetary quintiles per purchasing user (cume-based — no global row
  // order needed), segment = 100r+10f+m. Three windowless percentRanks
  // passes over the per-user metric frame.
  def q216_rfm(s: SparkSession, dir: String): DataFrame =
    graft.ops.EventAnalytics.rfmSegments(
      t(s, dir, "events"), "user_id", "ts", "event_type",
      convType = "purchase", valueCol = "value")

  // ITEM-ITEM SIMILARITY (Association.itemSimilarity): top-5 co-purchase
  // neighbors per part class by exact integer cosine² ppm — the
  // "bought X also bought Y" primitive; basket-keyed pair join with
  // support floor, item-partitioned (alphabet-bounded) top-k window.
  def q217_item_sim(s: SparkSession, dir: String): DataFrame =
    graft.ops.Association.itemSimilarity(
      t(s, dir, "lineitem").select(col("l_orderkey").as("bk"),
        (col("l_partkey") % 50).as("item")),
      "bk", "item", k = 5, minCo = 2L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q215_chi2_kxm"    -> q215_chi2_kxm _,
    "q216_rfm"         -> q216_rfm _,
    "q217_item_sim"    -> q217_item_sim _,
    "q213_communities" -> q213_communities _,
    "q214_skyline"     -> q214_skyline _,
    "q211_conversion_latency" -> q211_conversion_latency _,
    "q212_asof_nearest" -> q212_asof_nearest _,
    "q209_gap_fill"    -> q209_gap_fill _,
    "q210_percent_rank" -> q210_percent_rank _,
    "q207_set_ops"     -> q207_set_ops _,
    "q208_winsorize"   -> q208_winsorize _,
    "q206_profile"     -> q206_profile _,
    "q205_quantile_norm" -> q205_quantile_norm _,
    "q204_time_travel" -> q204_time_travel _,
    "q201_assoc_rules" -> q201_assoc_rules _,
    "q202_hierarchy"   -> q202_hierarchy _,
    "q203_chi2"        -> q203_chi2 _,
    "q198_auc"         -> q198_auc _,
    "q199_calibration" -> q199_calibration _,
    "q196_triangles"   -> q196_triangles _,
    "q194_attribution" -> q194_attribution _,
    "q193_trend"       -> q193_trend _,
    "q192_rolling_range" -> q192_rolling_range _,
    "q191_golden_record" -> q191_golden_record _,
    "q190_stream_ivm"  -> q190_stream_ivm _,
    "q188_partition_prune" -> q188_partition_prune _,
    "q189_category_drift" -> q189_category_drift _,
    "q185_scd2_enrich" -> q185_scd2_enrich _,
    "q186_weighted_quantiles" -> q186_weighted_quantiles _,
    "q187_ohlc"        -> q187_ohlc _,
    "q182_twap"        -> q182_twap _,
    "q183_sliding_hll" -> q183_sliding_hll _,
    "q178_discretize"  -> q178_discretize _,
    "q179_outliers"    -> q179_outliers _,
    "q180_cm_join_size" -> q180_cm_join_size _,
    "q181_scd2_audit"  -> q181_scd2_audit _,
    "q174_dq_constraints" -> q174_dq_constraints _,
    "q175_ivm_agg"    -> q175_ivm_agg _,
    "q176_kmv_sketch" -> q176_kmv_sketch _,
    "q177_record_linkage" -> q177_record_linkage _,
    "q168_seq_match"  -> q168_seq_match _,
    "q169_seq_noevent" -> q169_seq_noevent _,
    "q157_funnel"     -> q157_funnel _,
    "q158_retention"  -> q158_retention _,
    "q161_transitions" -> q161_transitions _,
    "q162_top_paths"  -> q162_top_paths _,
    "q163_scd2"       -> q163_scd2 _,
    "q160_sliding_window" -> q160_sliding_window _,
    "q0_flagship"     -> q0_flagship _,
    "q35_grouping_sets" -> q35_grouping_sets _,
    "q37_stats"       -> q37_stats _,
    "q38_array_funcs" -> q38_array_funcs _,
    "q39_correlated"  -> q39_correlated _,
    "q19_windowed_events" -> q19_windowed_events _,
    "q40_stream_windowed" -> q40_stream_windowed _,
    "q31_sessionize"  -> q31_sessionize _,
    "q42_typed_sessions" -> q42_typed_sessions _,
    "q43_topk_agg"    -> q43_topk_agg _,
    "q44_stateful_sessions" -> q44_stateful_sessions _,
    "q45_eventtime_sessions" -> q45_eventtime_sessions _,
    "q46_asof_join"   -> q46_asof_join _,
    "q47_range_join"  -> q47_range_join _,
    "q50_session_window" -> q50_session_window _,
    "q53_bloom_semi"  -> q53_bloom_semi _,
    "q54_stream_stream_join" -> q54_stream_stream_join _,
    "q55_stream_dedup" -> q55_stream_dedup _,
    "q56_pivot"       -> q56_pivot _,
    "q60_stream_static_join" -> q60_stream_static_join _,
    "q57_percentile"  -> q57_percentile _,
    "q58_interval_overlap" -> q58_interval_overlap _,
    "q59_unpivot"     -> q59_unpivot _,
    "q32_rollup"      -> q32_rollup _,
    "q63_cube"        -> q63_cube _,
    "q83_zorder"      -> q83_zorder _,
    "q15_date_clamp"  -> q15_date_clamp _,
    "q16_window_rank" -> q16_window_rank _,
    "q17_exists_agg"  -> q17_exists_agg _,
    "q18_conditional_agg" -> q18_conditional_agg _,
    "q1_agg"          -> q1_agg _,
    "q2_join_agg"     -> q2_join_agg _,
    "q3_watermark"    -> q3_watermark _,
    "q4_distinct_keys"-> q4_distinct_keys _,
    "q5_anti_notin"   -> q5_anti_notin _,
    "q6_bymax_delta"  -> q6_bymax_delta _,
    "q7_semi_join"    -> q7_semi_join _,
    "q8_left_join_cond" -> q8_left_join_cond _,
    "q9_rownum_dedup" -> q9_rownum_dedup _,
    "q10_ntile"       -> q10_ntile _,
    "q11_update_merge"-> q11_update_merge _,
    "q12_append_where"-> q12_append_where _,
    "q13_scalar_funcs"-> q13_scalar_funcs _,
    "q14_expr_join"   -> q14_expr_join _
  )

  val oracleSql: Map[String, String] = Map(
    "q215_chi2_kxm" ->
      """WITH t AS (SELECT event_type a, CAST(user_id % 3 AS VARCHAR) b FROM events),
        |cells AS (SELECT a, b, CAST(count(*) AS HUGEINT) o FROM t GROUP BY 1, 2),
        |ra AS (SELECT a, sum(o) r FROM cells GROUP BY 1),
        |cb AS (SELECT b, sum(o) c FROM cells GROUP BY 1),
        |nn AS (SELECT sum(o) n FROM cells),
        |grid AS (SELECT ra.a, cb.b, coalesce(cells.o, 0) o, ra.r, cb.c, nn.n
        |         FROM ra CROSS JOIN cb CROSS JOIN nn
        |         LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b)
        |SELECT CAST(max(n) AS BIGINT) n,
        |  CAST((count(DISTINCT a)-1)*(count(DISTINCT b)-1) AS BIGINT) dof,
        |  CAST(sum((1000*(o*n - r*c)*(o*n - r*c)) // (n*r*c)) AS BIGINT) chi2_milli
        |FROM grid""".stripMargin,
    "q216_rfm" ->
      """WITH conv AS (SELECT user_id u, epoch_us(ts)//86400000000 d,
        |        CAST(floor(value*100) AS BIGINT) cents
        |      FROM events WHERE event_type='purchase'),
        |anchor AS (SELECT max(d) maxd FROM conv),
        |m AS (SELECT u, max(d) lastd, CAST(count(*) AS BIGINT) f,
        |        CAST(sum(cents) AS BIGINT) m_cents FROM conv GROUP BY 1),
        |mm AS (SELECT u, CAST((SELECT maxd FROM anchor) - lastd AS BIGINT) r_days, f, m_cents FROM m),
        |qr AS (SELECT u, (5*((1000000*CAST(count(*) OVER (ORDER BY -r_days) AS BIGINT))//(count(*) OVER ())) + 999999)//1000000 AS r_q FROM mm),
        |qf AS (SELECT u, (5*((1000000*CAST(count(*) OVER (ORDER BY f) AS BIGINT))//(count(*) OVER ())) + 999999)//1000000 AS f_q FROM mm),
        |qm AS (SELECT u, (5*((1000000*CAST(count(*) OVER (ORDER BY m_cents) AS BIGINT))//(count(*) OVER ())) + 999999)//1000000 AS m_q FROM mm)
        |SELECT mm.u AS user_id, mm.r_days, mm.f, mm.m_cents,
        |  CAST(qr.r_q AS BIGINT) r_q, CAST(qf.f_q AS BIGINT) f_q, CAST(qm.m_q AS BIGINT) m_q,
        |  CAST(qr.r_q*100 + qf.f_q*10 + qm.m_q AS BIGINT) AS segment
        |FROM mm JOIN qr ON qr.u = mm.u JOIN qf ON qf.u = mm.u JOIN qm ON qm.u = mm.u""".stripMargin,
    "q217_item_sim" ->
      """WITH it AS (SELECT DISTINCT l_orderkey bk, l_partkey % 50 item FROM lineitem),
        |ic AS (SELECT item, CAST(count(*) AS BIGINT) cnt FROM it GROUP BY 1),
        |pc AS (SELECT a.item x, b.item y, CAST(count(*) AS BIGINT) co FROM it a
        |       JOIN it b ON a.bk = b.bk AND a.item < b.item GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT x item, y cand, co FROM pc UNION ALL SELECT y, x, co FROM pc),
        |s AS (SELECT d.item, d.cand, d.co,
        |        CAST((1000000 * d.co * d.co) // (ia.cnt * ic2.cnt) AS BIGINT) cos2_ppm
        |      FROM d JOIN ic ia ON ia.item = d.item JOIN ic ic2 ON ic2.item = d.cand),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY item ORDER BY cos2_ppm DESC, cand) AS INT) rnk FROM s)
        |SELECT item, cand, co, cos2_ppm, rnk FROM r WHERE rnk <= 5""".stripMargin,
    "q213_communities" ->
      """WITH o AS (SELECT DISTINCT l_orderkey ok, l_suppkey s FROM lineitem),
        |e0 AS (SELECT a.s x, b.s y FROM o a JOIN o b ON a.ok=b.ok AND a.s<b.s
        |       GROUP BY 1,2 HAVING count(*) >= 30),
        |bi AS (SELECT x a, y b FROM e0 UNION SELECT y, x FROM e0),
        |n AS (SELECT DISTINCT a AS node FROM bi),
        |l0 AS (SELECT node, node AS lbl FROM n),
        |c1 AS (SELECT bi.a node, l0.lbl, count(*) c FROM bi JOIN l0 ON l0.node = bi.b GROUP BY 1,2),
        |l1 AS (SELECT node, first(lbl ORDER BY c DESC, lbl ASC) lbl FROM c1 GROUP BY 1),
        |c2 AS (SELECT bi.a node, l1.lbl, count(*) c FROM bi JOIN l1 ON l1.node = bi.b GROUP BY 1,2),
        |l2 AS (SELECT node, first(lbl ORDER BY c DESC, lbl ASC) lbl FROM c2 GROUP BY 1)
        |SELECT node, CAST(lbl AS BIGINT) AS community FROM l2""".stripMargin,
    "q214_skyline" ->
      """WITH pts AS (SELECT CAST(p_size AS BIGINT) x,
        |               CAST(floor(p_retailprice*100) AS BIGINT) y FROM part),
        |c AS (SELECT x, max(y) y FROM pts GROUP BY 1)
        |SELECT x AS p_size, y AS price_c FROM c p WHERE NOT EXISTS (
        |  SELECT 1 FROM c q WHERE (q.x >= p.x AND q.y >= p.y) AND (q.x > p.x OR q.y > p.y))""".stripMargin,
    "q211_conversion_latency" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) ts, event_type FROM events),
        |v1 AS (SELECT user_id, min(ts) t1 FROM e WHERE event_type='view' GROUP BY 1),
        |lat AS (SELECT min(p.ts) - v1.t1 AS l FROM e p JOIN v1 ON v1.user_id = p.user_id
        |        WHERE p.event_type='purchase' AND p.ts >= v1.t1 GROUP BY p.user_id, v1.t1),
        |n AS (SELECT count(*) n FROM lat),
        |h AS (SELECT l, count(*) c FROM lat GROUP BY 1),
        |cum AS (SELECT l, c, sum(c) OVER (ORDER BY l ROWS UNBOUNDED PRECEDING) cum FROM h),
        |p AS (SELECT * FROM (VALUES ('p25', 250), ('p50', 500), ('p75', 750), ('p90', 900)) t(label, pm))
        |SELECT p.label, CAST(min(cum.l) AS BIGINT) AS q
        |FROM cum, n, p WHERE cum.cum >= (p.pm*n.n+999)//1000 GROUP BY p.label""".stripMargin,
    "q212_asof_nearest" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) ts, event_type FROM events),
        |er AS (SELECT user_id, event_id, ts FROM e WHERE event_type='error'),
        |pu AS (SELECT user_id, ts AS pts, event_id AS p_id FROM e WHERE event_type='purchase'),
        |cand AS (SELECT er.user_id, er.event_id, er.ts, pu.pts, pu.p_id,
        |   CASE WHEN pu.pts <= er.ts THEN er.ts - pu.pts ELSE pu.pts - er.ts END AS d,
        |   CASE WHEN pu.pts <= er.ts THEN 0 ELSE 1 END AS fwd
        | FROM er JOIN pu ON pu.user_id = er.user_id),
        |pick AS (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY d, fwd, p_id DESC) rn FROM cand)
        |SELECT er.user_id, er.event_id, er.ts, p.p_id, p.pts AS matched_ts, p.d AS asof_delta
        |FROM er LEFT JOIN (SELECT * FROM pick WHERE rn = 1) p ON p.event_id = er.event_id""".stripMargin,
    "q209_gap_fill" ->
      """WITH obs AS (SELECT user_id g, epoch_us(ts)//86400000000 p,
        |        first(CAST(floor(value*100) AS BIGINT) ORDER BY ts DESC, event_id DESC) v
        |      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |b AS (SELECT g, min(p) mn, max(p) mx FROM obs GROUP BY 1),
        |sp AS (SELECT g, unnest(generate_series(mn, mx)) AS p FROM b),
        |j AS (SELECT sp.g, sp.p, obs.v,
        |        CAST(CASE WHEN obs.v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled
        |      FROM sp LEFT JOIN obs ON obs.g = sp.g AND obs.p = sp.p)
        |SELECT g AS user_id, CAST(p AS BIGINT) AS day,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY g ORDER BY p
        |    ROWS UNBOUNDED PRECEDING) AS vc, filled
        |FROM j""".stripMargin,
    "q210_percent_rank" ->
      """WITH base AS (SELECT event_id, CAST(floor(value*100) AS BIGINT) vc
        |              FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_id, vc,
        |  CAST(rank() OVER (ORDER BY vc) AS BIGINT) rk,
        |  CAST(count(*) OVER (ORDER BY vc) AS BIGINT) cum,
        |  CAST(count(*) OVER () AS BIGINT) n FROM base)
        |SELECT event_id, vc, (1000000*(rk-1))//(n-1) AS pr_ppm,
        |  (1000000*cum)//n AS cume_ppm FROM r""".stripMargin,
    "q207_set_ops" ->
      """WITH y95 AS (SELECT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995),
        |y96 AS (SELECT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996),
        |i AS (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96),
        |e AS (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96),
        |ia AS (SELECT o_custkey, CAST(count(*) AS BIGINT) m FROM
        |        (SELECT o_custkey FROM y95 INTERSECT ALL SELECT o_custkey FROM y96) GROUP BY 1),
        |ea AS (SELECT o_custkey, CAST(count(*) AS BIGINT) m FROM
        |        (SELECT o_custkey FROM y95 EXCEPT ALL SELECT o_custkey FROM y96) GROUP BY 1)
        |SELECT o_custkey, 'intersect' AS op, CAST(1 AS BIGINT) AS multiplicity FROM i
        |UNION ALL SELECT o_custkey, 'except', 1 FROM e
        |UNION ALL SELECT o_custkey, 'intersect_all', m FROM ia
        |UNION ALL SELECT o_custkey, 'except_all', m FROM ea""".stripMargin,
    "q208_winsorize" ->
      """WITH base AS (SELECT event_type g, event_id id, CAST(floor(value*100) AS BIGINT) v
        |              FROM events WHERE value IS NOT NULL),
        |nn AS (SELECT g, count(*) AS n FROM base GROUP BY 1),
        |h AS (SELECT g, v, count(*) c FROM base GROUP BY 1, 2),
        |cumt AS (SELECT g, v, c, sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) cum FROM h),
        |fen AS (SELECT c.g,
        |   min(CASE WHEN c.cum >= (50*nn.n+999)//1000 THEN c.v END) AS lo,
        |   min(CASE WHEN c.cum >= (950*nn.n+999)//1000 THEN c.v END) AS hi
        | FROM cumt c JOIN nn ON nn.g = c.g GROUP BY 1)
        |SELECT b.g AS event_type, b.id AS event_id, b.v AS vc,
        |  CASE WHEN b.v < lo THEN lo WHEN b.v > hi THEN hi ELSE b.v END AS winsorized,
        |  CAST(CASE WHEN b.v < lo OR b.v > hi THEN 1 ELSE 0 END AS BIGINT) AS clipped
        |FROM base b JOIN fen ON fen.g = b.g""".stripMargin,
    "q206_profile" ->
      """WITH src AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |       CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderpriority END AS prio
        |     FROM orders),
        |L AS (
        | SELECT 'o_orderkey' AS "column", CAST(o_orderkey AS VARCHAR) AS val FROM src
        | UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM src
        | UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM src
        | UNION ALL SELECT 'prio', prio FROM src),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM src),
        |nn AS (SELECT "column", CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
        |       FROM L GROUP BY 1),
        |mm AS (SELECT 'o_orderkey' AS "column", CAST(min(o_orderkey) AS VARCHAR) AS min_value,
        |         CAST(max(o_orderkey) AS VARCHAR) AS max_value FROM src
        |  UNION ALL SELECT 'o_custkey', CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM src
        |  UNION ALL SELECT 'o_orderstatus', min(o_orderstatus), max(o_orderstatus) FROM src
        |  UNION ALL SELECT 'prio', min(prio), max(prio) FROM src),
        |h AS (SELECT "column", val, count(*) AS cnt FROM L WHERE val IS NOT NULL GROUP BY 1, 2),
        |sh AS (SELECT "column", CAST(count(*) AS BIGINT) AS n_distinct,
        |         first(val ORDER BY cnt DESC, val DESC) AS top_value,
        |         CAST(max(cnt) AS BIGINT) AS top_count
        |       FROM h GROUP BY 1)
        |SELECT nn."column", tot.n, nn.n_null, coalesce(sh.n_distinct, 0) AS n_distinct,
        |  mm.min_value, mm.max_value, sh.top_value, sh.top_count
        |FROM nn JOIN mm ON mm."column" = nn."column"
        |LEFT JOIN sh ON sh."column" = nn."column", tot""".stripMargin,
    "q205_quantile_norm" ->
      """WITH base AS (SELECT event_type g, event_id id, CAST(floor(value*100) AS BIGINT) v
        |              FROM events WHERE value IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY g ORDER BY v, id) rk,
        |        count(*) OVER (PARTITION BY g) n FROM base),
        |rr AS (SELECT g, id, v, (1000*rk + n - 1)//n AS pm FROM r),
        |h AS (SELECT v, count(*) c FROM base GROUP BY 1),
        |cumt AS (SELECT v, c, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) cum FROM h),
        |nt AS (SELECT count(*) AS N FROM base),
        |pms AS (SELECT pm, (pm*N + 999)//1000 AS need FROM range(1,1001) t(pm), nt),
        |qmap AS (SELECT pm, v AS normalized FROM cumt JOIN pms ON cum - c < need AND need <= cum)
        |SELECT rr.g AS event_type, rr.id AS event_id, rr.v AS vc,
        |  CAST(rr.pm AS BIGINT) AS pm, qmap.normalized
        |FROM rr JOIN qmap USING (pm)""".stripMargin,
    "q204_time_travel" ->
      """WITH log AS (SELECT o_custkey AS custkey, o_orderkey AS v,
        |  CASE WHEN o_orderkey % 11 = 0 THEN 'remove' ELSE 'add' END AS op,
        |  o_orderstatus AS status, CAST(floor(o_totalprice*100) AS BIGINT) AS total_c
        | FROM orders),
        |s AS (SELECT custkey, arg_max(op, v) AS op, CAST(max(v) AS BIGINT) AS last_version,
        |        arg_max(status, v) AS status, arg_max(total_c, v) AS total_c
        |      FROM log WHERE v <= 4000 GROUP BY custkey)
        |SELECT custkey, last_version, status, total_c FROM s WHERE op = 'add'""".stripMargin,
    "q201_assoc_rules" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey % 50 AS item FROM lineitem),
        |nb AS (SELECT count(DISTINCT bk) AS n FROM it),
        |ic AS (SELECT item, count(*) AS cnt FROM it GROUP BY 1),
        |pc AS (SELECT a.item AS x, b.item AS y, count(*) AS np
        |       FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item GROUP BY 1, 2),
        |rules AS (
        |  SELECT x AS ante, y AS cons, np FROM pc WHERE 1000*np >= 6*(SELECT n FROM nb)
        |  UNION ALL
        |  SELECT y, x, np FROM pc WHERE 1000*np >= 6*(SELECT n FROM nb))
        |SELECT r.ante, r.cons, CAST(r.np AS BIGINT) AS n_pair,
        |  CAST((1000 * r.np) // nb.n AS BIGINT) AS support_pm,
        |  CAST((1000 * r.np) // ia.cnt AS BIGINT) AS confidence_pm,
        |  CAST((1000000 * r.np * nb.n) // (ia.cnt * ic2.cnt) AS BIGINT) AS lift_ppm
        |FROM rules r JOIN ic ia ON ia.item = r.ante
        |JOIN ic ic2 ON ic2.item = r.cons, nb""".stripMargin,
    "q202_hierarchy" ->
      """WITH RECURSIVE anc AS (
        |  SELECT doc_id AS node, doc_id // 2 AS ancestor, 1 AS depth
        |  FROM documents WHERE doc_id >= 1
        |  UNION ALL
        |  SELECT node, ancestor // 2, depth + 1 FROM anc WHERE ancestor >= 1)
        |SELECT node, CAST(ancestor AS BIGINT) AS ancestor,
        |  CAST(depth AS INT) AS depth FROM anc""".stripMargin,
    "q203_chi2" ->
      """WITH t AS (SELECT user_id % 2 = 0 AS g, event_type = 'purchase' AS y FROM events),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(CASE WHEN g AND y THEN 1 ELSE 0 END) AS HUGEINT) AS a,
        |             CAST(sum(CASE WHEN g AND NOT y THEN 1 ELSE 0 END) AS HUGEINT) AS b,
        |             CAST(sum(CASE WHEN NOT g AND y THEN 1 ELSE 0 END) AS HUGEINT) AS c2,
        |             CAST(sum(CASE WHEN NOT g AND NOT y THEN 1 ELSE 0 END) AS HUGEINT) AS d FROM t)
        |SELECT n, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        |  CAST(c2 AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
        |  CAST(CASE WHEN (a+b)*(c2+d) = 0 OR (a+c2)*(b+d) = 0 THEN NULL
        |   ELSE (1000 * n * (a*d - b*c2) * (a*d - b*c2)) // ((a+b)*(c2+d)*(a+c2)*(b+d))
        |   END AS BIGINT) AS chi2_milli
        |FROM c""".stripMargin,
    "q198_auc" ->
      """WITH s AS (SELECT CAST(floor(value*100) AS BIGINT) +
        |             CASE WHEN event_type='purchase' THEN 2000 ELSE 0 END AS s,
        |           event_type='purchase' AS y FROM events),
        |g AS (SELECT s, count(*) AS c, sum(CASE WHEN y THEN 1 ELSE 0 END) AS p FROM s GROUP BY 1),
        |w AS (SELECT *, sum(c) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) - c AS cb FROM g)
        |SELECT CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(c-p) AS BIGINT) AS n_neg,
        |  CAST((1000000 * (sum(p*(2*cb + c + 1)) - sum(p)*(sum(p)+1)))
        |       // (2*sum(p)*sum(c-p)) AS BIGINT) AS auc_ppm
        |FROM w""".stripMargin,
    "q199_calibration" ->
      """WITH s AS (SELECT least(999999, CAST(floor(value*100) AS BIGINT)*20) AS s,
        |                  event_type='purchase' AS y FROM events)
        |SELECT s//100000 AS bucket, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(s)//count(*) AS BIGINT) AS mean_score_ppm,
        |  CAST((1000000*sum(CASE WHEN y THEN 1 ELSE 0 END))//count(*) AS BIGINT) AS rate_ppm
        |FROM s GROUP BY 1""".stripMargin,
    "q196_triangles" ->
      """WITH o AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
        |e AS (SELECT a.s AS x, b.s AS y FROM o a JOIN o b ON a.ok = b.ok AND a.s < b.s
        |      GROUP BY 1, 2 HAVING count(*) >= 25),
        |d AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        |        SELECT x AS node FROM e UNION ALL SELECT y FROM e) GROUP BY 1),
        |t AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
        |      FROM e e1 JOIN e e2 ON e2.x = e1.y
        |      JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
        |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
        |        SELECT a AS node FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t)
        |       GROUP BY 1)
        |SELECT d.node, d.degree, coalesce(pn.triangles, 0) AS triangles,
        |  CASE WHEN d.degree < 2 THEN 0
        |       ELSE (2000 * coalesce(pn.triangles, 0)) // (d.degree * (d.degree - 1)) END AS cc_permille
        |FROM d LEFT JOIN pn ON pn.node = d.node""".stripMargin,
    "q194_attribution" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id, event_type FROM events),
        |t AS (SELECT * FROM e WHERE event_type IN ('view','click')),
        |c AS (SELECT user_id, ts AS cts, event_id AS cid FROM e WHERE event_type = 'purchase'),
        |a0 AS (SELECT t.user_id, t.ts, t.event_id, t.event_type, c.cts, c.cid,
        |        row_number() OVER (PARTITION BY t.user_id, t.ts, t.event_id
        |                           ORDER BY c.cts, c.cid) AS rn
        |       FROM t JOIN c ON c.user_id = t.user_id
        |        AND c.cts > t.ts AND c.cts <= t.ts + 86400000000),
        |g AS (SELECT *, count(*) OVER (PARTITION BY user_id, cts, cid) AS n,
        |        row_number() OVER (PARTITION BY user_id, cts, cid ORDER BY ts, event_id) AS rf,
        |        row_number() OVER (PARTITION BY user_id, cts, cid ORDER BY ts DESC, event_id DESC) AS rl
        |      FROM a0 WHERE rn = 1)
        |SELECT event_type AS touch_type, CAST(count(*) AS BIGINT) AS n_touches,
        |  CAST(sum(CASE WHEN rf=1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
        |  CAST(sum(CASE WHEN rl=1 THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
        |  CAST(sum(1000000 // n) AS BIGINT) AS linear_micro
        |FROM g GROUP BY 1""".stripMargin,
    "q193_trend" ->
      """WITH e AS (SELECT event_type AS g, epoch_us(ts) // 1000000 AS xs,
        |             CAST(floor(value*100) AS BIGINT) AS y
        |           FROM events WHERE value IS NOT NULL),
        |m AS (SELECT g, min(xs) AS mn FROM e GROUP BY 1),
        |r AS (SELECT e.g, CAST(e.xs - m.mn AS HUGEINT) AS x,
        |        CAST(e.y AS HUGEINT) AS y FROM e JOIN m ON m.g = e.g),
        |s AS (SELECT g, CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
        |        sum(y) AS sy, sum(x*x) AS sxx, sum(x*y) AS sxy
        |      FROM r GROUP BY 1)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
        |  CAST(((n*sxy - sx*sy) * 86400000000) // (n*sxx - sx*sx) AS BIGINT) AS slope_ucents_day
        |FROM s""".stripMargin,
    "q192_rolling_range" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts,
        |             CAST(floor(value*100) AS BIGINT) AS vc FROM events)
        |SELECT user_id, event_id, ts,
        |  CAST(count(*) OVER w AS BIGINT) AS n_7d,
        |  CAST(sum(vc) OVER w AS BIGINT) AS sum_7d
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q191_golden_record" ->
      """WITH src AS (
        |  SELECT c_custkey, 1 AS rnk,
        |    CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_name END AS name,
        |    CAST(NULL AS DOUBLE) AS acctbal, c_mktsegment AS segment
        |  FROM customer
        |  UNION ALL SELECT c_custkey, 2, c_name || '_x',
        |    CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_acctbal END, NULL
        |  FROM customer
        |  UNION ALL SELECT c_custkey, 3, NULL, c_acctbal + 1.0, 'FALLBACK'
        |  FROM customer)
        |SELECT c_custkey,
        |  first(name ORDER BY rnk) FILTER (WHERE name IS NOT NULL) AS name,
        |  first(acctbal ORDER BY rnk) FILTER (WHERE acctbal IS NOT NULL) AS acctbal,
        |  first(segment ORDER BY rnk) FILTER (WHERE segment IS NOT NULL) AS segment
        |FROM src GROUP BY c_custkey""".stripMargin,
    "q190_stream_ivm" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(sum(CAST(floor(value*100) AS BIGINT)) AS DECIMAL(38,6)) AS DOUBLE) AS sum_vc
        |FROM events WHERE user_id % 5 <> 0 GROUP BY 1""".stripMargin,
    "q188_partition_prune" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_vc,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events WHERE event_type IN ('purchase', 'error')
        |GROUP BY 1""".stripMargin,
    "q189_category_drift" ->
      """WITH a AS (SELECT lang, count(*) AS n_a FROM documents
        |           WHERE doc_id % 2 = 0 GROUP BY 1),
        |b AS (SELECT lang, count(*) AS n_b FROM documents
        |      WHERE doc_id % 2 = 1 AND lang <> 'de' GROUP BY 1),
        |j AS (SELECT coalesce(a.lang, b.lang) AS lang,
        |        coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |      FROM a FULL OUTER JOIN b ON b.lang = a.lang),
        |t AS (SELECT sum(n_a) AS wa, sum(n_b) AS wb FROM j)
        |SELECT lang, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(1000 * n_a // t.wa AS BIGINT) AS share_a_pm,
        |  CAST(1000 * n_b // t.wb AS BIGINT) AS share_b_pm,
        |  CAST(abs(1000 * n_a // t.wa - 1000 * n_b // t.wb) AS BIGINT) AS delta_pm
        |FROM j, t""".stripMargin,
    "q185_scd2_enrich" ->
      """WITH ch AS (SELECT o_custkey AS custkey,
        |              CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS ts,
        |              o_orderkey AS seq, o_orderstatus AS status
        |            FROM orders WHERE o_custkey < 200),
        |v AS (SELECT custkey, ts, max_by(status, seq) AS status FROM ch GROUP BY 1, 2),
        |dd AS (SELECT *, lag(status) OVER (PARTITION BY custkey ORDER BY ts) AS prev FROM v),
        |kept AS (SELECT custkey, ts, status FROM dd WHERE prev IS NULL OR status <> prev),
        |h0 AS (SELECT custkey, status, ts AS valid_from,
        |        lead(ts) OVER (PARTITION BY custkey ORDER BY ts) - 1 AS valid_to FROM kept),
        |hist AS (SELECT custkey, status, valid_from,
        |  coalesce(valid_to, 9223372036854775807) AS valid_to FROM h0),
        |ord AS (SELECT o_orderkey, o_custkey AS custkey,
        |          CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day
        |        FROM orders WHERE o_custkey < 200)
        |SELECT o.o_orderkey, o.custkey, o.day, h.status AS dim_status
        |FROM ord o JOIN hist h ON h.custkey = o.custkey
        |  AND o.day BETWEEN h.valid_from AND h.valid_to""".stripMargin,
    "q186_weighted_quantiles" ->
      """WITH w AS (SELECT CAST(l_quantity AS BIGINT) AS v,
        |             CAST(floor(l_extendedprice*100) AS BIGINT) AS wt
        |           FROM lineitem WHERE l_quantity IS NOT NULL
        |             AND l_extendedprice IS NOT NULL AND floor(l_extendedprice*100) > 0),
        |c AS (SELECT v, sum(wt) AS cw FROM w GROUP BY 1),
        |cum AS (SELECT v, sum(cw) OVER (ORDER BY v) AS cum FROM c),
        |t AS (SELECT sum(cw) AS n FROM c)
        |SELECT lab AS label, min(v) AS q FROM cum, t,
        | (SELECT unnest(['p25','p50','p75','p90']) AS lab,
        |         unnest([250, 500, 750, 900]) AS pm) p
        |WHERE cum >= (pm * t.n + 999) // 1000
        |GROUP BY lab""".stripMargin,
    "q187_ohlc" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts,
        |             CAST(floor(value*100) AS BIGINT) AS vc
        |           FROM events WHERE value IS NOT NULL)
        |SELECT event_type, ts // 86400000000 AS period,
        |  first(vc ORDER BY ts, event_id) AS open,
        |  max(vc) AS high, min(vc) AS low,
        |  last(vc ORDER BY ts, event_id) AS close,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM e GROUP BY 1, 2""".stripMargin,
    "q182_twap" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts,
        |             CAST(floor(value*100) AS BIGINT) AS vc
        |           FROM events WHERE value IS NOT NULL),
        |d AS (SELECT *, ts // 86400000000 AS day FROM e),
        |l AS (SELECT *, lead(ts) OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS next_ts FROM d),
        |g AS (SELECT event_type, day, vc,
        |        coalesce(next_ts, (day+1)*86400000000) - ts AS dt FROM l)
        |SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(vc AS HUGEINT) * dt) // sum(dt) AS BIGINT) AS twap_c,
        |  CAST(sum(dt) AS BIGINT) AS den
        |FROM g GROUP BY 1, 2""".stripMargin,
    "q183_sliding_hll" ->
      """WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hr,
        |             ('0x'||substring(md5(user_id::VARCHAR),1,15))::BIGINT AS hv
        |           FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT hr, hv % 64 AS bucket,
        |        CASE WHEN hv // 64 = 0 THEN 55 ELSE 55 - length(bin(hv // 64)) END AS rho FROM h),
        |reg AS (SELECT hr, bucket, max(rho) AS r FROM r GROUP BY 1, 2),
        |win AS (SELECT hr + k AS w, bucket, r FROM reg CROSS JOIN (SELECT unnest(range(0, 6)) AS k) s),
        |wreg AS (SELECT w, bucket, max(r) AS r FROM win GROUP BY 1, 2)
        |SELECT w, CAST(count(*) AS INT) AS n_buckets,
        |  CAST(sum(1::HUGEINT << (55 - r)) + (64 - count(*)) * (1::HUGEINT << 55) AS BIGINT) AS denom_units
        |FROM wreg GROUP BY 1""".stripMargin,
    "q178_discretize" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents WHERE n_chars IS NOT NULL),
        |c AS (SELECT n_chars AS v, count(*) AS cnt FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM c),
        |b AS (SELECT i, (SELECT min(v) FROM cum, n WHERE cum >= (i * 125 * n.n + 999) // 1000) AS boundary
        |      FROM (SELECT unnest(range(1, 8)) AS i))
        |SELECT d.doc_id, d.n_chars,
        |  CAST((SELECT count(*) FROM b WHERE b.boundary < d.n_chars) AS INT) AS bucket
        |FROM documents d""".stripMargin,
    "q179_outliers" ->
      """WITH e AS (SELECT event_type AS g, CAST(floor(value*100) AS BIGINT) AS v
        |           FROM events WHERE value IS NOT NULL),
        |c AS (SELECT g, v, count(*) AS cnt FROM e GROUP BY 1, 2),
        |cum AS (SELECT g, v, sum(cnt) OVER (PARTITION BY g ORDER BY v) AS cum FROM c),
        |t AS (SELECT g, sum(cnt) AS n FROM c GROUP BY 1),
        |q AS (SELECT cum.g,
        |  min(v) FILTER (WHERE cum >= (250*t.n+999)//1000) AS q1,
        |  min(v) FILTER (WHERE cum >= (500*t.n+999)//1000) AS med,
        |  min(v) FILTER (WHERE cum >= (750*t.n+999)//1000) AS q3
        |  FROM cum JOIN t ON t.g = cum.g GROUP BY 1)
        |SELECT e.g AS event_type, CAST(count(*) AS BIGINT) AS n, q.q1, q.med, q.q3,
        |  CAST(count(*) FILTER (WHERE 2*e.v < 2*q.q1 - 3*(q.q3-q.q1)
        |                           OR 2*e.v > 2*q.q3 + 3*(q.q3-q.q1)) AS BIGINT) AS n_outliers
        |FROM e JOIN q ON q.g = e.g GROUP BY 1, q.q1, q.med, q.q3""".stripMargin,
    "q180_cm_join_size" ->
      """WITH ra AS (SELECT i, ('0x' || substring(md5(i::VARCHAR || ':' || l_orderkey::VARCHAR),1,15))::BIGINT % 65536 AS bucket,
        |              CAST(count(*) AS BIGINT) AS cnt
        |            FROM lineitem CROSS JOIN (SELECT unnest([0,1,2]) AS i) s GROUP BY 1, 2),
        |rb AS (SELECT i, ('0x' || substring(md5(i::VARCHAR || ':' || o_orderkey::VARCHAR),1,15))::BIGINT % 65536 AS bucket,
        |              CAST(count(*) AS BIGINT) AS cnt
        |            FROM orders CROSS JOIN (SELECT unnest([0,1,2]) AS i) s GROUP BY 1, 2),
        |d AS (SELECT ra.i, CAST(sum(ra.cnt * rb.cnt) AS BIGINT) AS dot
        |      FROM ra JOIN rb ON rb.i = ra.i AND rb.bucket = ra.bucket GROUP BY 1)
        |SELECT CAST(i AS INT) AS row, dot, (SELECT min(dot) FROM d) AS est FROM d""".stripMargin,
    "q181_scd2_audit" ->
      """WITH ch AS (SELECT o_custkey AS custkey,
        |              CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS ts,
        |              o_orderkey AS seq, o_orderstatus AS status
        |            FROM orders WHERE o_custkey < 200),
        |v AS (SELECT custkey, ts, max_by(status, seq) AS status FROM ch GROUP BY 1, 2),
        |dd AS (SELECT *, lag(status) OVER (PARTITION BY custkey ORDER BY ts) AS prev FROM v),
        |kept AS (SELECT custkey, ts, status FROM dd WHERE prev IS NULL OR status <> prev),
        |h0 AS (SELECT custkey, status, ts AS valid_from,
        |        lead(ts) OVER (PARTITION BY custkey ORDER BY ts) - 1 AS valid_to FROM kept),
        |hist AS (SELECT custkey, status, valid_from,
        |  coalesce(valid_to, 9223372036854775807) AS valid_to,
        |  CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT) AS is_current FROM h0),
        |corrupt AS (
        |  SELECT custkey, status, valid_from,
        |    CASE WHEN custkey % 10 = 7 AND is_current = 1 THEN valid_from - 1
        |         WHEN custkey % 10 = 3 AND is_current = 0 THEN valid_to + 1
        |         WHEN custkey % 10 = 5 AND is_current = 0 THEN valid_to - 1
        |         ELSE valid_to END AS valid_to, is_current
        |  FROM hist
        |  UNION ALL SELECT custkey, status, valid_from, valid_to, is_current
        |  FROM hist WHERE custkey % 10 = 1 AND is_current = 1),
        |lg AS (SELECT *, lag(valid_to) OVER (PARTITION BY custkey ORDER BY valid_from) AS prev_to FROM corrupt),
        |rowc AS (SELECT
        |  CAST(count(*) FILTER (WHERE valid_to < valid_from) AS BIGINT) AS inverted,
        |  CAST(count(*) FILTER (WHERE prev_to IS NOT NULL AND valid_from <= prev_to) AS BIGINT) AS overlap,
        |  CAST(count(*) FILTER (WHERE prev_to IS NOT NULL AND valid_from - 1 > prev_to) AS BIGINT) AS gap
        |  FROM lg),
        |pk AS (SELECT custkey, sum(is_current) AS ncur, max(valid_to) AS maxto,
        |         max(CASE WHEN is_current = 1 THEN valid_to END) AS curto
        |       FROM corrupt GROUP BY 1),
        |cur AS (SELECT CAST(count(*) FILTER (WHERE ncur <> 1 OR curto IS NULL
        |          OR curto <> maxto OR curto <> 9223372036854775807) AS BIGINT) AS current_marker FROM pk),
        |rep AS (SELECT 'inverted' AS rule, inverted AS n_violations FROM rowc
        |  UNION ALL SELECT 'overlap', overlap FROM rowc
        |  UNION ALL SELECT 'gap', gap FROM rowc
        |  UNION ALL SELECT 'current_marker', current_marker FROM cur)
        |SELECT rule, n_violations,
        |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
        |FROM rep""".stripMargin,
    "q174_dq_constraints" ->
      """WITH slice AS (SELECT * FROM lineitem WHERE l_orderkey % 499 = 0 AND l_linenumber = 1),
        |base AS (
        |  SELECT * FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, -1.0, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate FROM slice
        |  UNION ALL SELECT -l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, 'X', l_linestatus, l_shipdate FROM slice
        |  UNION ALL SELECT -l_orderkey - 1000000000, l_partkey, NULL, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate FROM slice),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM base),
        |rep AS (
        |  SELECT 'not_null' AS rule, 'l_suppkey' AS target, n.n_rows,
        |         (SELECT CAST(count(*) FILTER (WHERE l_suppkey IS NULL) AS BIGINT) FROM base) AS n_violations FROM n
        |  UNION ALL SELECT 'in_range', 'l_quantity', n.n_rows,
        |         (SELECT CAST(count(*) FILTER (WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50) AS BIGINT) FROM base) FROM n
        |  UNION ALL SELECT 'in_set', 'l_returnflag', n.n_rows,
        |         (SELECT CAST(count(*) FILTER (WHERE l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R')) AS BIGINT) FROM base) FROM n
        |  UNION ALL SELECT 'satisfies', 'price_positive', n.n_rows,
        |         (SELECT CAST(count(*) FILTER (WHERE NOT (l_extendedprice > 0)) AS BIGINT) FROM base) FROM n
        |  UNION ALL SELECT 'unique', 'l_orderkey,l_linenumber', n.n_rows,
        |         (SELECT CAST(coalesce(sum(cnt) FILTER (WHERE cnt > 1), 0) AS BIGINT)
        |          FROM (SELECT count(*) AS cnt FROM base GROUP BY l_orderkey, l_linenumber)) FROM n
        |  UNION ALL SELECT 'min_group_size', 'l_returnflag,l_linestatus>=1000', n.n_rows,
        |         (SELECT CAST(coalesce(sum(cnt) FILTER (WHERE cnt < 1000), 0) AS BIGINT)
        |          FROM (SELECT count(*) AS cnt FROM base GROUP BY l_returnflag, l_linestatus)) FROM n
        |  UNION ALL SELECT 'foreign_key', 'l_orderkey', n.n_rows,
        |         (SELECT CAST(count(*) AS BIGINT) FROM base b LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |          ON b.l_orderkey = o.o_orderkey WHERE b.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL) FROM n
        |  UNION ALL SELECT 'foreign_key', 'l_partkey', n.n_rows,
        |         (SELECT CAST(count(*) AS BIGINT) FROM base b LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
        |          ON b.l_partkey = p.p_partkey WHERE b.l_partkey IS NOT NULL AND p.p_partkey IS NULL) FROM n)
        |SELECT rule, target, n_rows, n_violations,
        |       CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
        |FROM rep""".stripMargin,
    "q175_ivm_agg" ->
      """WITH eff AS (
        |  SELECT * FROM lineitem
        |  WHERE l_shipdate < TIMESTAMP '1998-01-01' AND l_orderkey % 7 <> 0
        |  UNION ALL SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01')
        |SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_qty
        |FROM eff GROUP BY 1""".stripMargin,
    "q176_kmv_sketch" ->
      """WITH h AS (SELECT lang, doc_id % 3 AS m,
        |             ('0x' || substring(md5(text), 1, 15))::BIGINT AS h
        |           FROM documents WHERE text IS NOT NULL),
        |da AS (SELECT DISTINCT lang, h FROM h WHERE m IN (0, 1)),
        |db AS (SELECT DISTINCT lang, h FROM h WHERE m IN (1, 2)),
        |ra AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM da),
        |rb AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM db),
        |ka AS (SELECT lang, CAST(count(*) AS INT) AS k_used_a, max(h) AS kth_a FROM ra WHERE rn <= 64 GROUP BY 1),
        |kb AS (SELECT lang, CAST(count(*) AS INT) AS k_used_b, max(h) AS kth_b FROM rb WHERE rn <= 64 GROUP BY 1),
        |uu AS (SELECT lang, h, max(a) AS ina, max(b) AS inb
        |       FROM (SELECT lang, h, 1 AS a, 0 AS b FROM da
        |             UNION ALL SELECT lang, h, 0, 1 FROM db) GROUP BY 1, 2),
        |ur AS (SELECT lang, h, ina, inb, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM uu),
        |ku AS (SELECT lang, CAST(count(*) AS INT) AS k_used_u,
        |         CAST(count(*) FILTER (WHERE ina = 1 AND inb = 1) AS BIGINT) AS n_common
        |       FROM ur WHERE rn <= 64 GROUP BY 1)
        |SELECT ka.lang, k_used_a, kth_a, k_used_b, kth_b, k_used_u, n_common,
        |       (1000 * n_common) // k_used_u AS jacc_permille
        |FROM ka JOIN kb ON kb.lang = ka.lang JOIN ku ON ku.lang = ka.lang""".stripMargin,
    "q177_record_linkage" ->
      """WITH aug AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
        |  UNION ALL SELECT c_custkey + 1000000, c_name || '~', c_nationkey, c_acctbal + 0.5, c_mktsegment
        |  FROM customer WHERE c_custkey % 97 = 0),
        |p AS (SELECT l.c_custkey AS id_l, r.c_custkey AS id_r,
        |  CAST(CASE WHEN substring(l.c_name, 1, 18) = substring(r.c_name, 1, 18) THEN 1 ELSE 0 END AS INT) AS agree_c_name_pfx18,
        |  CAST(CASE WHEN l.c_name = r.c_name THEN 1 ELSE 0 END AS INT) AS agree_c_name,
        |  CAST(CASE WHEN abs(l.c_acctbal - r.c_acctbal) <= 1.0 THEN 1 ELSE 0 END AS INT) AS agree_c_acctbal_tol
        |  FROM aug l JOIN aug r ON l.c_nationkey = r.c_nationkey
        |    AND l.c_mktsegment = r.c_mktsegment
        |    AND (l.c_custkey % 1000000) // 1000 = (r.c_custkey % 1000000) // 1000
        |    AND l.c_custkey < r.c_custkey),
        |s AS (SELECT *, CAST(CASE WHEN agree_c_name_pfx18 = 1 THEN 30 ELSE -10 END
        |            + CASE WHEN agree_c_name = 1 THEN 20 ELSE -5 END
        |            + CASE WHEN agree_c_acctbal_tol = 1 THEN 15 ELSE -15 END AS BIGINT) AS score FROM p)
        |SELECT id_l, id_r, agree_c_name_pfx18, agree_c_name, agree_c_acctbal_tol, score,
        |  CASE WHEN score >= 35 THEN 'match' WHEN score >= 10 THEN 'possible' ELSE 'non_match' END AS verdict
        |FROM s WHERE score >= 10""".stripMargin,
    "q160_sliding_window" ->
      """WITH e AS (SELECT epoch_us(ts) AS ts, event_type, value FROM events),
        |w AS (SELECT (ts // 1800000000) * 1800000000 - k * 1800000000 AS ws,
        |             event_type, value
        |      FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k) s)
        |SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2""".stripMargin,
    "q168_seq_match" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type FROM events),
        |l1 AS (SELECT DISTINCT user_id, ts FROM e WHERE event_type = 'view'),
        |l2 AS (SELECT DISTINCT b.user_id, b.ts FROM e b
        |       WHERE b.event_type = 'click' AND EXISTS (
        |         SELECT 1 FROM l1 p WHERE p.user_id = b.user_id
        |           AND p.ts <= b.ts AND p.ts >= b.ts - 21600000000)),
        |l3 AS (SELECT DISTINCT c.user_id, c.ts FROM e c
        |       WHERE c.event_type = 'purchase' AND EXISTS (
        |         SELECT 1 FROM l2 p WHERE p.user_id = c.user_id
        |           AND p.ts <= c.ts AND p.ts >= c.ts - 21600000000))
        |SELECT user_id, min(ts) AS first_complete_ts FROM l3 GROUP BY 1""".stripMargin,
    "q169_seq_noevent" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type FROM events),
        |b AS (SELECT user_id, ts AS tb FROM e WHERE event_type = 'purchase'),
        |wa AS (SELECT b.user_id, b.tb, max(a.ts) AS ta
        |       FROM b JOIN e a ON a.user_id = b.user_id AND a.event_type = 'view'
        |        AND a.ts <= b.tb AND a.ts >= b.tb - 21600000000
        |       GROUP BY 1, 2),
        |lf AS (SELECT b.user_id, b.tb, max(CASE WHEN f.ts < b.tb THEN f.ts END) AS tfl
        |       FROM b LEFT JOIN e f ON f.user_id = b.user_id AND f.event_type = 'error'
        |       GROUP BY 1, 2)
        |SELECT wa.user_id, min(wa.tb) AS first_clean_ts
        |FROM wa JOIN lf ON lf.user_id = wa.user_id AND lf.tb = wa.tb
        |WHERE lf.tfl IS NULL OR lf.tfl <= wa.ta
        |GROUP BY 1""".stripMargin,
    "q157_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts FROM events),
        |t1 AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN t1 ON t1.user_id = e.user_id
        |       WHERE e.event_type = 'click' AND e.ts >= t1.t1 AND e.ts <= t1.t1 + 604800000000 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM e JOIN t2 ON t2.user_id = e.user_id JOIN t1 ON t1.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= t2.t2 AND e.ts <= t1.t1 + 604800000000 GROUP BY 1)
        |SELECT t1.user_id,
        |  CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3 WHEN t2.t2 IS NOT NULL THEN 2 ELSE 1 END AS INT) AS level
        |FROM t1 LEFT JOIN t2 ON t2.user_id = t1.user_id LEFT JOIN t3 ON t3.user_id = t1.user_id""".stripMargin,
    "q161_transitions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id, event_type FROM events),
        |x AS (SELECT user_id, event_type AS prev_type,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |      FROM e),
        |c AS (SELECT prev_type, next_type, count(*) AS n
        |      FROM x WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST((1000 * n) // sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p_permille
        |FROM c""".stripMargin,
    "q162_top_paths" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_id, event_type FROM events),
        |r AS (SELECT user_id, event_type,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM e),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 3 GROUP BY user_id)
        |SELECT path, count(*) AS n_users FROM p
        |GROUP BY path ORDER BY n_users DESC, path LIMIT 20""".stripMargin,
    "q163_scd2" ->
      """WITH ch AS (SELECT o_custkey AS custkey,
        |              CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS ts,
        |              o_orderkey AS seq, o_orderstatus AS status
        |            FROM orders WHERE o_custkey < 200),
        |v AS (SELECT custkey, ts, max_by(status, seq) AS status FROM ch GROUP BY 1, 2),
        |d AS (SELECT *, lag(status) OVER (PARTITION BY custkey ORDER BY ts) AS prev FROM v),
        |kept AS (SELECT custkey, ts, status FROM d WHERE prev IS NULL OR status <> prev),
        |h AS (SELECT custkey, status, ts AS valid_from,
        |        lead(ts) OVER (PARTITION BY custkey ORDER BY ts) - 1 AS valid_to FROM kept)
        |SELECT custkey, status, valid_from,
        |  coalesce(valid_to, 9223372036854775807) AS valid_to,
        |  CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
        |FROM h""".stripMargin,
    "q158_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, d FROM e)
        |SELECT f.cohort, a.d - f.cohort AS day_offset, CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN f ON f.user_id = a.user_id GROUP BY 1, 2""".stripMargin,
    "q0_flagship" ->
      """SELECT r.r_name, count(1) AS cnt,
        | CAST(CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
        |      (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4)))
        |      AS DECIMAL(38,6)) AS DOUBLE) AS summa
        |FROM lineitem l
        |JOIN (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        |        FROM orders WHERE o_totalprice > 1000.0) o
        |  ON l.l_orderkey = o.o_orderkey
        |JOIN customer c
        |  ON o.o_custkey = c.c_custkey
        | AND lpad(CAST(c.c_nationkey AS VARCHAR), 3, '0') >= '000'
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE year(o.o_orderdate) >= 1992
        |  AND c.c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |GROUP BY r.r_name""".stripMargin,
    "q39_correlated" ->
      """SELECT c_custkey, c_nationkey, CAST(CAST(c_acctbal AS DECIMAL(38,6)) AS DOUBLE) AS acctbal
        |FROM customer c
        |WHERE CAST(c_acctbal AS DECIMAL(18,4)) > (
        |  SELECT avg(CAST(c2.c_acctbal AS DECIMAL(18,4)))
        |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin,
    "q37_stats" ->
      """SELECT l_returnflag, median(l_quantity) AS med_qty,
        | min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        | count(DISTINCT l_suppkey) AS n_suppliers
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q38_array_funcs" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        | array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], '|') AS first5_sorted,
        | CAST(list_contains(string_split(text, ' '), 'data') AS INT) AS has_data,
        | array_to_string(string_split(text, ' ')[1:3], '|') AS first3
        |FROM documents WHERE doc_id < 100""".stripMargin,
    "q83_zorder" ->
      """WITH st AS (SELECT min(CAST(o_custkey AS DOUBLE)) AS mn_a, max(CAST(o_custkey AS DOUBLE)) AS mx_a,
        |                   min(CAST(o_totalprice AS DOUBLE)) AS mn_b, max(CAST(o_totalprice AS DOUBLE)) AS mx_b
        |            FROM orders),
        |sc AS (SELECT o_orderkey,
        |         CAST(trunc((CAST(o_custkey AS DOUBLE) - mn_a) / (CASE WHEN mx_a > mn_a THEN mx_a - mn_a ELSE 1.0 END) * 65535.0) AS BIGINT) AS a,
        |         CAST(trunc((CAST(o_totalprice AS DOUBLE) - mn_b) / (CASE WHEN mx_b > mn_b THEN mx_b - mn_b ELSE 1.0 END) * 65535.0) AS BIGINT) AS b
        |       FROM orders, st)
        |SELECT o_orderkey,
        |  CAST(list_sum(list_transform(range(0,16), i -> ((a >> i) & 1) << (2*i))) +
        |       list_sum(list_transform(range(0,16), i -> ((b >> i) & 1) << (2*i+1))) AS BIGINT) AS zcode
        |FROM sc""".stripMargin,
    "q63_cube" ->
      """SELECT year(o_orderdate) AS order_year, o_orderstatus, count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (year(o_orderdate), o_orderstatus)""".stripMargin,
    "q35_grouping_sets" ->
      """SELECT event_type, user_id % 10 AS cohort, count(*) AS n,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY GROUPING SETS ((event_type, user_id % 10), (event_type), ())""".stripMargin,
    "q19_windowed_events" ->
      """SELECT strftime(make_timestamp(epoch_ns(ts) // 1000 // 3600000000 * 3600000000),
        |                '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // the STREAMING execution of the same 1-hour tumbling aggregation
    // must reproduce the batch oracle exactly (stream/batch parity)
    "q40_stream_windowed" ->
      """SELECT strftime(make_timestamp(epoch_ns(ts) // 1000 // 3600000000 * 3600000000),
        |                '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q31_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, value, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, value,
        |         CAST(sum(CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM g)
        |SELECT user_id, sess_id, count(*) AS n_events,
        |       min(event_id) AS first_event,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS sess_value
        |FROM s GROUP BY user_id, sess_id""".stripMargin,
    // the TYPED mapGroups execution of the same gap semantics, rolled up
    // per user — must agree with the pure-SQL session computation
    "q42_typed_sessions" ->
      """WITH g AS (
        |  SELECT user_id, event_id, value, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, value,
        |         CAST(sum(CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM g)
        |SELECT user_id, max(sess_id) AS n_sessions, count(*) AS n_events,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id""".stripMargin,
    // the STATEFUL streaming execution: final per-user mapGroupsWithState
    // state after two micro-batches must equal the plain batch aggregate
    // (value pre-quantized to whole numbers — see q44's scaladoc)
    "q44_stateful_sessions" ->
      """SELECT user_id, count(*) AS n_events,
        |       CAST(sum(CAST(floor(COALESCE(value, 0) * 10000) AS BIGINT)) AS BIGINT)
        |         AS total_value
        |FROM events GROUP BY user_id""".stripMargin,
    // native session_window semantics: strictly-inside extends, >= gap splits
    "q50_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events),
        |g AS (
        |  SELECT user_id, event_id, ts_us,
        |         lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) AS prev_us
        |  FROM e),
        |s AS (
        |  SELECT user_id, event_id, ts_us,
        |         CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 1800000000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM g)
        |SELECT user_id, min(ts_us) AS sess_start_us, count(*) AS n_events, min(event_id) AS first_event
        |FROM s GROUP BY user_id, sess_id""".stripMargin,
    // Bloom-pruned semi join must equal the plain IN-subquery
    "q53_bloom_semi" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)""".stripMargin,
    // stream-stream inner join over a finite replay = the batch join
    "q54_stream_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c JOIN events p
        |  ON p.user_id = c.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND epoch_ns(p.ts) // 1000 >= epoch_ns(c.ts) // 1000
        | AND epoch_ns(p.ts) // 1000 <= epoch_ns(c.ts) // 1000 + 86400000000""".stripMargin,
    // stream-static broadcast enrichment = the batch dimension join
    "q60_stream_static_join" ->
      """SELECT e.event_id, e.user_id, e.event_type, n.n_name
        |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey""".stripMargin,
    // streaming dropDuplicates across micro-batches = batch DISTINCT
    "q55_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events""".stripMargin,
    "q56_pivot" ->
      """SELECT year(o_orderdate) AS order_year,
        | count(CASE WHEN o_orderstatus='F' THEN 1 END) AS f_cnt,
        | CAST(CAST(COALESCE(sum(CASE WHEN o_orderstatus='F' THEN CAST(o_totalprice AS DECIMAL(18,4)) END), 0) AS DECIMAL(38,6)) AS DOUBLE) AS f_total,
        | count(CASE WHEN o_orderstatus='O' THEN 1 END) AS o_cnt,
        | CAST(CAST(COALESCE(sum(CASE WHEN o_orderstatus='O' THEN CAST(o_totalprice AS DECIMAL(18,4)) END), 0) AS DECIMAL(38,6)) AS DOUBLE) AS o_total,
        | count(CASE WHEN o_orderstatus='P' THEN 1 END) AS p_cnt,
        | CAST(CAST(COALESCE(sum(CASE WHEN o_orderstatus='P' THEN CAST(o_totalprice AS DECIMAL(18,4)) END), 0) AS DECIMAL(38,6)) AS DOUBLE) AS p_total
        |FROM orders GROUP BY 1""".stripMargin,
    // discrete-selection percentiles: same window + index formulas
    "q57_percentile" ->
      """WITH j AS (
        |  SELECT c.c_mktsegment, o.o_totalprice, o.o_orderkey
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |r AS (
        |  SELECT c_mktsegment, o_totalprice,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
        |         count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM j)
        |SELECT c_mktsegment,
        |       max(CASE WHEN rn = (n+1)//2 THEN o_totalprice END) AS median_price,
        |       max(CASE WHEN rn = (9*n+9)//10 THEN o_totalprice END) AS p90_price
        |FROM r GROUP BY c_mktsegment""".stripMargin,
    // binned interval-overlap join vs the plain double-inequality join
    "q58_interval_overlap" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |         CAST(min(date_diff('day', DATE '1995-01-01', o_orderdate)) AS BIGINT) AS c_lo,
        |         CAST(max(date_diff('day', DATE '1995-01-01', o_orderdate)) + 1 AS BIGINT) AS c_hi
        |  FROM orders WHERE o_custkey < 500 GROUP BY o_custkey),
        |win AS (
        |  SELECT CAST(range AS BIGINT) AS win_id,
        |         CAST(range*30 AS BIGINT) AS w_lo,
        |         CAST(range*30+45 AS BIGINT) AS w_hi
        |  FROM range(80))
        |SELECT o_custkey, win_id,
        |       CAST(least(c_hi, w_hi) - greatest(c_lo, w_lo) AS BIGINT) AS overlap_days
        |FROM cust JOIN win ON c_lo < w_hi AND w_lo < c_hi""".stripMargin,
    // unpivot = the UNION ALL it replaces
    "q59_unpivot" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'l_discount', l_discount FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'l_tax', l_tax FROM lineitem""".stripMargin,
    // binned range join vs DuckDB's plain inequality join
    "q47_range_join" ->
      """WITH bands AS (
        |  SELECT CAST(band_id AS BIGINT) AS band_id,
        |         CAST(band_id * 5000 AS DOUBLE) AS lo,
        |         CAST(band_id * 5000 + 12500 AS DOUBLE) AS hi
        |  FROM range(120) t(band_id))
        |SELECT o.o_orderkey, b.band_id, o.o_totalprice
        |FROM orders o JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi""".stripMargin,
    // point-in-time correctness vs DuckDB's NATIVE ASOF JOIN
    "q46_asof_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us
        |  FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS purchase_ts_us, min(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, epoch_ns(ts) // 1000)
        |SELECT c.event_id, c.user_id,
        |       COALESCE(p.purchase_id, -1) AS purchase_id,
        |       COALESCE(p.purchase_ts_us, -1) AS purchase_ts_us
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.ts_us >= p.purchase_ts_us""".stripMargin,
    // the EVENT-TIME stateful streaming execution: every emitted closed
    // session must equal the batch gap-sessionization (gap math on
    // floored epoch-micros, values floor-quantized — see q45's scaladoc)
    "q45_eventtime_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
        |         floor(COALESCE(value, 0) * 10000) AS v
        |  FROM events),
        |g AS (
        |  SELECT user_id, event_id, v, ts_us,
        |         lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) AS prev_us
        |  FROM e),
        |s AS (
        |  SELECT user_id, event_id, v,
        |         CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM g)
        |SELECT user_id, min(event_id) AS first_event, count(*) AS n_events,
        |       CAST(sum(CAST(v AS BIGINT)) AS BIGINT) AS total_value
        |FROM s GROUP BY user_id, sess_id""".stripMargin,
    "q32_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        |       CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    "q15_date_clamp" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderdate - INTERVAL 80 YEAR <= TIMESTAMP '1970-01-01 00:00:00'
        |      THEN '1971-01-01 00:00:00'
        |      WHEN o_orderdate - INTERVAL 80 YEAR >= TIMESTAMP '2106-02-27 01:28:15'
        |      THEN '2106-01-01 00:00:00'
        |      ELSE strftime(o_orderdate - INTERVAL 80 YEAR, '%Y-%m-%d %H:%M:%S') END AS clamped_low,
        | CASE WHEN o_orderdate + INTERVAL 115 YEAR <= TIMESTAMP '1970-01-01 00:00:00'
        |      THEN '1971-01-01 00:00:00'
        |      WHEN o_orderdate + INTERVAL 115 YEAR >= TIMESTAMP '2106-02-27 01:28:15'
        |      THEN '2106-01-01 00:00:00'
        |      ELSE strftime(o_orderdate + INTERVAL 115 YEAR, '%Y-%m-%d %H:%M:%S') END AS clamped_high,
        | strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS untouched
        |FROM orders WHERE o_orderkey % 50 = 0""".stripMargin,
    "q16_window_rank" ->
      """SELECT o_custkey, o_orderkey, CAST(rnk AS INT) AS rnk, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         rank() OVER (PARTITION BY o_custkey
        |                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders) WHERE rnk <= 3""".stripMargin,
    // the bounded-Aggregator execution must match the row_number window
    "q43_topk_agg" ->
      """SELECT o_custkey, o_orderkey, CAST(rnk AS INT) AS rnk, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders) WHERE rnk <= 3""".stripMargin,
    "q17_exists_agg" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin,
    "q18_conditional_agg" ->
      """SELECT l_returnflag,
        | CAST(CAST(sum(CASE WHEN l_discount > 0.05 THEN CAST(l_quantity AS DECIMAL(18,4))
        |               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,6)) AS DOUBLE) AS qty_discounted,
        | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS qty_total,
        | count(CASE WHEN l_tax > 0.04 THEN 1 END) AS high_tax_lines
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_qty,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_base_price,
        | CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_agg" ->
      """SELECT r_name, n_name,
        | CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
        | count(*) AS n_rows
        |FROM lineitem
        | JOIN orders   ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation   ON c_nationkey = n_nationkey
        | JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q3_watermark" ->
      "SELECT max(event_id) AS max_event_id, count(*) AS cnt_rows FROM events",
    "q4_distinct_keys" ->
      "SELECT DISTINCT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber FROM lineitem",
    "q5_anti_notin" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey NOT IN (
        |  SELECT DISTINCT o_orderkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin,
    "q6_bymax_delta" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_id > (SELECT max(event_id) FROM events
        |                  WHERE event_id <= (SELECT max(event_id) * 4 // 5 FROM events))""".stripMargin,
    "q7_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0)""".stripMargin,
    "q8_left_join_cond" ->
      """SELECT c_custkey, count(o_orderkey) AS n_open_orders,
        | CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS open_total
        |FROM customer LEFT JOIN orders
        |  ON c_custkey = o_custkey AND o_orderstatus = 'O' AND o_totalprice > 50000.0
        |GROUP BY c_custkey""".stripMargin,
    "q9_rownum_dedup" ->
      """SELECT user_id, first_event_id, first_event_type FROM (
        |  SELECT user_id, event_id AS first_event_id, event_type AS first_event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "q10_ntile" ->
      """SELECT bucket, count(*) AS bucket_rows, min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM (SELECT o_orderkey, ntile(8) OVER (ORDER BY o_orderkey) AS bucket FROM orders)
        |GROUP BY bucket""".stripMargin,
    "q11_update_merge" ->
      """SELECT s.s_suppkey, s.s_name,
        | CAST(coalesce(u.new_acctbal, CAST(s.s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS s_acctbal
        |FROM supplier s LEFT JOIN (
        |  SELECT s_suppkey,
        |    CAST(CAST(s_acctbal AS DECIMAL(18,4)) * CAST(2 AS DECIMAL(18,4)) AS DECIMAL(38,6)) AS new_acctbal
        |  FROM supplier WHERE s_nationkey = 1) u
        |ON s.s_suppkey = u.s_suppkey""".stripMargin,
    "q12_append_where" ->
      """SELECT p_partkey, p_name, p_size,
        | CAST(CAST(CAST(p_retailprice AS DECIMAL(18,4)) * CAST('0.5' AS DECIMAL(18,4)) AS DECIMAL(38,6)) AS DOUBLE) AS p_retailprice
        |FROM part WHERE NOT coalesce(p_size >= 25, false)
        |UNION ALL
        |SELECT p_partkey, p_name, p_size, CAST(CAST(p_retailprice AS DECIMAL(38,6)) AS DOUBLE) AS p_retailprice
        |FROM part WHERE p_size >= 25""".stripMargin,
    "q13_scalar_funcs" ->
      """SELECT o_orderkey,
        | CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS order_yyyymmdd,
        | CAST(year(o_orderdate) AS INT) AS order_year,
        | lpad(CAST(o_custkey AS VARCHAR), 9, '0') AS cust_padded,
        | o_orderstatus || '-' || o_orderpriority AS status_prio,
        | strftime(CAST('2024-03-01' AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS parsed_ts,
        | coalesce(CASE WHEN o_totalprice > 200000.0 THEN o_orderkey END, 0) AS big_flag
        |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin,
    "q14_expr_join" ->
      """SELECT nkey_pad, n_name, count(*) AS n_customers,
        | CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS total_bal
        |FROM (SELECT lpad(CAST(c_nationkey AS VARCHAR), 3, '0') AS nkey_pad, c_acctbal FROM customer) c
        |JOIN (SELECT lpad(CAST(n_nationkey AS VARCHAR), 3, '0') AS nkey_pad, n_name FROM nation) n
        |USING (nkey_pad)
        |GROUP BY nkey_pad, n_name""".stripMargin
  )
}

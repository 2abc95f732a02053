package graft.streaming

import graft.io.ParquetMeta
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` stream shape
  * (event_id, ts, user_id, event_type, value).
  *
  * The reference has no streaming (SURVEY.md §2.9); this module is the
  * engine's forward-looking stream path, built the Spark-native way:
  * `readStream` → watermark → windowed aggregation → sink, plus
  * `mapGroupsWithState` sessionization for custom state. Batch and stream
  * share the same transform functions (the Dataset API is identical), so
  * every streaming transform is unit-testable against batch frames.
  */
object EventStream {

  /** Shuffle-partition count for STREAMING queries, resolved per stream
    * start (optimization guide §2.2 "fewer, larger reduce partitions"):
    * a stateful micro-batch query creates one state store per shuffle
    * partition and pays its open/commit on EVERY trigger, so inheriting
    * the batch session's `shuffle.partitions = cores` hands each
    * micro-batch `cores` near-empty state stores — measured on the r12
    * driver axis as the streaming gates running FASTER on 8 cores than
    * 32 (q54 low/high ratio 0.51). The right number scales with the
    * per-stream data rate, not the session core count, so it is a
    * separate knob: `spark.graft.stream.shufflePartitions` (production
    * sets it per stream volume; the local default min(cores, 8) keeps
    * fixture-scale state-store overhead bounded while leaving map-side
    * parallelism — which streaming scans take from the file layout, and
    * per-batch heavy work takes from ScanFanout — untouched). A value
    * that is not a positive integer fails with the key and the value. */
  private[graft] def streamShufflePartitions(spark: SparkSession): Int = {
    val key = "spark.graft.stream.shufflePartitions"
    spark.conf.getOption(key).map { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$key must be a positive integer, got '$v'"))
    }.getOrElse(math.min(spark.sparkContext.defaultParallelism, 8))
  }

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to the
    * streaming value, restoring the session value after. A streaming
    * query CLONES the session conf at `start()`, so the pinned value
    * binds only the stream (state-store count, per-batch shuffles);
    * batch work after the stream drains sees the restored session
    * conf. */
  private def withStreamShufflePartitions[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, streamShufflePartitions(spark).toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Event row as read from the stream (ts in epoch-micros UTC). */
  final case class Event(event_id: Long, ts: java.sql.Timestamp,
                         user_id: Long, event_type: String, value: Double)

  final case class SessionSummary(user_id: Long, n_events: Long,
                                  total_value: Double, closed: Boolean)

  /** Tumbling-window per-type aggregation with late-data watermark —
    * the canonical `readStream → withWatermark → window → agg` shape.
    * Works identically on a batch frame (tests) and a stream. */
  def windowedTypeCounts(events: DataFrame,
                         window_ : String = "5 minutes",
                         watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"),
              col("window.end").as("win_end"),
              col("event_type"), col("n"), col("total_value"))

  /** Per-user sessionization via mapGroupsWithState: a session closes
    * after `gapMs` of inactivity (processing-time timeout in streaming;
    * in batch each group arrives complete and closes immediately).
    *
    * `useTimeout = false` runs with NoTimeout: state still accumulates
    * across micro-batches but never wall-clock-closes. REQUIRED when the
    * stream is drained with `processAllAvailable()` (the q44 gate and any
    * finite-replay harness): with ProcessingTimeTimeout Spark's
    * micro-batch engine considers another batch necessary whenever
    * registered timeouts exist (`shouldRunAnotherBatch` is
    * unconditionally true for processing-time timeouts, so the clock can
    * fire them), so it keeps scheduling empty batches and
    * processAllAvailable never observes "no new data" — a livelock, not
    * a slow drain. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 useTimeout: Boolean = true): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (useTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Double), SessionSummary](timeoutConf) {
        case (uid, it, state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            val (n, v) = state.get
            state.remove()
            SessionSummary(uid, n, v, closed = true)
          } else {
            val evs = it.toSeq
            val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
            val n = n0 + evs.size
            val v = v0 + evs.map(_.value).sum
            state.update((n, v))
            if (useTimeout) state.setTimeoutDuration(gapMs)
            SessionSummary(uid, n, v, closed = false)
          }
      }
  }

  /** Event carrying BOTH a watermark-able timestamp and the exact
    * epoch-micros long the session-gap arithmetic runs on (identical
    * integer math in any engine — no sub-ms truncation surprises). */
  final case class EventUs(event_id: Long, ts: java.sql.Timestamp,
                           ts_us: Long, user_id: Long, value: Double)

  /** A closed session: identified by its MIN event id (unique per
    * session since event ids are unique — the q31 `first_event`
    * convention, stable even when the time-first event is not the
    * lowest-id one). */
  final case class ClosedSession(user_id: Long, first_event: Long,
                                 n_events: Long, total_value: Double)

  /** Internal state of [[sessionizeEventTime]] (public only because the
    * state encoder's generated code needs a public constructor). */
  final case class OpenSession(first_event: Long, n: Long,
                               v: Double, last_us: Long)

  /** EVENT-TIME sessionization with deterministic gap closure — the
    * watermark-driven counterpart of [[sessionize]]: a session closes
    * when event time advances `gapUs` past its last event (decided by
    * the DATA and the watermark, never the wall clock), so the emitted
    * session set is exactly the batch gap-sessionization of the input —
    * oracle-checkable (gate query q45), unlike processing-time timeouts.
    *
    * Mechanics: per user, the open session folds in each micro-batch's
    * events in (ts_us, event_id) order; a gap > gapUs closes it inline,
    * and `setTimeoutTimestamp(last + gap)` flushes sessions whose user
    * goes quiet once the WATERMARK passes that point (an
    * EventTimeTimeout — Spark runs the extra empty batch for it when
    * the watermark advances, and stops when it stops: no
    * processAllAvailable livelock). The input must be time-ordered
    * ACROSS micro-batches per user (older file = older events), which
    * the finite-replay fixture guarantees by splitting on a ts midpoint.
    *
    * Emission contract: Append mode; every session is emitted exactly
    * once, when it closes. Sessions still open at end-of-input stay in
    * state — a finite replay appends a far-future sentinel event (its
    * own user) to advance the watermark past every possible timeout. */
  def sessionizeEventTime(events: Dataset[EventUs],
                          gapUs: Long = 30L * 60 * 1000 * 1000,
                          watermarkDelay: String = "10 minutes")
      : Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(uid, s.first_event, s.n, s.v))
          } else {
            val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
            val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
            var open = state.getOption
            evs.foreach { e =>
              open match {
                case Some(s) if e.ts_us - s.last_us > gapUs =>
                  closed += ClosedSession(uid, s.first_event, s.n, s.v)
                  open = Some(OpenSession(e.event_id, 1L, e.value, e.ts_us))
                case Some(s) =>
                  open = Some(OpenSession(math.min(s.first_event, e.event_id),
                    s.n + 1L, s.v + e.value, e.ts_us))
                case None =>
                  open = Some(OpenSession(e.event_id, 1L, e.value, e.ts_us))
              }
            }
            val s = open.get
            state.update(s)
            // flush when the watermark passes the session's gap horizon —
            // clamped above the CURRENT GLOBAL watermark: another user's
            // younger events may have advanced it past this session's
            // horizon already (per-user ordering says nothing about the
            // global clock), and setTimeoutTimestamp throws on a
            // timestamp at or before the watermark. Clamped sessions
            // just flush at the next watermark advance.
            state.setTimeoutTimestamp(
              math.max(s.last_us / 1000 + gapUs / 1000 + 1,
                state.getCurrentWatermarkMs() + 1))
            closed.iterator
          }
      }
  }

  /** A file stream over a parquet directory or single file, with the
    * batch reader's schema (footer metadata: no Spark job). The
    * file-stream source requires a DIRECTORY basePath; a single parquet
    * file (pyarrow-written fixtures) streams from its parent with a glob
    * pinned to the one file. */
  private def parquetStream(spark: SparkSession, sourceDir: String,
                            options: Map[String, String]): DataFrame = {
    val f = new java.io.File(sourceDir)
    val reader = spark.readStream
      .schema(ParquetMeta.read(spark, sourceDir).schema).options(options)
    if (f.isFile) reader.option("pathGlobFilter", f.getName).parquet(f.getParent)
    else reader.parquet(sourceDir)
  }

  /** PRODUCTION sink shape: stream a parquet directory through a
    * stateless/append transform into a parquet SINK with a checkpoint —
    * nothing ever collects to the driver (the memory sink used by the
    * gate harness does), and the checkpoint makes the query resumable
    * exactly-once. Returns after draining available input; the output
    * directory is then a normal table any batch job reads. */
  def runStreamToParquet(spark: SparkSession, sourceDir: String,
                         outDir: String, checkpointDir: String,
                         transform: DataFrame => DataFrame,
                         options: Map[String, String] = Map.empty): Unit = {
    val stream = parquetStream(spark, sourceDir, options)
    withStreamShufflePartitions(spark) {
      val q = transform(stream).writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", checkpointDir)
        .format("parquet").option("path", outDir)
        .start()
      try { q.processAllAvailable() } finally q.stop()
    }
  }

  /** CONTINUOUS-INGEST shape: stream a parquet directory through
    * `foreachBatch`, where each micro-batch runs an arbitrary
    * batch-side action — probe and UPDATE a persisted index, append a
    * sink table — the things a pure streaming sink cannot do. This is
    * how the incremental dedup/decontamination indexes run against a
    * live feed: batch N's admissions are visible to batch N+1 (pinned
    * by the cross-batch spec). Synchronous; `options` as in
    * [[runBatchOfStream]] (maxFilesPerTrigger=1 → one batch per file). */
  def runStreamForeachBatch(spark: SparkSession, sourceDir: String,
                            perBatch: (DataFrame, Long) => Unit,
                            options: Map[String, String] = Map.empty): Unit = {
    val stream = parquetStream(spark, sourceDir, options)
    withStreamShufflePartitions(spark) {
      val q = stream.writeStream
        .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) => perBatch(df.toDF(), id))
        .start()
      try { q.processAllAvailable() } finally q.stop()
    }
  }

  /** Drive a parquet-backed stream of events through a transform into an
    * in-memory table, synchronously (test/local harness). `options` pass
    * through to the file source — e.g. maxFilesPerTrigger=1 forces one
    * micro-batch per file so stateful operators demonstrably carry state
    * ACROSS batches. */
  def runBatchOfStream(spark: SparkSession, sourceDir: String,
                       name: String,
                       transform: DataFrame => DataFrame,
                       mode: OutputMode = OutputMode.Complete(),
                       options: Map[String, String] = Map.empty): DataFrame = {
    spark.catalog.dropTempView(name)   // re-runs re-register the sink view
    val stream = parquetStream(spark, sourceDir, options)
    withStreamShufflePartitions(spark) {
      val q = transform(stream).writeStream
        .outputMode(mode)
        .format("memory").queryName(name)
        .start()
      try { q.processAllAvailable() } finally q.stop()
    }
    spark.table(name)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalable global ordering operators.
  *
  * `Window.orderBy(...)` with no partition moves EVERY row to one
  * partition — semantically what the reference's NTILE-over-whole-result
  * copy-back bucketing asks for (`clickhouse/jdbsChSession.scala:425-443`),
  * but a guaranteed stall at cluster scale. These compute the same
  * results without the single-partition window:
  *
  *   1. `repartitionByRange` on the sort key (one shuffle; sampled range
  *      boundaries keep partitions balanced),
  *   2. per-partition row counts → cumulative offsets (a partition-count-
  *      sized driver list — metadata, not data),
  *   3. `row_number()` windowed WITHIN each range partition + offset.
  *
  * The result is the exact global row_number, and NTILE follows in
  * closed form from (rank, N, k) — bit-identical to `ntile(k) OVER
  * (ORDER BY ...)` for a total (tie-free) ordering.
  */
object GlobalRank {

  /** Exact global 1-based row number under `sortCols`, without a global
    * window. Ordering must be total (tie-free) for a deterministic
    * result — true for the PK/bucketing keys this backs.
    *
    * One shuffle total: range repartition + in-partition sort, pinned
    * with `localCheckpoint` so the counts action and the final plan see
    * IDENTICAL partitions (range-boundary sampling and AQE coalescing
    * are otherwise per-action and would misalign the offsets).
    * Partition/row indexes come from `monotonically_increasing_id`'s
    * documented layout (partition id in the upper bits, in-partition
    * row index in the lower 33) — no second window shuffle. */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
                      outCol: String = "__grn",
                      partitions: Int = 0): DataFrame =
    globalRowNumberWithTotal(df, sortCols, outCol, partitions)._1

  /** [[globalRowNumber]] plus the total row count — the count falls out
    * of the per-partition metadata for free, so callers (NTILE) never
    * pay a second scan of the input lineage (which could also disagree
    * with the ranked frame if the lineage is nondeterministic). */
  def globalRowNumberWithTotal(df: DataFrame, sortCols: Seq[Column],
                               outCol: String = "__grn",
                               partitions: Int = 0): (DataFrame, Long) = {
    // same guard as Layout.withZOrderCode: the helper id column and the
    // output column must not silently clobber caller columns
    require(!df.columns.contains("__mid"),
      "input frame already carries the helper column __mid")
    require(!df.columns.contains(outCol),
      s"input frame already carries output column $outCol")
    val p = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = rangedFrame(df, sortCols, p)
    // pin partitioning + order across the counts action and the final
    // plan. Lazy: the per-partition metadata collect just below is the
    // FIRST action on the frame, so it materializes the pin in the same
    // job; consumers after it read the same pinned blocks, so the
    // partition/offset alignment holds.
    val ranged = Pins.cut(sorted, eager = false)
    val withId = ranged.withColumn("__mid", monotonically_increasing_id())
    val pidOf = shiftright(col("__mid"), 33).cast("int")
    val idxOf = col("__mid").bitwiseAND(lit((1L << 33) - 1))
    // partition sizes: ≤ p rows of metadata — the one legitimate collect
    val counts = withId.groupBy(pidOf.as("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until p).scanLeft(0L) { case (acc, pid) =>
      acc + counts.getOrElse(pid, 0L)
    }.dropRight(1)
    val offCol = element_at(array(offsets.map(lit): _*), pidOf + 1)
    (withId.withColumn(outCol, idxOf + offCol + lit(1L)).drop("__mid"),
     counts.values.sum)
  }

  /** The pre-checkpoint ranking stage (range repartition + in-partition
    * sort) — exposed so plan audits can assert it stays window-free
    * (the checkpoint truncates the final query's visible plan, which
    * would otherwise make a "no Window" assertion vacuous upstream). */
  private[graft] def rangedFrame(df: DataFrame, sortCols: Seq[Column],
                                 partitions: Int): DataFrame =
    df.repartitionByRange(partitions, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)

  /** Exact global running sum (inclusive prefix sum) of `valueCol`
    * under `sortCols`, without a global window — the distributed prefix
    * sum backing token-budget selection ([[takeWhileBudget]]) and any
    * "cumulative X in corpus order" statistic.
    *
    * Shape: the same range-repartition + checkpoint pin as
    * [[globalRowNumber]]; per-PARTITION value totals collected (≤ p
    * rows of metadata) become cross-partition offsets, and the
    * in-partition prefix is a running-sum window PARTITIONED BY the
    * range-partition id — bounded by one partition's rows (n/p), never
    * the corpus, exactly the per-bucket shape Packing.packGreedy uses.
    * Ordering must be total (tie-free) for a deterministic result.
    * Values sum as long (token counts, byte sizes — the budget-shaped
    * inputs); exact, no float drift. */
  def globalRunningSum(df: DataFrame, sortCols: Seq[Column],
                       valueCol: String, outCol: String = "cum",
                       partitions: Int = 0): DataFrame = {
    require(!df.columns.contains("__mid"),
      "input frame already carries the helper column __mid")
    require(!df.columns.contains(outCol),
      s"input frame already carries output column $outCol")
    val p = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = rangedFrame(df, sortCols, p)
    val ranged = Pins.cut(sorted, eager = false) // as in globalRowNumberWithTotal
    val withId = ranged.withColumn("__mid", monotonically_increasing_id())
    val pidOf = shiftright(col("__mid"), 33).cast("int")
    val idxOf = col("__mid").bitwiseAND(lit((1L << 33) - 1))
    // per-partition value totals: ≤ p rows — metadata, not data
    val sums = withId.groupBy(pidOf.as("__pid"))
      .agg(sum(col(valueCol).cast("long")).as("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until p).scanLeft(0L) { case (acc, pid) =>
      acc + sums.getOrElse(pid, 0L)
    }.dropRight(1)
    val offCol = element_at(array(offsets.map(lit): _*), pidOf + 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pidOf)
      .orderBy(idxOf.asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    withId
      .withColumn(outCol, sum(col(valueCol).cast("long")).over(w) + offCol)
      .drop("__mid")
  }

  /** The maximal prefix of the corpus (under `sortCols`) whose running
    * `valueCol` total stays within `budget` — "fill a token budget in
    * a fixed order", the step that cuts a curated corpus down to the
    * compute-matched training set. A row survives iff the INCLUSIVE
    * running sum through it is ≤ budget (rows with value 0 at the
    * boundary survive; the first row alone exceeding the budget kills
    * the whole prefix from there on — values must be non-negative for
    * the prefix semantics to be meaningful). Output adds `cumCol`, the
    * inclusive running total, so callers can see how full the budget
    * ran. */
  def takeWhileBudget(df: DataFrame, sortCols: Seq[Column],
                      valueCol: String, budget: Long,
                      cumCol: String = "cum"): DataFrame = {
    require(budget >= 0L, s"budget must be >= 0, got $budget")
    globalRunningSum(df, sortCols, valueCol, cumCol)
      .filter(col(cumCol) <= budget)
  }

  /** NTILE(k) over the globally-ordered frame, computed from the global
    * row number in closed form (SQL-standard bucket sizing: the first
    * N mod k buckets hold ceil(N/k) rows, the rest floor(N/k)). */
  def ntileScalable(df: DataFrame, k: Int, sortCols: Seq[Column],
                    outCol: String = "bucket"): DataFrame = {
    require(k >= 1, "ntile bucket count must be >= 1")
    val (ranked, n) = globalRowNumberWithTotal(df, sortCols)
    val big = n / k + (if (n % k > 0) 1L else 0L)   // ceil(N/k)
    val small = n / k
    val nBig = n % k                                 // buckets holding `big`
    val cut = nBig * big                             // rows in big buckets
    val r = col("__grn")
    val bucket =
      if (small == 0L)
        // N < k: each of the first N buckets holds exactly one row
        r.cast("int")
      else
        when(r <= cut, ((r - 1) / big + 1).cast("int"))
          .otherwise((lit(nBig) + (r - cut - 1) / small + 1).cast("int"))
    ranked.withColumn(outCol, bucket).drop("__grn")
  }

  /** Deterministic WEIGHTED INTERLEAVE of corpus sources into one
    * global training order (epoch materialization for a mixture spec):
    * in any prefix of the epoch, a source with twice the weight
    * contributes twice the rows. Each source is ranked independently
    * (by `orderKey`, then `idCol` — pass an LCG key for a shuffled
    * epoch) and its rows placed at integer virtual time
    * `vt = src_rank · VtScale DIV weight`; the epoch order is
    * (vt, source, src_rank) — all long math, reproducible anywhere.
    *
    * Shape: one [[globalRowNumber]] per source (sources are a mixture
    * spec — a handful, validated ≤ 256) plus one over the union;
    * every rank is the window-free range-partition form, so no source —
    * however large — ever sorts in a single task. Rows whose source is
    * absent from `weights` are dropped (the spec DEFINES the epoch).
    *
    * Overflow bound: src_rank · VtScale stays in Long for ranks below
    * ~9.2e12 — a 9-trillion-row source is past any epoch this targets. */
  def interleaveSources(df: DataFrame, sourceCol: Column, orderKey: Column,
                        idCol: Column, weights: Seq[(String, Int)],
                        outCol: String = "epoch_rank"): DataFrame = {
    require(weights.nonEmpty && weights.size <= 256,
      s"weights must list 1..256 sources, got ${weights.size}")
    require(weights.forall(_._2 >= 1), "source weights must be >= 1")
    require(weights.map(_._1).distinct.size == weights.size,
      "duplicate source in weights")
    for (c <- Seq("src_rank", "vt", outCol))
      require(!df.columns.contains(c),
        s"input frame already carries the output column $c")
    val perSource = weights.map { case (name, w) =>
      val part = df.filter(sourceCol === lit(name))
      globalRowNumber(part, Seq(orderKey, idCol), outCol = "src_rank")
        .withColumn("vt", expr(s"src_rank * ${VtScale}L DIV ${w}L"))
    }
    val union = perSource.reduce(_.unionByName(_))
    globalRowNumber(union,
      Seq(col("vt"), sourceCol, col("src_rank")), outCol = outCol)
  }

  /** Virtual-time resolution of [[interleaveSources]]: weight w places a
    * source's k-th row at k·VtScale/w, so relative rates are exact for
    * any weight ≤ VtScale. */
  val VtScale = 1000000L

  /** CURRICULUM ordering: partition the corpus into `stages` difficulty
    * tiers (SQL-standard NTILE over `difficultyCol`, easiest first) and
    * emit a global training order that walks the tiers in sequence,
    * shuffled WITHIN each tier by `shuffleKey` — train on the easy
    * stage first, hard last, without the order becoming a difficulty
    * sort (adjacent batches stay i.i.d. within a stage).
    *
    * Pure composition of the window-free primitives: [[ntileScalable]]
    * for the tiers + one [[globalRowNumber]] over (stage, shuffleKey,
    * id) — two ranked shuffles total, no corpus-keyed window anywhere.
    * Output: input columns + `stage` (1-based) + `epoch_rank`. */
  def curriculumOrder(df: DataFrame, difficultyCol: Column, idCol: Column,
                      stages: Int, shuffleKey: Column,
                      outCol: String = "epoch_rank"): DataFrame = {
    val staged = ntileScalable(df, stages,
      Seq(difficultyCol, idCol), outCol = "stage")
    globalRowNumber(staged,
      Seq(col("stage"), shuffleKey, idCol), outCol = outCol)
  }

  /** Exact global running MAX (exclusive prefix max) of `valueCol`
    * under `sortCols` — the [[globalRunningSum]] shape with max as the
    * combine: per-partition maxima (≤ p rows of metadata) become
    * cross-partition offsets, the in-partition prefix is a running-max
    * window partitioned by the range-partition id. EXCLUSIVE (the max
    * over STRICTLY earlier rows; Long.MinValue when none) because the
    * dominance/skyline consumers compare a row against its
    * predecessors, not itself. Ordering must be total. */
  def globalRunningMaxExclusive(df: DataFrame, sortCols: Seq[Column],
                                valueCol: String,
                                outCol: String = "prevMax",
                                partitions: Int = 0): DataFrame = {
    require(!df.columns.contains("__mid"),
      "input frame already carries the helper column __mid")
    require(!df.columns.contains(outCol),
      s"input frame already carries output column $outCol")
    val p = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = rangedFrame(df, sortCols, p)
    val ranged = Pins.cut(sorted, eager = false) // as in globalRowNumberWithTotal
    val withId = ranged.withColumn("__mid", monotonically_increasing_id())
    val pidOf = shiftright(col("__mid"), 33).cast("int")
    val idxOf = col("__mid").bitwiseAND(lit((1L << 33) - 1))
    val maxes = withId.groupBy(pidOf.as("__pid"))
      .agg(max(col(valueCol).cast("long")).as("__m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // offset for partition i = max over partitions < i (MinValue if none)
    val offsets = (0 until p).scanLeft(Long.MinValue) { case (acc, pid) =>
      math.max(acc, maxes.getOrElse(pid, Long.MinValue))
    }.dropRight(1)
    val offCol = element_at(array(offsets.map(lit): _*), pidOf + 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pidOf).orderBy(idxOf.asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    withId
      .withColumn(outCol, greatest(
        coalesce(max(col(valueCol).cast("long")).over(w),
          lit(Long.MinValue)),
        offCol))
      .drop("__mid")
  }

  /** Windowless PERCENT_RANK and CUME_DIST over the whole frame — the
    * two SQL rank-distribution window functions, in exact integer ppm,
    * without a single-partition global window (the standard
    * `Window.orderBy(v)` form funnels the corpus through one task).
    *
    * SQL semantics reproduced exactly: ties share the rank of their
    * FIRST peer (percent_rank) and the cumulative count THROUGH their
    * LAST peer (cume_dist) — both functions of the VALUE alone, which
    * is what makes the windowless plan possible: the value histogram's
    * prefix sum gives rank_v = cum − cnt + 1 and cume_v = cum, and one
    * value-keyed equi join carries them back to rows.
    *   pr_ppm   = 10⁶·(rank_v − 1) div (n − 1)    (0 when n = 1)
    *   cume_ppm = 10⁶·cum_v div n
    *
    * Scale shape: distinct values shuffle (histogram discipline), the
    * prefix sum is [[globalRunningSum]], and the row join is a plain
    * equi shuffle on the value — no global sort of rows anywhere. */
  def percentRanks(df: DataFrame, valueCol: String): DataFrame = {
    require(valueCol != "__v" &&
      !df.columns.exists(Seq("__v", "pr_ppm", "cume_ppm").contains),
      "input must not carry the helper/output columns __v, pr_ppm, cume_ppm")
    val base = df.where(col(valueCol).isNotNull)
    val hist = base.groupBy(col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cum = globalRunningSum(hist, Seq(col("__v")), "__c", "__cum")
    val nTot = cum.agg(sum(col("__c")).as("__n"))
    val vmap = cum.crossJoin(broadcast(nTot))
      .select(col("__v"),
        when(col("__n") === 1L, 0L).otherwise(
          expr("(1000000 * (__cum - __c)) div (__n - 1)")).as("pr_ppm"),
        expr("(1000000 * __cum) div __n").as("cume_ppm"))
    base.join(vmap, col(valueCol).cast("long") === col("__v"))
      .drop("__v")
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Nonparametric / rank-based hypothesis tests in EXACT integer
  * arithmetic — the A/B-testing battery for metrics whose
  * distributions are skewed or ordinal, where the t-test family
  * (ops/Stats.welchTMilli etc.) assumes too much. Every statistic is
  * a pinned-floor integer rational both engines replay bit-for-bit:
  * ranks enter as DOUBLED midranks (2·C + t + 1 — integer even under
  * ties, the ops/Stats.spearmanR2Ppm identity), z² statistics are
  * cross-multiplied so no square root is ever taken, and tie
  * corrections use the exact Σ(t³−t) / Σ t(t−1)(2t+5) forms.
  *
  * Scale discipline shared by every operator here: rows collapse to a
  * VALUE HISTOGRAM first (distinct values shuffle, not rows), prefix
  * sums over the histogram run through [[GlobalRank.globalRunningSum]]
  * (window-free: no single-partition global window), and the final
  * statistic is one map-side-partial aggregate. Magnitude bound: the
  * z² cross-multiplications reach ~3n⁶/16 in the worst case, so the
  * DECIMAL(38,0) lane holds to n ≈ 2·10⁶ rows per call — past that,
  * pre-bucket the metric (coarser value histogram), the repo's
  * documented magnitude trade (see spearmanR2Ppm).
  */
object RankTests {

  private val d38 = DecimalType(38, 0)

  /** Value histogram with doubled midranks: one row per distinct
    * value, (value, total count t, per-flag count a, doubled midrank
    * 2C+t+1 where C = count of strictly smaller values). Window-free
    * via the checkpoint+offset running sum. */
  private def midrankHistogram(base: DataFrame): DataFrame = {
    val hist = base.groupBy(col("__v"))
      .agg(count(lit(1)).as("__t"),
        sum(when(col("__f"), 1L).otherwise(0L)).as("__a"))
    GlobalRank.globalRunningSum(hist, Seq(col("__v").asc), "__t", "__cum")
      .select(col("__v"), col("__t"), col("__a"),
        (lit(2L) * (col("__cum") - col("__t")) + col("__t") + 1)
          .as("__r2"))
  }

  /** MANN–WHITNEY U (Wilcoxon rank-sum) — "do A's values run higher
    * than B's?" with no normality assumption: the rank-sum of group A
    * against the pooled ranking, tie-corrected. The workhorse two-
    * sample test for skewed metrics (revenue, latency, token counts).
    *
    * Exact form: with doubled midranks, 2R_A = Σ_v a_v·(2C_v+t_v+1),
    * 2U_A = 2R_A − n_A(n_A+1), and the tie-corrected z² is the
    * integer rational
    *   z²·10³ = 3000·(2U_A − n_A·n_B)²·n(n−1)
    *            div (n_A·n_B·((n+1)n(n−1) − T)),  T = Σ(t³−t).
    * NULL when either group is empty or every value is tied (the
    * variance is 0 and the statistic undefined).
    *
    * Output one row: (n_a, n_b, u2_a = 2·U_A, tie_t = T, z2_milli).
    * u2_a/2 ∈ [0, n_A·n_B]; u2_a > n_A·n_B means A ranks higher.
    *
    * Scale shape: one histogram groupBy (distinct values), one
    * window-free prefix sum, one final aggregate. */
  def mannWhitneyMilli(df: DataFrame, flagCol: String,
                       valueCol: String): DataFrame = {
    val base = df.select(col(flagCol).cast("boolean").as("__f"),
        col(valueCol).cast("long").as("__v"))
      .where(col("__f").isNotNull && col("__v").isNotNull)
    midrankHistogram(base)
      .agg(sum(col("__a")).as("__na"),
        sum(col("__t") - col("__a")).as("__nb"),
        sum(col("__a").cast(d38) * col("__r2")).as("__ra2"),
        sum((col("__t").cast(d38) * col("__t") * col("__t") - col("__t")))
          .as("__tt"))
      .select(
        coalesce(col("__na"), lit(0L)).cast("long").as("n_a"),
        coalesce(col("__nb"), lit(0L)).cast("long").as("n_b"),
        (col("__ra2") - col("__na").cast(d38) * (col("__na") + 1))
          .cast("long").as("u2_a"),
        col("__tt").cast("long").as("tie_t"))
      .select(col("n_a"), col("n_b"), col("u2_a"), col("tie_t"),
        when(col("n_a") === 0 || col("n_b") === 0 ||
          // all-tied: (n+1)n(n−1) = T exactly when one distinct value
          (col("n_a") + col("n_b") + 1).cast(d38) *
            (col("n_a") + col("n_b")) * (col("n_a") + col("n_b") - 1)
            === col("tie_t").cast(d38), lit(null).cast("long"))
          .otherwise(expr(
            """CAST((3000 * (CAST(u2_a AS DECIMAL(38,0)) - CAST(n_a AS DECIMAL(38,0)) * n_b)
              |     * (CAST(u2_a AS DECIMAL(38,0)) - CAST(n_a AS DECIMAL(38,0)) * n_b)
              |     * (n_a + n_b) * (n_a + n_b - 1))
              |div (CAST(n_a AS DECIMAL(38,0)) * n_b *
              |     ((CAST(n_a AS DECIMAL(38,0)) + n_b + 1) * (n_a + n_b) * (n_a + n_b - 1)
              |      - tie_t)) AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("z2_milli"))
  }

  /** KRUSKAL–WALLIS H — [[mannWhitneyMilli]] generalized to k groups:
    * "does ANY group's distribution sit higher?", the nonparametric
    * one-way ANOVA (ops/Stats.anovaFMicro's rank twin).
    *
    * Pinned-floor form (each floor documented, both engines replay):
    *   S       = Σ_g (2R_g)² div n_g            (floor per group)
    *   H·10³   = (3000·S) div (n(n+1)) − 3000·(n+1)
    *   H_c·10³ = (H·10³·(n³−n)) div (n³−n−T)    (tie correction)
    * H_c NULL when n³−n = T (every value tied — no ranking exists).
    * The per-group floors sit H at most k·10³/(n(n+1)) below the real
    * statistic — negligible at any real n, and exactly reproducible.
    *
    * Output one row: (n, k, h_milli, h_tie_milli).
    *
    * Scale shape: one (group, value) groupBy + one value histogram +
    * prefix sum + one value-keyed join at (group, value) grain (never
    * row grain), then two bounded aggregates (k rows, then 1). */
  def kruskalWallisMilli(df: DataFrame, groupCol: String,
                         valueCol: String): DataFrame = {
    val gv = df.select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("long").as("__v"))
      .where(col("__g").isNotNull && col("__v").isNotNull)
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
    val hist = gv.groupBy(col("__v")).agg(sum(col("__c")).as("__t"))
    val ranked = GlobalRank.globalRunningSum(hist, Seq(col("__v").asc),
        "__t", "__cum")
      .select(col("__v").as("__vr"), col("__t"),
        (lit(2L) * (col("__cum") - col("__t")) + col("__t") + 1)
          .as("__r2"))
    val perGroup = gv.join(ranked, col("__v") === col("__vr"))
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("__ng"),
        sum(col("__c").cast(d38) * col("__r2")).as("__rg2"))
    val ties = ranked
      .agg(sum(col("__t").cast(d38) * col("__t") * col("__t") -
        col("__t")).as("__tt"))
    perGroup
      .agg(sum(col("__ng")).as("__n"), count(lit(1)).as("__k"),
        sum(expr("(__rg2 * __rg2) div CAST(__ng AS DECIMAL(38,0))"))
          .as("__s"))
      .crossJoin(broadcast(ties))
      .select(col("__n").cast("long").as("n"),
        col("__k").cast("long").as("k"),
        // floors can push the raw form a hair below 0 where true H≈0;
        // clamp — H ≥ 0 by definition, and a negative lane would also
        // split the engines (Spark div truncates toward 0, DuckDB //
        // floors: they disagree on negatives)
        greatest(expr(
          """CAST((3000 * __s) div (CAST(__n AS DECIMAL(38,0)) * (__n + 1))
            |- 3000 * (__n + 1) AS BIGINT)"""
            .stripMargin.replace("\n", " ")), lit(0L)).as("h_milli"),
        col("__tt").cast("long").as("__tt0"))
      .select(col("n"), col("k"), col("h_milli"),
        when(col("n").cast(d38) * col("n") * col("n") - col("n")
            === col("__tt0").cast(d38), lit(null).cast("long"))
          .otherwise(expr(
            """CAST((h_milli * (CAST(n AS DECIMAL(38,0)) * n * n - n))
              |div (CAST(n AS DECIMAL(38,0)) * n * n - n - __tt0) AS BIGINT)"""
              .stripMargin.replace("\n", " ")))
          .as("h_tie_milli"))
  }

  /** WILCOXON SIGNED-RANK — the PAIRED nonparametric test: "did the
    * same subjects' metric move?" (before/after, first-half vs
    * second-half) where the paired t-test's normality assumption
    * fails. Zero differences drop (the standard convention); |d| gets
    * doubled midranks; W⁺ sums the ranks of positive differences.
    *
    * Exact z² with tie correction:
    *   4N      = 2·(2W⁺) − n(n+1)
    *   z²·10³  = 3000·(4N)² div (2n(n+1)(2n+1) − T),  T = Σ(t³−t)
    * NULL when n = 0 or every |d| is tied at one value AND n ≤ 1
    * (variance 0; with n ≥ 2 the denominator stays positive even
    * fully tied since 2n(n+1)(2n+1) > n³−n).
    *
    * Output one row: (n, w2_plus = 2W⁺, tie_t, z2_milli).
    *
    * Scale shape: one row-wise diff projection, one |d| histogram +
    * window-free prefix sum, one (|d|, sign)-grain join, one final
    * aggregate. */
  def wilcoxonSignedRankMilli(df: DataFrame, xCol: String,
                              yCol: String): DataFrame = {
    val diffs = df.select(
        (col(xCol).cast("long") - col(yCol).cast("long")).as("__d"))
      .where(col("__d").isNotNull && col("__d") =!= 0)
      .select(abs(col("__d")).as("__v"), (col("__d") > 0).as("__f"))
    midrankHistogram(diffs)
      .agg(sum(col("__t")).as("__n"),
        sum(col("__a").cast(d38) * col("__r2")).as("__w2"),
        sum(col("__t").cast(d38) * col("__t") * col("__t") - col("__t"))
          .as("__tt"))
      .select(coalesce(col("__n"), lit(0L)).cast("long").as("n"),
        coalesce(col("__w2"), lit(0)).cast("long").as("w2_plus"),
        coalesce(col("__tt"), lit(0)).cast("long").as("tie_t"))
      .select(col("n"), col("w2_plus"), col("tie_t"),
        when(col("n") === 0, lit(null).cast("long"))
          .otherwise(expr(
            """CAST((3000 * (2 * CAST(w2_plus AS DECIMAL(38,0)) - CAST(n AS DECIMAL(38,0)) * (n + 1))
              |     * (2 * CAST(w2_plus AS DECIMAL(38,0)) - CAST(n AS DECIMAL(38,0)) * (n + 1)))
              |div (2 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1) - tie_t)
              |AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("z2_milli"))
  }

  /** MANN–KENDALL trend SIGNIFICANCE per group — extends
    * ops/Stats.mannKendall (which reports S and τ_a, the effect size)
    * with the part that makes it a TEST: the exact tie-corrected
    * variance of S and the continuity-corrected z². S = Σ_{i<j}
    * sign(x_j − x_i) over time-ordered observations, with
    *   18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)
    * and the continuity-corrected z² = (|S|−1)²·18·10³ div var18
    * (0 when |S| ≤ 1, NULL when var18 = 0 — constant series).
    * The nonparametric twin of ops/Stats.theilSen-style slope fits;
    * positive S = upward trend.
    *
    * Contract: one observation per (group, time) — pre-aggregate to
    * the period grain first (the gate does). PAIRWISE self-join per
    * group: O(Σ n_g²) — built for PERIOD-grain series (hundreds of
    * points per group), not row grain; the join shuffles on the group
    * key only, so each group's quadratic work stays inside one task
    * (the q270 correlation-matrix discipline).
    *
    * Output per group: (group, n, s, var18, z2_milli). */
  def mannKendallMilli(df: DataFrame, groupCol: String, tCol: String,
                       valueCol: String): DataFrame = {
    val base = df.select(col(groupCol).cast("string").as("__g"),
        col(tCol).cast("long").as("__t"),
        col(valueCol).cast("long").as("__x"))
      .where(col("__g").isNotNull && col("__t").isNotNull &&
        col("__x").isNotNull)
      .localCheckpoint() // consumed three times (pair sides ×2, ties)
    val sByG = base.as("l")
      .join(base.as("r"), col("l.__g") === col("r.__g") &&
        col("l.__t") < col("r.__t"))
      .groupBy(col("l.__g").as("__g"))
      .agg(sum(signum(col("r.__x") - col("l.__x")).cast("long")).as("s"))
    val tiesByG = base.groupBy(col("__g"), col("__x"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n"),
        sum(col("__c").cast(d38) * (col("__c") - 1) *
          (lit(2L) * col("__c") + 5)).as("__tv"))
    sByG.join(tiesByG, "__g")
      .select(col("__g").as(groupCol), col("__n").cast("long").as("n"),
        col("s"),
        (col("__n").cast(d38) * (col("__n") - 1) *
          (lit(2L) * col("__n") + 5) - col("__tv")).cast("long")
          .as("var18"),
        when((col("__n").cast(d38) * (col("__n") - 1) *
            (lit(2L) * col("__n") + 5) - col("__tv")) === 0,
            lit(null).cast("long"))
          .otherwise(expr(
            """CAST((18000 * CAST(greatest(abs(s) - 1, 0) AS DECIMAL(38,0))
              |     * greatest(abs(s) - 1, 0))
              |div (CAST(__n AS DECIMAL(38,0)) * (__n - 1) * (2 * __n + 5) - __tv)
              |AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("z2_milli"))
  }

  /** LOG-RANK TEST — "do these two cohorts churn at different rates?":
    * the survival-curve comparison behind every retention A/B read.
    * Companion to ops/EventAnalytics.kmSurvivalPpm (which draws the
    * curves; this says whether they differ). Censoring-aware: rows
    * with observed = false count in the at-risk sets but never as
    * events.
    *
    * Pinned-ppm form (per distinct event time, then summed — each
    * engine replays the identical floors): with d events (d₁ in group
    * 1) and n at risk (n₁ in group 1) at each time,
    *   E₁(ppm) += (10⁶·d·n₁) div n
    *   V(ppm)  += (10⁶·d·n₁·(n−n₁)·(n−d)) div (n²·(n−1))   [0 if n=1]
    *   χ²·10³  = (1000·(10⁶·O₁ − E₁ppm)²) div (10⁶·Vppm)
    * NULL when V = 0 (one group empty, or no events).
    *
    * Output one row: (o1, e1_ppm, v_ppm, chi2_milli).
    *
    * Scale shape: durations collapse to the time-grain life table
    * (distinct durations, not subjects), at-risk counts are suffix
    * sums via the window-free running sum, one final aggregate. */
  def logRankMilli(df: DataFrame, durationCol: String, flagCol: String,
                   observedCol: String): DataFrame = {
    val base = df.select(col(durationCol).cast("long").as("__t"),
        col(flagCol).cast("boolean").as("__f"),
        col(observedCol).cast("boolean").as("__o"))
      .where(col("__t").isNotNull && col("__f").isNotNull &&
        col("__o").isNotNull)
    val lt = base.groupBy(col("__t"))
      .agg(count(lit(1)).as("__c"),
        sum(when(col("__f"), 1L).otherwise(0L)).as("__c1"),
        sum(when(col("__o"), 1L).otherwise(0L)).as("__d"),
        sum(when(col("__o") && col("__f"), 1L).otherwise(0L)).as("__d1"))
    // at-risk = suffix sums under DESCENDING time (those with t' >= t)
    val r1 = GlobalRank.globalRunningSum(lt, Seq(col("__t").desc),
      "__c", "__nAll")
    val r2 = GlobalRank.globalRunningSum(
      r1.withColumnRenamed("__t", "__t2")
        .select(col("__t2"), col("__c1"), col("__nAll"), col("__d"),
          col("__d1")),
      Seq(col("__t2").desc), "__c1", "__n1")
    r2.where(col("__d") > 0)
      .agg(sum(col("__d1")).as("__o1"),
        sum(expr("(1000000 * __d * __n1) div __nAll")).as("__e1"),
        sum(when(col("__nAll") <= 1, lit(0L)).otherwise(expr(
          """(CAST(1000000 AS DECIMAL(38,0)) * __d * __n1 * (__nAll - __n1)
            |* (__nAll - __d))
            |div (CAST(__nAll AS DECIMAL(38,0)) * __nAll * (__nAll - 1))"""
            .stripMargin.replace("\n", " ")))).as("__v"))
      .select(coalesce(col("__o1"), lit(0L)).cast("long").as("o1"),
        coalesce(col("__e1"), lit(0)).cast("long").as("e1_ppm"),
        coalesce(col("__v"), lit(0)).cast("long").as("v_ppm"))
      .select(col("o1"), col("e1_ppm"), col("v_ppm"),
        when(col("v_ppm") === 0, lit(null).cast("long"))
          .otherwise(expr(
            """CAST((1000 * (1000000 * CAST(o1 AS DECIMAL(38,0)) - e1_ppm)
              |     * (1000000 * CAST(o1 AS DECIMAL(38,0)) - e1_ppm))
              |div (1000000 * CAST(v_ppm AS DECIMAL(38,0))) AS BIGINT)"""
              .stripMargin.replace("\n", " ")))
          .as("chi2_milli"))
  }

  /** FRIEDMAN TEST — the repeated-measures rank test: k treatments
    * measured once per block (k variants × n days, k models × n
    * datasets); "does any treatment consistently rank higher across
    * blocks?" where [[kruskalWallisMilli]] would wrongly pool the
    * between-block variance. Ranks are within-block doubled midranks,
    * and the TIE-EXACT general form is used (the textbook
    * 12/(nk(k+1)) form silently assumes no ties):
    *   χ²·10³ = (1000·(k−1)·Σ_j (2R_j − n(k+1))²)
    *            div (Σ_ij (2r_ij)² − n·k·(k+1)²)
    * NULL when the denominator is 0 (every block internally constant).
    *
    * Contract: one row per (block, treatment); only COMPLETE blocks
    * (all k treatments present) enter — incomplete blocks would bias
    * every R_j and are filtered, with the count reported.
    *
    * Output one row: (n_blocks, k, chi2_milli).
    *
    * Scale shape: ranks come from a window PARTITIONED BY block
    * (state bounded by k rows per block, never the corpus), then one
    * treatment-grain aggregate (k rows) and one final row. */
  def friedmanMilli(df: DataFrame, blockCol: String, treatmentCol: String,
                    valueCol: String): DataFrame = {
    val base = df.select(col(blockCol).as("__b"),
        col(treatmentCol).cast("string").as("__j"),
        col(valueCol).cast("long").as("__v"))
      .where(col("__b").isNotNull && col("__j").isNotNull &&
        col("__v").isNotNull)
      .localCheckpoint() // consumed by k-count, completeness, ranks
    val k = base.select(col("__j")).distinct().count()
    val complete = base.groupBy(col("__b"))
      .agg(countDistinct(col("__j")).as("__kb"))
      .where(col("__kb") === k).select(col("__b"))
    val inBlocks = base.join(complete, "__b")
    // within-block midranks at (block, value) grain — the window is
    // bounded by k rows per block
    val bv = inBlocks.groupBy(col("__b"), col("__v"))
      .agg(count(lit(1)).as("__t"))
      .withColumn("__cum", sum(col("__t")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__b")).orderBy(col("__v"))))
      .select(col("__b").as("__b2"), col("__v").as("__v2"),
        (lit(2L) * (col("__cum") - col("__t")) + col("__t") + 1)
          .as("__r2"))
    val ranked = inBlocks.join(bv,
      col("__b") === col("__b2") && col("__v") === col("__v2"))
    val perJ = ranked.groupBy(col("__j"))
      .agg(count(lit(1)).as("__n"), sum(col("__r2")).as("__rj2"),
        sum(col("__r2").cast(d38) * col("__r2")).as("__sq"))
    perJ.agg(max(col("__n")).as("__nb"), count(lit(1)).as("__k"),
        sum(col("__sq")).as("__a4"),
        sum((col("__rj2").cast(d38) - col("__n").cast(d38) * (lit(k) + 1)) *
          (col("__rj2").cast(d38) - col("__n").cast(d38) * (lit(k) + 1)))
          .as("__num"))
      .select(col("__nb").cast("long").as("n_blocks"),
        col("__k").cast("long").as("k"),
        when(col("__a4") - col("__nb").cast(d38) * col("__k") *
            (col("__k") + 1) * (col("__k") + 1) === 0,
            lit(null).cast("long"))
          .otherwise(expr(
            """CAST((1000 * (__k - 1) * __num)
              |div (__a4 - CAST(__nb AS DECIMAL(38,0)) * __k * (__k + 1) * (__k + 1))
              |AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("chi2_milli"))
  }

  /** COCHRAN–ARMITAGE TREND TEST — "does the success PROPORTION trend
    * with an ordered score?" (conversion by cohort-week, defect rate
    * by dose): the 2×k test that respects the ordering a plain
    * chi-square ignores. Exact cross-multiplied form with integer
    * scores w:
    *   N·U   = Σ_i w_i·(N·r_i − n_i·R)
    *   z²·10³ = (1000·(N·U)²·N)
    *            div (R·(N−R)·(N·Σw²n − (Σwn)²))
    * NULL when R = 0, R = N (no variation in outcome) or the score is
    * constant (N·Σw²n = (Σwn)²). `trend_sign` = sign(N·U): positive
    * means the proportion RISES with the score.
    *
    * Output one row: (n, n_success, trend_sign, z2_milli).
    *
    * Scale shape: one groupBy on the score (k rows out, map-side
    * partial), one final aggregate — rows never shuffle. */
  def cochranArmitageMilli(df: DataFrame, scoreCol: String,
                           successCol: String): DataFrame = {
    val byScore = df.select(col(scoreCol).cast("long").as("__w"),
        col(successCol).cast("boolean").as("__y"))
      .where(col("__w").isNotNull && col("__y").isNotNull)
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__r"))
    byScore.agg(sum(col("__n")).as("__nn"), sum(col("__r")).as("__rr"),
        sum(col("__w").cast(d38) * col("__n")).as("__wn"),
        sum(col("__w").cast(d38) * col("__w") * col("__n")).as("__w2n"),
        sum(col("__w").cast(d38) * col("__r")).as("__wr"))
      .select(col("__nn").cast("long").as("n"),
        coalesce(col("__rr"), lit(0L)).cast("long").as("n_success"),
        (col("__nn").cast(d38) * col("__wr") -
          col("__wn") * col("__rr")).as("__nu"),
        (col("__nn").cast(d38) * col("__w2n") - col("__wn") * col("__wn"))
          .as("__sv"))
      .select(col("n"), col("n_success"),
        signum(col("__nu")).cast("long").as("trend_sign"),
        when(col("n_success") === 0 || col("n_success") === col("n") ||
            col("__sv") === 0, lit(null).cast("long"))
          .otherwise(expr(
            """CAST((1000 * __nu * __nu * n)
              |div (CAST(n_success AS DECIMAL(38,0)) * (n - n_success) * __sv)
              |AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("z2_milli"))
  }

  /** WALD–WOLFOWITZ RUNS TEST (about the mean) per group — "is this
    * sequence RANDOM, or does it clump/alternate?": count the runs of
    * consecutive above-mean / below-mean observations; too few runs =
    * positive serial dependence (clumping), too many = negative
    * (alternation). The mean cut keeps every comparison exact without
    * a division: x above mean ⟺ n·x > S₁. Values exactly AT the mean
    * are dropped (the standard convention for the median variant,
    * applied to the mean cut).
    *
    * Exact z² (cross-multiplied, m = n₁+n₂ kept rows):
    *   z²·10³ = 1000·(mR − m − 2n₁n₂)²·(m−1)
    *            div (2n₁n₂·(2n₁n₂ − m))
    * NULL when either side is empty or 2n₁n₂ ≤ m (σ² ≤ 0 — the
    * degenerate tiny-side cases).
    *
    * Output per group: (group, n, n_above, n_below, runs, z2_milli).
    *
    * Scale shape: one group-grain aggregate for (n, S₁) joined back
    * (k rows broadcast), one lag window PARTITIONED BY group (state
    * bounded by one group's series), one final groupBy. */
  def runsTestMilli(df: DataFrame, groupCol: String, tCol: String,
                    valueCol: String): DataFrame = {
    val base = df.select(col(groupCol).cast("string").as("__g"),
        col(tCol).cast("long").as("__t"),
        col(valueCol).cast("long").as("__x"))
      .where(col("__g").isNotNull && col("__t").isNotNull &&
        col("__x").isNotNull)
    val stats = base.groupBy(col("__g").as("__gs"))
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__s1"))
    val marked = base.join(broadcast(stats), col("__g") === col("__gs"))
      .where(col("__n") * col("__x") =!= col("__s1")) // drop at-mean rows
      .select(col("__g"), col("__t"),
        (col("__n") * col("__x") > col("__s1")).as("__above"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__t"))
    marked
      .withColumn("__prev", lag(col("__above"), 1).over(w))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__m"),
        sum(when(col("__above"), 1L).otherwise(0L)).as("__n1"),
        // a run starts at the first row and at every sign flip
        sum(when(col("__prev").isNull ||
          col("__prev") =!= col("__above"), 1L).otherwise(0L)).as("__r"))
      .select(col("__g").as(groupCol), col("__m").cast("long").as("n"),
        col("__n1").cast("long").as("n_above"),
        (col("__m") - col("__n1")).cast("long").as("n_below"),
        col("__r").cast("long").as("runs"),
        when(col("__n1") === 0 || col("__m") === col("__n1") ||
            lit(2L) * col("__n1") * (col("__m") - col("__n1"))
              <= col("__m"), lit(null).cast("long"))
          .otherwise(expr(
            """CAST((1000 * (CAST(__m AS DECIMAL(38,0)) * __r - __m - 2 * CAST(__n1 AS DECIMAL(38,0)) * (__m - __n1))
              |     * (CAST(__m AS DECIMAL(38,0)) * __r - __m - 2 * CAST(__n1 AS DECIMAL(38,0)) * (__m - __n1))
              |     * (__m - 1))
              |div (2 * CAST(__n1 AS DECIMAL(38,0)) * (__m - __n1)
              |     * (2 * CAST(__n1 AS DECIMAL(38,0)) * (__m - __n1) - __m))
              |AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("z2_milli"))
  }

  /** BRADLEY–TERRY ratings from pairwise outcomes — the
    * arena-leaderboard fit ("model A beat model B in 63 of 100
    * head-to-heads → what are the global strengths?") behind every
    * preference-eval ranking, and the principled aggregate for any
    * pairwise tournament. Minorize–maximize iterations in exact
    * integer micro-units:
    *
    *   rᵢ' = max(1, (Wᵢ·10¹²) div max(1, Σⱼ (nᵢⱼ·10¹²) div (rᵢ+rⱼ)))
    *
    * from a uniform 10⁶ start — every term pinned-floor, so any engine
    * unrolling the same rule matches bit-for-bit. The 10¹² term scale
    * keeps single-game pairs from flooring to zero. Ratings are
    * identified only up to scale (the standard BT gauge freedom — read
    * RATIOS); never-winners floor at 1, and an undefeated player's
    * true MLE is +∞ — here it grows boundedly with `iters`,
    * documented, never a division blow-up.
    *
    * Input: one row per (winner, loser) pair with a win count;
    * repeated pairs aggregate. Ties: drop them or split as half-wins
    * upstream (integer counts — double the granularity if needed).
    *
    * Output: (player, rating_micro) after `iters` rounds.
    *
    * Scale shape: the Pregel-by-joins family — per iteration one
    * pair-keyed join of ratings onto the symmetric pair frame, one
    * player-keyed partial sum, one node-keyed finish; ratings
    * checkpoint per round (the pageRank stance). Pairs are the
    * shuffle unit, never raw games. */
  def bradleyTerryMicro(matches: DataFrame, winnerCol: String,
                        loserCol: String, nCol: String,
                        iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // ids keep their native type (string model names, long ids alike)
    val u = matches.select(col(winnerCol).as("__i"),
        col(loserCol).as("__j"),
        col(nCol).cast("long").as("__n"))
      .where(col("__i").isNotNull && col("__j").isNotNull &&
        col("__n").isNotNull && col("__n") > 0 &&
        col("__i") =!= col("__j"))
    val g = u.unionByName(u.select(col("__j").as("__i"),
        col("__i").as("__j"), col("__n")))
      .groupBy(col("__i"), col("__j"))
      .agg(sum(col("__n")).cast(d38).as("__nij"))
      .persist()
    val wins = u.groupBy(col("__i")).agg(sum(col("__n")).as("__w"))
    val nodes = g.select(col("__i").as("node")).distinct().persist()

    // each round's eager cut supersedes the last, which is freed
    var ranks = nodes.withColumn("rating_micro", lit(1000000L))
    for (i <- 1 to iters) {
      val denom = g
        .join(ranks.select(col("node").as("__i"),
          col("rating_micro").as("__ri")), Seq("__i"))
        .join(ranks.select(col("node").as("__j"),
          col("rating_micro").as("__rj")), Seq("__j"))
        .select(col("__i"),
          expr("(__nij * 1000000000000) div (CAST(__ri AS DECIMAL(38,0))"
            + " + __rj)").as("__t"))
        .groupBy(col("__i")).agg(sum(col("__t")).as("__d"))
      val next = Pins.cut(nodes
        .join(wins.withColumnRenamed("__i", "node"), Seq("node"), "left")
        .join(denom.withColumnRenamed("__i", "node"), Seq("node"), "left")
        .select(col("node"),
          greatest(lit(1L), expr(
            """CAST((coalesce(__w, 0) * CAST(1000000000000 AS DECIMAL(38,0)))
              |div greatest(CAST(1 AS DECIMAL(38,0)), coalesce(__d, 0))
              |AS BIGINT)""".stripMargin.replace("\n", " ")))
            .as("rating_micro")))
      if (i > 1) Pins.free(ranks)
      ranks = next
    }
    g.unpersist(); nodes.unpersist()
    ranks.withColumnRenamed("node", "player")
  }

  /** BENJAMINI–HOCHBERG FDR adjustment — the multiple-comparisons
    * correction every metrics dashboard with 50 simultaneous tests
    * needs: given per-test p-values (ppm), the adjusted q-value is
    *   q_(i) = min_{j ≥ i} min(10⁶, (p_(j)·m) div j)
    * under the ascending-p ranking (ties broken by id for a total
    * order — the rank is positional, as in the reference R
    * implementation). Reject q ≤ α·10⁶ to control FDR at α.
    *
    * Exact: the only division is the pinned floor (p·m) div j; the
    * suffix min runs right-to-left over ranks via the window-free
    * running max of the NEGATED raw values under DESCENDING rank.
    *
    * Output: (id, p_ppm, p_rank, q_ppm), one row per input test.
    *
    * Scale shape: tests are already aggregates (thousands, not
    * billions) — two window-free global passes (row-number, suffix
    * min), no per-row state beyond the rank. */
  /** HOLM STEP-DOWN adjustment — the FWER-controlling companion to
    * [[bhAdjustPpm]]'s FDR: ascending p-values scale by (m − rank + 1)
    * and the adjusted value is the running PREFIX MAX (monotone
    * non-decreasing), capped at 10⁶. Strictly stronger guarantee than
    * Bonferroni at identical assumptions — use it when even one false
    * positive is unacceptable (launch gates), BH when a small
    * false-discovery fraction is fine (metric sweeps).
    *
    * Output: (id, p_ppm, p_rank, q_ppm).
    *
    * Scale shape: the [[bhAdjustPpm]] machinery with the scan flipped
    * — checkpoint-offset global rank + exclusive running max, no
    * global window. */
  def holmAdjustPpm(df: DataFrame, idCol: String,
                    pCol: String): DataFrame = {
    val base = df.select(col(idCol).as("__id"),
        col(pCol).cast("long").as("__p"))
      .where(col("__id").isNotNull && col("__p").isNotNull)
    val (rows, m) = GlobalRank.globalRowNumberWithTotal(base,
      Seq(col("__p").asc, col("__id").asc), "p_rank")
    val ranked = rows.withColumn("__raw",
      least(lit(1000000L), expr(s"__p * (${m}L - p_rank + 1)")))
    GlobalRank.globalRunningMaxExclusive(
        ranked, Seq(col("p_rank").asc), "__raw", "__prevMax")
      .select(col("__id").as(idCol), col("__p").as("p_ppm"),
        col("p_rank"),
        least(lit(1000000L), greatest(col("__prevMax"), col("__raw")))
          .as("q_ppm"))
  }

  def bhAdjustPpm(df: DataFrame, idCol: String, pCol: String): DataFrame = {
    val base = df.select(col(idCol).as("__id"),
        col(pCol).cast("long").as("__p"))
      .where(col("__id").isNotNull && col("__p").isNotNull)
    val (rows, m) = GlobalRank.globalRowNumberWithTotal(base,
      Seq(col("__p").asc, col("__id").asc), "p_rank")
    val ranked = rows.withColumn("__raw",
      least(lit(1000000L), expr(s"(__p * ${m}L) div p_rank")))
    // suffix min over descending rank = −(prefix max of −raw under
    // ASCENDING (m − rank)); globalRunningMaxExclusive is exclusive,
    // so fold the row's own value back in with greatest(...)
    GlobalRank.globalRunningMaxExclusive(
        ranked.withColumn("__neg", -col("__raw")),
        Seq(col("p_rank").desc), "__neg", "__prevMax")
      .select(col("__id").as(idCol), col("__p").as("p_ppm"), col("p_rank"),
        (-greatest(col("__prevMax"), col("__neg"))).as("q_ppm"))
  }

  /** CLIFF'S DELTA — the ordinal EFFECT SIZE companion to
    * [[mannWhitneyMilli]]'s significance: δ = P(x > y) − P(x < y) over
    * all cross-group pairs, the "how often does A actually beat B"
    * number a z² can't give (huge n makes trivial shifts significant;
    * δ stays honest). δ ∈ [−1, 1]; |δ| < 0.147 is the conventional
    * "negligible" line.
    *
    * Exact identity — no pair enumeration: with 2U_A from the doubled-
    * midrank histogram ([[mannWhitneyMilli]]'s u2_a),
    *   δ·n_A·n_B = #(x>y) − #(x<y) = 2U_A − n_A·n_B
    * emitted sign-magnitude (negative lane: Spark div truncates,
    * DuckDB // floors):
    *   delta_ppm = sign(2U_A − n_A n_B)
    *               · (10⁶·|2U_A − n_A n_B| div (n_A·n_B))
    * NULL when either group is empty.
    *
    * Output one row: (n_a, n_b, delta_ppm).
    *
    * Scale shape: identical to [[mannWhitneyMilli]] — one value
    * histogram, one window-free prefix sum, one final aggregate. */
  def cliffsDeltaPpm(df: DataFrame, flagCol: String,
                     valueCol: String): DataFrame = {
    val base = df.select(col(flagCol).cast("boolean").as("__f"),
        col(valueCol).cast("long").as("__v"))
      .where(col("__f").isNotNull && col("__v").isNotNull)
    midrankHistogram(base)
      .agg(sum(col("__a")).as("__na"),
        sum(col("__t") - col("__a")).as("__nb"),
        sum(col("__a").cast(d38) * col("__r2")).as("__ra2"))
      .select(coalesce(col("__na"), lit(0L)).cast("long").as("n_a"),
        coalesce(col("__nb"), lit(0L)).cast("long").as("n_b"),
        (col("__ra2") - col("__na").cast(d38) * (col("__na") + 1))
          .as("__u2"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") === 0 || col("n_b") === 0,
            lit(null).cast("long"))
          .otherwise(expr(
            """CAST(CAST(sign(__u2 - CAST(n_a AS DECIMAL(38,0)) * n_b) AS DECIMAL(38,0)) *
              |((1000000 * abs(__u2 - CAST(n_a AS DECIMAL(38,0)) * n_b))
              | div (CAST(n_a AS DECIMAL(38,0)) * n_b)) AS BIGINT)"""
              .stripMargin.replace("\n", " ")))
          .as("delta_ppm"))
  }

  /** YUEN'S TRIMMED-MEANS TEST — the robust Welch: compare TRIMMED
    * means with WINSORIZED variances, so a handful of whale values
    * can't swamp the read the way they do ops/Stats.welchT2Milli's raw
    * means. The standard robust two-sample location test (Yuen 1974)
    * for spend/latency metrics.
    *
    * Construction (γ = trimPm/1000 per tail, g_i = (n_i·trimPm) div
    * 1000 — pinned floor): the trimmed sum keeps order-statistic
    * positions g+1 … n−g, computed EXACTLY from the value histogram —
    * retained(v) = max(0, min(cum_v, n−g) − max(cum_v − c_v, g)) — no
    * sort of raw rows; winsorization adds g copies of the (g+1)-th and
    * (n−g)-th order statistics back. With h = n − 2g,
    * A = Qw·n − Sw² (winsorized SS numerator):
    *   Δ_micro  = (10⁶·|Ts₁h₂ − Ts₂h₁|) div (h₁h₂)     [+ sign lane]
    *   d_i      = (10⁶·A_i) div (n_i·h_i·(h_i−1))
    *   t²·10³   = (1000·Δ_micro²) div (10⁶·(d₁+d₂))
    * — three pinned floors total, each documented, both engines
    * replay. NULL when either h_i < 2 or both winsorized variances
    * are 0 (all retained values tied).
    *
    * Output one row: (n_a, n_b, h_a, h_b, sign, t2_milli).
    *
    * Scale shape: one (group, value) histogram groupBy, per-group
    * cumsum over DISTINCT VALUES (window state = a group's value
    * inventory), two bounded aggregates — raw rows never sort and
    * never shuffle past the histogram. */
  def yuenTrimmedMilli(df: DataFrame, flagCol: String, valueCol: String,
                       trimPm: Int = 200): DataFrame = {
    require(trimPm >= 0 && trimPm < 500,
      s"trimPm must be in [0, 500), got $trimPm")
    val gv = df.select(col(flagCol).cast("boolean").as("__f"),
        col(valueCol).cast("long").as("__v"))
      .where(col("__f").isNotNull && col("__v").isNotNull)
      .groupBy(col("__f"), col("__v")).agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__f")).orderBy(col("__v"))
    val totals = gv.groupBy(col("__f").as("__f2"))
      .agg(sum(col("__c")).as("__n"))
      .withColumn("__g", expr(s"(__n * ${trimPm}L) div 1000"))
    val r = gv.withColumn("__cum", sum(col("__c")).over(w))
      .join(broadcast(totals), col("__f") === col("__f2"))
      .withColumn("__ret", greatest(lit(0L),
        least(col("__cum"), col("__n") - col("__g")) -
          greatest(col("__cum") - col("__c"), col("__g"))))
    val agg = r.groupBy(col("__f"))
      .agg(max(col("__n")).as("__n"), max(col("__g")).as("__g"),
        sum(col("__ret").cast(d38) * col("__v")).as("__ts"),
        sum(col("__ret").cast(d38) * col("__v") * col("__v")).as("__tq"),
        min(when(col("__cum") >= col("__g") + 1, col("__v"))).as("__vlo"),
        min(when(col("__cum") >= col("__n") - col("__g"), col("__v")))
          .as("__vhi"))
      .select(col("__f"), col("__n"),
        (col("__n") - col("__g") * 2).as("__h"), col("__ts"),
        // A = Qw·n − Sw² over the winsorized sample
        ((col("__tq") + col("__g").cast(d38) *
            (col("__vlo").cast(d38) * col("__vlo") +
             col("__vhi").cast(d38) * col("__vhi"))) * col("__n") -
          (col("__ts") + col("__g").cast(d38) *
            (col("__vlo") + col("__vhi"))) *
          (col("__ts") + col("__g").cast(d38) *
            (col("__vlo") + col("__vhi")))).as("__a"))
    def side(f: Boolean, c: Column) = max(when(col("__f") === f, c))
    agg.agg(
        side(true, col("__n")).as("__na"), side(false, col("__n")).as("__nb"),
        side(true, col("__h")).as("__ha"), side(false, col("__h")).as("__hb"),
        side(true, col("__ts")).as("__tsa"), side(false, col("__ts")).as("__tsb"),
        side(true, col("__a")).as("__aa"), side(false, col("__a")).as("__ab"))
      .select(
        coalesce(col("__na"), lit(0L)).cast("long").as("n_a"),
        coalesce(col("__nb"), lit(0L)).cast("long").as("n_b"),
        coalesce(col("__ha"), lit(0L)).cast("long").as("h_a"),
        coalesce(col("__hb"), lit(0L)).cast("long").as("h_b"),
        col("__tsa"), col("__tsb"), col("__aa"), col("__ab"))
      .select(col("n_a"), col("n_b"), col("h_a"), col("h_b"),
        when(col("n_a") === 0 || col("n_b") === 0, lit(0L))
          .otherwise(signum(col("__tsa") * col("h_b") -
            col("__tsb") * col("h_a")).cast("long")).as("sign"),
        // chained whens: CaseWhen evaluates in order, so the h < 2
        // branch fires BEFORE any (h−1) denominator is touched — a
        // single OR would still evaluate the division under ANSI
        when(col("n_a") === 0 || col("n_b") === 0 ||
            col("h_a") < 2 || col("h_b") < 2, lit(null).cast("long"))
          .when(expr(
            """(1000000 * __aa) div (CAST(n_a AS DECIMAL(38,0)) * h_a * (h_a - 1))
              |+ (1000000 * __ab) div (CAST(n_b AS DECIMAL(38,0)) * h_b * (h_b - 1))"""
              .stripMargin.replace("\n", " ")) === 0,
            lit(null).cast("long"))
          .otherwise(expr(
            // `div` yields BIGINT — re-enter the DECIMAL(38) lane
            // before squaring (Δ_micro² ~ 10²¹ overflows a long)
            """CAST((1000 * CAST((1000000 * abs(__tsa * h_b - __tsb * h_a)) div (CAST(h_a AS DECIMAL(38,0)) * h_b) AS DECIMAL(38,0))
              |     * CAST((1000000 * abs(__tsa * h_b - __tsb * h_a)) div (CAST(h_a AS DECIMAL(38,0)) * h_b) AS DECIMAL(38,0)))
              |div (CAST(1000000 AS DECIMAL(38,0)) *
              |     (CAST((1000000 * __aa) div (CAST(n_a AS DECIMAL(38,0)) * h_a * (h_a - 1)) AS DECIMAL(38,0))
              |      + CAST((1000000 * __ab) div (CAST(n_b AS DECIMAL(38,0)) * h_b * (h_b - 1)) AS DECIMAL(38,0))))
              |AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("t2_milli"))
  }

  /** BROWN–FORSYTHE test — "do these k groups have the same SPREAD?":
    * the robust (median-centered) Levene variance-equality test, the
    * check that belongs BEFORE a t-test/ANOVA read and the direct
    * "did the variance move" alarm for latency and spend metrics.
    * Median-centering (vs Levene's mean) keeps the test honest under
    * the skew such metrics always have.
    *
    * Conventions pinned for cross-engine replay: the center is the
    * LOWER MEDIAN (smallest v with 2·cum ≥ n — an actual data value,
    * so Z_ij = |x − med_g| stays integer); per-group rational terms
    * are floored group by group (the logRank schedule):
    *   g_q  = (S_q²) div n_q           with S_q = Σ_j Z_qj
    *   between = Σ_q g_q − (T² div N),  T = Σ S_q   [clamped ≥ 0]
    *   within  = Σ Z² − Σ_q g_q
    *   w_milli = (1000·(N−k)·between) div ((k−1)·within)
    * NULL when within = 0 (every |deviation| tied — the degenerate
    * constant-spread case) or k < 2.
    *
    * Output one row: (n, k, w_milli).
    *
    * Scale shape: one (group, value) histogram groupBy, per-group
    * medians via a group-partitioned cumsum over DISTINCT VALUES
    * (state bounded by a group's value inventory, never its rows),
    * one broadcast of k medians back, two bounded aggregates. */
  def brownForsytheMilli(df: DataFrame, groupCol: String,
                         valueCol: String): DataFrame = {
    val gv = df.select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("long").as("__v"))
      .where(col("__g").isNotNull && col("__v").isNotNull)
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
      .localCheckpoint() // consumed by the median pass and the Z pass
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__v"))
    val totals = gv.groupBy(col("__g").as("__g2"))
      .agg(sum(col("__c")).as("__n"))
    val medians = gv.withColumn("__cum", sum(col("__c")).over(w))
      .join(totals, col("__g") === col("__g2"))
      .where(lit(2L) * col("__cum") >= col("__n"))
      .groupBy(col("__g").as("__gm"))
      .agg(min(col("__v")).as("__med"))
    val z = gv.join(broadcast(medians), col("__g") === col("__gm"))
      .select(col("__g"), col("__c"),
        abs(col("__v") - col("__med")).as("__z"))
    val perGroup = z.groupBy(col("__g"))
      .agg(sum(col("__c")).as("__ng"),
        sum(col("__c").cast(d38) * col("__z")).as("__s"),
        sum(col("__c").cast(d38) * col("__z") * col("__z")).as("__ss"))
    perGroup
      .agg(sum(col("__ng")).as("__nn"), count(lit(1)).as("__k"),
        sum(col("__s")).as("__t"),
        sum(expr("(__s * __s) div CAST(__ng AS DECIMAL(38,0))"))
          .as("__gq"),
        sum(col("__ss")).as("__w2"))
      .select(col("__nn").cast("long").as("n"),
        col("__k").cast("long").as("k"),
        greatest(expr(
          "__gq - (__t * __t) div CAST(__nn AS DECIMAL(38,0))"),
          lit(0).cast(d38)).as("__bet"),
        (col("__w2") - col("__gq")).as("__wit"))
      .select(col("n"), col("k"),
        when(col("k") < 2 || col("__wit") <= 0, lit(null).cast("long"))
          .otherwise(expr(
            """CAST((1000 * (n - k) * __bet) div ((k - 1) * __wit)
              |AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("w_milli"))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Inter-rater / inter-ranker AGREEMENT statistics in exact integer
  * arithmetic — the annotation-quality battery for preference data,
  * eval labels, and multi-judge pipelines. Cohen's kappa
  * (ops/Stats.cohenKappaPpm) covers exactly two fixed raters; this
  * module covers the shapes a labeling operation actually produces:
  * many raters ([[fleissKappaPpm]], [[gwetAc1Ppm]]), MISSING ratings
  * ([[krippendorffAlphaPpm]]), and full rankings rather than category
  * labels ([[kendallsWPpm]]).
  *
  * House determinism rules (the RankTests contract): every statistic
  * is a pinned-floor integer rational both engines replay bit-for-bit;
  * quantities that can be negative go through sign-magnitude
  * (`sign · (10⁶·|num| div den)`) because Spark `div` truncates toward
  * zero while DuckDB `//` floors — they disagree on negatives;
  * per-item rational terms are floored ITEM BY ITEM and then summed
  * (the logRankMilli stance), so the floor schedule is part of the
  * spec, not an accident of evaluation order.
  *
  * Scale shape shared by all: ratings collapse to (item, category)
  * counts in one map-side-partial groupBy, then to one category-grain
  * frame and one final single-row aggregate — rows shuffle once, at
  * the item grain, never wider.
  */
object Agreement {

  private val d38 = DecimalType(38, 0)

  /** (item, category) count frame with per-item totals:
    * (__i, __c, __nic, __ni). One groupBy + one bounded join back. */
  private def itemCatCounts(df: DataFrame, itemCol: String,
                            catCol: String): DataFrame = {
    val nic = df.select(col(itemCol).as("__i"),
        col(catCol).cast("string").as("__c"))
      .where(col("__i").isNotNull && col("__c").isNotNull)
      .groupBy(col("__i"), col("__c")).agg(count(lit(1)).as("__nic"))
    val ni = nic.groupBy(col("__i").as("__i2"))
      .agg(sum(col("__nic")).as("__ni"))
    nic.join(ni, col("__i") === col("__i2")).drop("__i2")
  }

  /** FLEISS' KAPPA — chance-corrected agreement for n items each
    * labeled by exactly `raters` raters (rater identity anonymous —
    * the crowd-label case Cohen's kappa can't express). Items whose
    * rating count differs from `raters` are excluded (incomplete
    * assignments would bias every marginal) and reported via
    * `n_dropped`.
    *
    * Exact rational: with A = Σ_ic n_ic², B = Σ_c C_c² (C_c the
    * category column totals over kept items), N kept items, r raters,
    *   P̄  = (A − N·r) / (N·r·(r−1))         observed agreement
    *   P̄e = B / (N²·r²)                      chance agreement
    *   κ   = (P̄ − P̄e) / (1 − P̄e)
    * cross-multiplied to the common denominator N²r²(r−1) and emitted
    * sign-magnitude:
    *   num = (A − N·r)·N·r − B·(r−1)
    *   den = N²·r²·(r−1) − B·(r−1)
    *   kappa_ppm = sign(num) · (10⁶·|num| div den)
    * NULL when den = 0 (every rating in one category — agreement is
    * undefined, the classic kappa degenerate case) or N = 0.
    *
    * Output one row: (n_items, n_dropped, raters, kappa_ppm).
    *
    * Scale shape: one (item, category) groupBy, one item-grain filter,
    * one category-grain aggregate (≤ |categories| rows), one final
    * row. */
  def fleissKappaPpm(df: DataFrame, itemCol: String, catCol: String,
                     raters: Int): DataFrame = {
    require(raters >= 2, s"raters must be >= 2, got $raters")
    val counts = itemCatCounts(df, itemCol, catCol)
    val dropped = counts.where(col("__ni") =!= raters)
      .agg(countDistinct(col("__i")).as("__nd"))
    val kept = counts.where(col("__ni") === raters)
    val byCat = kept.groupBy(col("__c"))
      .agg(sum(col("__nic")).as("__cc"),
        sum(col("__nic").cast(d38) * col("__nic")).as("__a"))
    byCat
      .agg(sum(col("__cc")).as("__s"),
        sum(col("__a")).as("__aa"),
        sum(col("__cc").cast(d38) * col("__cc")).as("__b"))
      .withColumn("__n", expr(s"__s div ${raters}L"))
      .crossJoin(broadcast(dropped))
      .select(
        coalesce(col("__n"), lit(0L)).cast("long").as("n_items"),
        coalesce(col("__nd"), lit(0L)).cast("long").as("n_dropped"),
        lit(raters.toLong).as("raters"),
        col("__aa"), col("__b"))
      .select(col("n_items"), col("n_dropped"), col("raters"),
        when(col("n_items") === 0 ||
            col("n_items").cast(d38) * col("n_items") * raters * raters *
              (raters - 1) - col("__b") * (raters - 1) === 0,
            lit(null).cast("long"))
          .otherwise(expr(
            s"""CAST(CAST(sign((__aa - CAST(n_items AS DECIMAL(38,0)) * $raters) * n_items * $raters
               |          - __b * ${raters - 1}) AS DECIMAL(38,0)) *
               |(CAST(1000000 AS DECIMAL(38,0)) *
               | abs((__aa - CAST(n_items AS DECIMAL(38,0)) * $raters) * n_items * $raters
               |     - __b * ${raters - 1})
               | div (CAST(n_items AS DECIMAL(38,0)) * n_items * $raters * $raters * ${raters - 1}
               |      - __b * ${raters - 1})) AS BIGINT)"""
              .stripMargin.replace("\n", " ")))
          .as("kappa_ppm"))
  }

  /** GWET'S AC1 — the prevalence-robust companion to
    * [[fleissKappaPpm]]: kappa collapses toward 0 when one category
    * dominates even under near-perfect raw agreement (the "kappa
    * paradox"); AC1 replaces the chance term with γ-agreement
    *   Pe = (1/(K−1)) Σ_c π_c(1−π_c),  π_c = C_c/(N·r)
    * which stays small under skewed marginals. Same observed-agreement
    * P̄ and the same exactly-r-ratings contract as Fleiss; K =
    * categories OBSERVED among kept items.
    *
    * Cross-multiplied to D = (K−1)·N²r²(r−1), sign-magnitude:
    *   num = (A − N·r)·(K−1)·N·r − ((N·r)² − B)·(r−1)
    *   den = D − ((N·r)² − B)·(r−1)
    *   ac1_ppm = sign(num) · (10⁶·|num| div den)
    * NULL when K = 1 (one category observed — chance term undefined)
    * or N = 0.
    *
    * Output one row: (n_items, raters, k_categories, ac1_ppm).
    * Scale shape: identical to [[fleissKappaPpm]]. */
  def gwetAc1Ppm(df: DataFrame, itemCol: String, catCol: String,
                 raters: Int): DataFrame = {
    require(raters >= 2, s"raters must be >= 2, got $raters")
    val kept = itemCatCounts(df, itemCol, catCol)
      .where(col("__ni") === raters)
    val byCat = kept.groupBy(col("__c"))
      .agg(sum(col("__nic")).as("__cc"),
        sum(col("__nic").cast(d38) * col("__nic")).as("__a"))
    byCat
      .agg(sum(col("__cc")).as("__s"),
        count(lit(1)).as("__k"),
        sum(col("__a")).as("__aa"),
        sum(col("__cc").cast(d38) * col("__cc")).as("__b"))
      .withColumn("__n", expr(s"__s div ${raters}L"))
      .select(coalesce(col("__n"), lit(0L)).cast("long").as("n_items"),
        lit(raters.toLong).as("raters"),
        coalesce(col("__k"), lit(0L)).cast("long").as("k_categories"),
        col("__aa"), col("__b"))
      .select(col("n_items"), col("raters"), col("k_categories"),
        when(col("n_items") === 0 || col("k_categories") < 2,
            lit(null).cast("long"))
          .otherwise(expr(
            s"""CAST(CAST(sign((__aa - CAST(n_items AS DECIMAL(38,0)) * $raters)
               |            * (k_categories - 1) * n_items * $raters
               |          - (CAST(n_items AS DECIMAL(38,0)) * $raters * n_items * $raters - __b)
               |            * ${raters - 1}) AS DECIMAL(38,0)) *
               |(CAST(1000000 AS DECIMAL(38,0)) *
               | abs((__aa - CAST(n_items AS DECIMAL(38,0)) * $raters)
               |       * (k_categories - 1) * n_items * $raters
               |     - (CAST(n_items AS DECIMAL(38,0)) * $raters * n_items * $raters - __b)
               |       * ${raters - 1})
               | div ((k_categories - 1) * CAST(n_items AS DECIMAL(38,0)) * n_items
               |        * $raters * $raters * ${raters - 1}
               |      - (CAST(n_items AS DECIMAL(38,0)) * $raters * n_items * $raters - __b)
               |        * ${raters - 1})) AS BIGINT)"""
              .stripMargin.replace("\n", " ")))
          .as("ac1_ppm"))
  }

  /** KRIPPENDORFF'S ALPHA (nominal) — agreement when raters are
    * UNEQUAL per item (missing labels, rotating annotator pools): the
    * coincidence-matrix form, which [[fleissKappaPpm]]'s equal-r
    * contract cannot express. Items with fewer than 2 ratings are
    * unpairable and drop (reported via `n_unpairable`).
    *
    * Exact pinned-floor form over pairable items (n = Σ n_u ratings):
    *   do_micro = Σ_u (10⁶ · Σ_c n_uc(n_u − n_uc)) div (n_u − 1)
    *              [per-ITEM floor, then summed — replayable schedule]
    *   alpha_ppm = 10⁶ − (do_micro · (n−1)) div (n² − Σ_c C_c²)
    * The divided quantities are non-negative, so floor direction never
    * splits the engines; alpha itself may go negative (worse than
    * chance) through the final subtraction, which is exact. NULL when
    * n² = Σ C_c² (all ratings one category — expected disagreement 0).
    *
    * Output one row: (n_values, n_unpairable, alpha_ppm).
    *
    * Scale shape: one (item, category) groupBy, one item-grain
    * aggregate, one category-grain aggregate, one final row. */
  def krippendorffAlphaPpm(df: DataFrame, itemCol: String,
                           catCol: String): DataFrame = {
    val counts = itemCatCounts(df, itemCol, catCol)
    val unpairable = counts.where(col("__ni") < 2)
      .agg(countDistinct(col("__i")).as("__nu"))
    val kept = counts.where(col("__ni") >= 2)
    // per-item observed-disagreement term, floored item by item
    val perItem = kept.groupBy(col("__i"), col("__ni"))
      .agg(sum(col("__nic").cast(d38) * (col("__ni") - col("__nic")))
        .as("__dis"))
      .select(col("__ni"),
        expr("(1000000 * __dis) div (__ni - 1)").as("__do"))
    val doAgg = perItem.agg(sum(col("__ni")).as("__n"),
      sum(col("__do")).as("__dom"))
    val byCat = kept.groupBy(col("__c"))
      .agg(sum(col("__nic")).cast(d38).as("__cc"))
      .agg(sum(col("__cc") * col("__cc")).as("__b"))
    doAgg.crossJoin(broadcast(byCat))
      .crossJoin(broadcast(unpairable))
      .select(coalesce(col("__n"), lit(0L)).cast("long").as("n_values"),
        coalesce(col("__nu"), lit(0L)).cast("long").as("n_unpairable"),
        col("__dom"), col("__b"))
      .select(col("n_values"), col("n_unpairable"),
        when(col("n_values") === 0 ||
            col("n_values").cast(d38) * col("n_values") === col("__b"),
            lit(null).cast("long"))
          .otherwise(expr(
            """1000000 - CAST((__dom * (n_values - 1))
              |div (CAST(n_values AS DECIMAL(38,0)) * n_values - __b)
              |AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("alpha_ppm"))
  }

  /** KENDALL'S W (coefficient of concordance) — "do these m rankers
    * produce the SAME ordering?" over complete rankings: the
    * multi-ranker generalization of rank correlation, the summary
    * number over a panel of judges where llm/Relevance.rboPpm compares
    * exactly two. W ∈ [0,1]: 1 = identical orderings, 1/m-ish = no
    * association.
    *
    * Contract: each of the m rankers ranks the SAME n items exactly
    * once with ranks 1..n and NO ties (break ties upstream by id —
    * the gate does; a strict total order per ranker is what
    * GlobalRank.globalRowNumber emits). With R_i the rank sum of item
    * i, the doubled-deviation form is pure integer:
    *   S4 = Σ_i (2·R_i − m·(n+1))²      [= 4·S]
    *   w_ppm = (3·10⁶ · S4) div (m²·(n³−n))
    * NULL when n < 2. The companion χ² test statistic is
    * m·(n−1)·W — derivable from the output, not re-emitted.
    *
    * Output one row: (n_items, m_rankers, w_ppm).
    *
    * Scale shape: one item-grain groupBy (rank sums), one final
    * aggregate — the ranker axis is a column, never a shuffle. */
  def kendallsWPpm(df: DataFrame, rankerCol: String, itemCol: String,
                   rankCol: String): DataFrame = {
    val base = df.select(col(rankerCol).cast("string").as("__j"),
        col(itemCol).as("__i"), col(rankCol).cast("long").as("__r"))
      .where(col("__j").isNotNull && col("__i").isNotNull &&
        col("__r").isNotNull)
    val perItem = base.groupBy(col("__i"))
      .agg(count(lit(1)).as("__m"), sum(col("__r")).as("__ri"))
    perItem
      .agg(count(lit(1)).as("__n"), max(col("__m")).as("__mm"),
        sum(col("__ri").cast(d38) * col("__ri")).as("__sq"),
        sum(col("__ri").cast(d38)).as("__lin"))
      .select(col("__n").cast("long").as("n_items"),
        coalesce(col("__mm"), lit(0L)).cast("long").as("m_rankers"),
        col("__sq"), col("__lin"))
      .select(col("n_items"), col("m_rankers"),
        when(col("n_items") < 2, lit(null).cast("long"))
          .otherwise(expr(
            // S4 = Σ(2R_i − m(n+1))² = 4Σ R_i² − 4m(n+1)Σ R_i + n·m²(n+1)²
            """CAST((3000000 * (4 * __sq
              |  - 4 * CAST(m_rankers AS DECIMAL(38,0)) * (n_items + 1) * __lin
              |  + CAST(n_items AS DECIMAL(38,0)) * m_rankers * m_rankers
              |    * (n_items + 1) * (n_items + 1)))
              |div (CAST(m_rankers AS DECIMAL(38,0)) * m_rankers
              |     * (CAST(n_items AS DECIMAL(38,0)) * n_items * n_items - n_items))
              |AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("w_ppm"))
  }

  /** Largest alphabet product K_a·K_b that [[weightedKappaPpm]] and
    * [[gkLambdaPpm]] accept. Both fold their contingency cells into ONE
    * array in ONE row, and each marginal scans that array once per
    * category, so the final step costs O((K_a+K_b)·K_a·K_b) lambda
    * steps on a single task: 4096 cells (a 64×64 alphabet) keep it
    * under a million. A larger alphabet fails the query with a
    * `GRAFT_CONTINGENCY_ALPHABET` error rather than run that step on
    * one core. Bucket the categories upstream. */
  val MaxContingencyCells: Long = 4096L

  /** Aggregate: the (i, j, n) contingency cells as one array of
    * structs. A cell with a NULL key drops out. */
  private[graft] def cellList(i: Column, j: Column, n: Column): Column =
    collect_list(when(i.isNotNull && j.isNotNull,
      struct(i.as("i"), j.as("j"), n.as("n"))))

  /** The cell list, or a `GRAFT_CONTINGENCY_ALPHABET` error when K_a·K_b
    * exceeds [[MaxContingencyCells]]. */
  private def boundedCells(cells: Column, op: String): Column = {
    def k(side: String) =
      size(array_distinct(transform(cells, _(side)))).cast("long")
    when(k("i") * k("j") > MaxContingencyCells, raise_error(concat(
        lit(s"GRAFT_CONTINGENCY_ALPHABET: $op takes K_a*K_b <= " +
          s"$MaxContingencyCells, got K_a="), k("i").cast("string"),
        lit(", K_b="), k("j").cast("string"))))
      .otherwise(cells)
  }

  /** One struct per distinct key k of a cell list's `side` ("i" or
    * "j"): the marginal total m and the largest cell count top. */
  private def margins(cells: Column, side: String): Column =
    transform(array_distinct(transform(cells, _(side))), k => {
      val line = filter(cells, _(side) === k)
      struct(k.as("k"),
        aggregate(line, lit(0L), (a, c) => a + c("n")).as("m"),
        array_max(transform(line, _("n"))).as("top"))
    })

  /** WEIGHTED COHEN'S KAPPA (linear weights) — two-rater agreement for
    * ORDINAL categories, where plain kappa (ops/Stats.cohenKappaPpm)
    * treats "one bucket off" and "five buckets off" as equally wrong:
    * disagreement is weighted by the integer band distance |i−j| (the
    * (K−1) normalizer cancels between numerator and denominator, so
    * the linear-weight form needs no fraction at all):
    *
    *   κ_w·10⁶ = 10⁶ − (10⁶ · n · Σ_ij w(i,j)·n_ij)
    *             div (Σ_ij w(i,j)·r_i·c_j)
    *
    * with w = |i−j| (`power = 1`, Cicchetti weights) or (i−j)²
    * (`power = 2`, the QUADRATIC kappa every ordinal-prediction
    * leaderboard scores — its (K−1)² normalizer cancels identically).
    * Both divided quantities non-negative (the subtraction carries
    * the sign exactly, the chiSquare stance), NULL when the expected
    * weighted disagreement is 0 (both raters' marginals sit on one
    * identical category, or no rated pair at all). Categories are
    * LONG ordinal codes, and the alphabet must stay bounded:
    * K_a·K_b ≤ [[MaxContingencyCells]], enforced in the plan.
    *
    * Output one row: (n, kappa_w_ppm).
    *
    * Scale shape: one (i,j) contingency groupBy — rows shuffle once, at
    * cell grain — then ONE global aggregate collects the ≤ K_a·K_b
    * cells into a single row, where Catalyst higher-order functions
    * derive n, the observed term, both marginals and the expected
    * term (the K_a×K_b marginal product). Nothing is pinned: the input
    * is read once by one plan. */
  def weightedKappaPpm(df: DataFrame, aCol: String, bCol: String,
                       power: Int = 1): DataFrame =
    df.select(col(aCol).cast("long").as("__i"),
        col(bCol).cast("long").as("__j"))
      .where(col("__i").isNotNull && col("__j").isNotNull)
      .groupBy(col("__i"), col("__j")).agg(count(lit(1)).as("__nij"))
      .agg(cellList(col("__i"), col("__j"), col("__nij")).as("__cells"))
      .transform(weightedKappaOfCells(power))

  /** [[weightedKappaPpm]] over a one-row frame whose `__cells` column is
    * a [[cellList]] of LONG codes. Every other column passes through,
    * ahead of (n, kappa_w_ppm): a caller that groups its rows at cell
    * grain anyway can carry its own per-cell aggregates into the same
    * global aggregate (q380 carries the micro-batch bucket). */
  private[graft] def weightedKappaOfCells(power: Int)(
      row: DataFrame): DataFrame = {
    require(power == 1 || power == 2,
      s"power must be 1 (linear) or 2 (quadratic), got $power")
    def wt(i: Column, j: Column) =
      if (power == 1) abs(i - j).cast(d38)
      else (i - j).cast(d38) * (i - j)
    val keep = row.columns.toSeq.filter(_ != "__cells").map(col)
    val cells = col("__cells")
    val zero = lit(0).cast(d38)
    row.select(keep :+
        boundedCells(cells, "weightedKappaPpm").as("__cells"): _*)
      .select(keep ++ Seq(cells, margins(cells, "i").as("__ra"),
        margins(cells, "j").as("__cb")): _*)
      .select(keep ++ Seq(
        aggregate(cells, lit(0L), (a, c) => a + c("n")).as("__n"),
        aggregate(cells, zero,
          (a, c) => a + wt(c("i"), c("j")) * c("n")).as("__wo"),
        aggregate(col("__ra"), zero, (a, r) => a +
          aggregate(col("__cb"), zero,
            (b, c) => b + wt(r("k"), c("k")) * r("m") * c("m")))
          .as("__we")): _*)
      .select(keep ++ Seq(col("__n").as("n"),
        when(col("__we") === 0, lit(null).cast("long"))
          .otherwise(expr(
            """1000000 - CAST((1000000 * CAST(__n AS DECIMAL(38,0)) * __wo)
              |div __we AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("kappa_w_ppm")): _*)
  }

  /** PARTITION AGREEMENT (ARI + Fowlkes–Mallows) — "did the clustering
    * recover the labels?": compares two PARTITIONS of the same items
    * (a cluster assignment vs gold labels, or two independent
    * clusterings), the evaluation step after every semantic-dedup /
    * k-means / community stage. Chance-corrected, so a 1000-cluster
    * shatter can't fake a good score the way purity can.
    *
    * Exact doubled-pair form (p2 = Σ n_ij(n_ij−1), qa2/qb2 the same
    * over row/column marginals, t2 = n(n−1)):
    *   ari_ppm = sign(num) · (10⁶·|num| div den)     [sign-magnitude]
    *     num = 2·p2·t2 − 2·qa2·qb2
    *     den = t2·(qa2+qb2) − 2·qa2·qb2
    *   fm2_ppm = (10⁶·p2²) div (qa2·qb2)             [FM = √(fm2)]
    * FM carries a square root, so like pearsonR2Ppm the stable
    * quantity is the square (FM ≥ 0 — no sign lane needed). ari NULL
    * when den = 0, fm2 NULL when either partition has no co-clustered
    * pair (qa2·qb2 = 0).
    *
    * Output one row: (n, k_a, k_b, ari_ppm, fm2_ppm).
    *
    * Scale shape: one (a,b) contingency groupBy — cells shuffle, rows
    * don't — then two marginal-grain aggregates and one final row.
    * The cells are pinned (one local checkpoint) because three passes
    * read them. They are NOT folded into one row the way
    * [[weightedKappaPpm]] folds its cells: both sides are cluster ids,
    * whose alphabet has no bound (a shattering clustering has one
    * cluster per item), so the cell table can be as large as the
    * input and must stay a distributed frame. */
  def partitionAgreementPpm(df: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val cells = df.select(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__nij"))
      .localCheckpoint() // consumed by the cell pass and both marginals
    partitionAgreementPpmFromCells(cells)
  }

  /** [[partitionAgreementPpm]] over a PRE-AGGREGATED contingency table —
    * `cells` carries (__a, __b, __nij) with non-null string keys and
    * positive counts, exactly the frame the row-level form builds
    * internally. The monitoring entry point (r13 q365 coalescing): a
    * drift monitor that already aggregates its batch to (pred_a, pred_b)
    * cell counts for other metrics can feed the SAME tiny frame here
    * instead of paying a second row-level contingency groupBy per
    * micro-batch. Arithmetic identical to the row-level form (it
    * delegates here). `cells` is consumed three times (cell pass + both
    * marginals) — pass a checkpointed/persisted frame. */
  def partitionAgreementPpmFromCells(cells: DataFrame): DataFrame = {
    val cell = cells.agg(sum(col("__nij")).as("__n"),
      sum(col("__nij").cast(d38) * (col("__nij") - 1)).as("__p2"))
    def marginal(k: String, q: String, kk: String) = cells
      .groupBy(col(k)).agg(sum(col("__nij")).as("__m"))
      .agg(count(lit(1)).as(kk),
        sum(col("__m").cast(d38) * (col("__m") - 1)).as(q))
    cell.crossJoin(broadcast(marginal("__a", "__qa2", "__ka")))
      .crossJoin(broadcast(marginal("__b", "__qb2", "__kb")))
      .select(coalesce(col("__n"), lit(0L)).cast("long").as("n"),
        col("__ka").cast("long").as("k_a"),
        col("__kb").cast("long").as("k_b"),
        col("__p2"), col("__qa2"), col("__qb2"))
      .select(col("n"), col("k_a"), col("k_b"),
        when(col("n") < 2 ||
            col("n").cast(d38) * (col("n") - 1) *
              (col("__qa2") + col("__qb2")) -
              lit(2).cast(d38) * col("__qa2") * col("__qb2") === 0,
            lit(null).cast("long"))
          .otherwise(expr(
            """CAST(CAST(sign(2 * __p2 * (CAST(n AS DECIMAL(38,0)) * (n - 1))
              |          - 2 * __qa2 * __qb2) AS DECIMAL(38,0)) *
              |((1000000 * abs(2 * __p2 * (CAST(n AS DECIMAL(38,0)) * (n - 1))
              |                - 2 * __qa2 * __qb2))
              | div ((CAST(n AS DECIMAL(38,0)) * (n - 1)) * (__qa2 + __qb2)
              |      - 2 * __qa2 * __qb2)) AS BIGINT)"""
              .stripMargin.replace("\n", " ")))
          .as("ari_ppm"),
        when(col("__qa2") === 0 || col("__qb2") === 0,
            lit(null).cast("long"))
          .otherwise(expr(
            "CAST((1000000 * __p2 * __p2) div (__qa2 * __qb2) AS BIGINT)"))
          .as("fm2_ppm"))
  }

  /** GOODMAN–KRUSKAL LAMBDA — proportional-reduction-in-error
    * association between two categoricals: "knowing A, how much better
    * do I guess B?" (and the reverse). The division-exact member of
    * the association family — Cramér's V (q252) squares a chi-square,
    * lambda counts modal guesses, so it reads directly as an error
    * reduction and is exactly replayable with two integer divisions:
    *   λ_B|A·10⁶ = (10⁶·(Σ_i max_j n_ij − max_j C_j)) div (n − max_j C_j)
    * (numerator ≥ 0 since row maxima dominate the column-total max).
    * NULL when the predicted variable is constant (n = max marginal)
    * or the input has no complete pair. The alphabet must stay
    * bounded: K_a·K_b ≤ [[MaxContingencyCells]], enforced in the plan.
    *
    * Output one row: (n, lambda_ab_ppm = predict B from A,
    * lambda_ba_ppm = predict A from B).
    *
    * Scale shape: one contingency groupBy — rows shuffle once, at cell
    * grain — then ONE global aggregate collects the cells into a
    * single row, where higher-order functions take the row maxima,
    * column maxima and both marginals. Nothing is pinned. */
  def gkLambdaPpm(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = col("__cells")
    df.select(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__nij"))
      .agg(cellList(col("__a"), col("__b"), col("__nij")).as("__cells"))
      .select(boundedCells(cells, "gkLambdaPpm").as("__cells"))
      .select(aggregate(cells, lit(0L), (a, c) => a + c("n")).as("__n"),
        margins(cells, "i").as("__ra"), margins(cells, "j").as("__cb"))
      .select(col("__n"),
        aggregate(col("__ra"), lit(0L), (a, r) => a + r("top"))
          .as("__rowmax"),
        aggregate(col("__cb"), lit(0L), (a, c) => a + c("top"))
          .as("__colmax"),
        array_max(transform(col("__ra"), _("m"))).as("__maxa"),
        array_max(transform(col("__cb"), _("m"))).as("__maxb"))
      .select(col("__n").as("n"),
        when(col("__n") === col("__maxb"), lit(null).cast("long"))
          .otherwise(expr(
            "(1000000 * (__rowmax - __maxb)) div (__n - __maxb)"))
          .as("lambda_ab_ppm"),
        when(col("__n") === col("__maxa"), lit(null).cast("long"))
          .otherwise(expr(
            "(1000000 * (__colmax - __maxa)) div (__n - __maxa)"))
          .as("lambda_ba_ppm"))
  }

  /** SPECIFIC AGREEMENT (positive / negative percent agreement) — the
    * per-class companion every kappa needs next to it: kappa says how
    * far above chance two binary raters sit OVERALL, PA/NA say whether
    * they agree on the PRESENCE calls specifically (the CLSI EP12
    * convention for comparing a candidate labeler against a
    * comparator). With the 2×2 cells a = both-positive, d =
    * both-negative, b+c discordant:
    *
    *   pa_ppm = (10⁶·2a) div (2a + b + c)
    *   na_ppm = (10⁶·2d) div (2d + b + c)
    *
    * — two pinned floors, NULL per side when its denominator is 0 (no
    * positive calls at all / no negative calls at all).
    *
    * Output one row: (n, both_pos, both_neg, discordant, pa_ppm,
    * na_ppm).
    *
    * Scale shape: one map-side-partial single-row aggregate — rows
    * never shuffle. */
  def specificAgreementPpm(df: DataFrame, aCol: String,
                           bCol: String): DataFrame = {
    val base = df.select(col(aCol).cast("boolean").as("__a"),
        col(bCol).cast("boolean").as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
    base.agg(count(lit(1)).as("n"),
        sum(when(col("__a") && col("__b"), 1L).otherwise(0L))
          .as("both_pos"),
        sum(when(!col("__a") && !col("__b"), 1L).otherwise(0L))
          .as("both_neg"),
        sum(when(col("__a") =!= col("__b"), 1L).otherwise(0L))
          .as("discordant"))
      .select(col("n").cast("long").as("n"),
        coalesce(col("both_pos"), lit(0L)).as("both_pos"),
        coalesce(col("both_neg"), lit(0L)).as("both_neg"),
        coalesce(col("discordant"), lit(0L)).as("discordant"))
      .select(col("n"), col("both_pos"), col("both_neg"),
        col("discordant"),
        when(lit(2L) * col("both_pos") + col("discordant") === 0,
            lit(null).cast("long"))
          .otherwise(expr(
            "(1000000 * 2 * both_pos) div (2 * both_pos + discordant)"))
          .as("pa_ppm"),
        when(lit(2L) * col("both_neg") + col("discordant") === 0,
            lit(null).cast("long"))
          .otherwise(expr(
            "(1000000 * 2 * both_neg) div (2 * both_neg + discordant)"))
          .as("na_ppm"))
  }

  /** COCHRAN'S Q — "do these k binary classifiers/treatments have the
    * same success rate on the SAME items?": the k-treatment
    * generalization of McNemar (ops/Stats.mcnemarMilli), the gate
    * before pairwise post-hocs when comparing k rule variants on one
    * eval set. Input is WIDE — one row per item, one boolean column
    * per treatment (the mcnemar calling convention).
    *
    * Exact integer form with C_j = per-treatment success totals,
    * T = Σ C_j, R_i = per-item success count:
    *   q_milli = (1000·(k−1)·(k·Σ_j C_j² − T²)) div (k·T − Σ_i R_i²)
    * The numerator is ≥ 0 (power-mean inequality), so no sign lane.
    * NULL when the denominator is 0 — every item all-success or
    * all-failure (no within-item variation, the test undefined).
    *
    * Output one row: (n_items, k, q_milli).
    *
    * Scale shape: R_i is computed row-wise map-side; one single-row
    * aggregate carries Σ R_i² and each C_j — rows never shuffle. */
  def cochranQMilli(df: DataFrame, treatmentCols: Seq[String]): DataFrame = {
    val k = treatmentCols.size
    require(k >= 2, s"need >= 2 treatments, got $k")
    val flags = treatmentCols.map(c => col(c).cast("boolean"))
    val base = df.where(flags.map(_.isNotNull).reduce(_ && _))
      .select(
        (flags.map(f => when(f, 1L).otherwise(0L)).reduce(_ + _))
          .as("__ri") +: treatmentCols.zipWithIndex.map { case (c, j) =>
            when(col(c).cast("boolean"), 1L).otherwise(0L).as(s"__t$j")
          }: _*)
    val aggs = Seq(count(lit(1)).as("__n"),
      sum(col("__ri")).as("__tt"),
      sum(col("__ri").cast(d38) * col("__ri")).as("__r2")) ++
      (0 until k).map(j => sum(col(s"__t$j")).as(s"__c$j"))
    val cSq = (0 until k).map(j =>
      s"CAST(__c$j AS DECIMAL(38,0)) * __c$j").mkString(" + ")
    base.agg(aggs.head, aggs.tail: _*)
      .select(col("__n").cast("long").as("n_items"),
        lit(k.toLong).as("k"),
        when(lit(k).cast(d38) * col("__tt") - col("__r2") === 0,
            lit(null).cast("long"))
          .otherwise(expr(
            s"""CAST((1000 * ${k - 1} * ($k * ($cSq)
               |  - CAST(__tt AS DECIMAL(38,0)) * __tt))
               |div ($k * CAST(__tt AS DECIMAL(38,0)) - __r2)
               |AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("q_milli"))
  }

  /** INTRACLASS CORRELATION ICC(2,1) — absolute-agreement reliability
    * for CONTINUOUS ratings: the missing continuous member of the
    * battery ([[fleissKappaPpm]] is categorical, [[kendallsWPpm]] is
    * ranks). Two-way random-effects, single-rater, absolute agreement
    * (Shrout & Fleiss 1979 "ICC(2,1)") — the statistic that PENALIZES
    * a rater with a systematic offset, where Pearson would score it a
    * perfect 1.
    *
    * Contract: long-format (item, rater, value) with integer values
    * (scale to cents/milli upstream), one rating per (item, rater),
    * every kept item rated by exactly `raters` raters; items whose
    * rating count differs drop and are reported via `n_dropped` (the
    * Fleiss stance — an incomplete row would bias every mean square).
    *
    * Exact rational. With T = Σx, S = Σx², P = Σ_i R_i² (item-sum
    * squares), Q = Σ_j C_j² (rater-sum squares), n kept items, k
    * raters, the nk-scaled sums of squares are pure integers:
    *   u = n·P − T²            (= nk·SS_items)
    *   c = k·Q − T²            (= nk·SS_raters)
    *   e = nk·S − T² − u − c   (= nk·SS_error)
    * and ICC(2,1) = (MSR−MSE)/(MSR+(k−1)MSE+(k/n)(MSC−MSE)) cross-
    * multiplies to ONE division:
    *   num = n·(u·(k−1) − e)
    *   den = (u+e)·n·(k−1) + c·k·(n−1) − e·k    [≥ 0: the e terms
    *         collect to e·(n(k−1)−k) ≥ 0 for n,k ≥ 2]
    *   icc_ppm = sign(num) · (10⁶·|num| div den)    [sign-magnitude]
    * NULL when n < 2 or den = 0 (all kept values identical).
    *
    * Output one row: (n_items, n_dropped, raters, icc_ppm).
    *
    * Scale shape: one item-grain groupBy (R_i), one rater-grain
    * groupBy over the bounded rater alphabet (C_j), one ratings pass
    * (S) — rows shuffle once at the item grain, never wider. */
  def iccPpm(df: DataFrame, itemCol: String, raterCol: String,
             valueCol: String, raters: Int): DataFrame = {
    require(raters >= 2, s"raters must be >= 2, got $raters")
    val base = df.select(col(itemCol).as("__i"),
        col(raterCol).cast("string").as("__j"),
        col(valueCol).cast("long").as("__x"))
      .where(col("__i").isNotNull && col("__j").isNotNull &&
        col("__x").isNotNull)
    // __nj (distinct raters) next to __ni (ratings): a duplicate
    // (item, rater) pair paired with a missing rater reaches
    // __ni = raters, and before the __nj check it silently biased the
    // per-rater column sums Q and the ANOVA — now such an item DROPS
    // with the other incomplete designs (one-rating-per-(item,rater)
    // enforced, not just documented).
    val perItem = base.groupBy(col("__i"))
      .agg(count(lit(1)).as("__ni"),
        countDistinct(col("__j")).as("__nj"),
        sum(col("__x")).as("__ri"))
    val dropped = perItem
      .where(col("__ni") =!= raters || col("__nj") =!= raters)
      .agg(countDistinct(col("__i")).as("__nd"))
    val keptIds = perItem
      .where(col("__ni") === raters && col("__nj") === raters)
      .select(col("__i").as("__ik"), col("__ri"))
    val itemAgg = keptIds.agg(count(lit(1)).as("__n"),
      sum(col("__ri").cast(d38)).as("__t"),
      sum(col("__ri").cast(d38) * col("__ri")).as("__p"))
    val keptRatings = base.join(keptIds.select(col("__ik")),
      col("__i") === col("__ik")).drop("__ik")
    val valAgg = keptRatings
      .agg(sum(col("__x").cast(d38) * col("__x")).as("__s"))
    val raterAgg = keptRatings.groupBy(col("__j"))
      .agg(sum(col("__x")).as("__cj"))
      .agg(sum(col("__cj").cast(d38) * col("__cj")).as("__q"))
    itemAgg.crossJoin(broadcast(valAgg))
      .crossJoin(broadcast(raterAgg))
      .crossJoin(broadcast(dropped))
      .select(coalesce(col("__n"), lit(0L)).cast("long").as("n_items"),
        coalesce(col("__nd"), lit(0L)).cast("long").as("n_dropped"),
        lit(raters.toLong).as("raters"),
        col("__t"), col("__p"), col("__s"), col("__q"))
      .withColumn("__u", expr(
        "CAST(n_items AS DECIMAL(38,0)) * __p - __t * __t"))
      .withColumn("__c", expr(
        s"CAST($raters AS DECIMAL(38,0)) * __q - __t * __t"))
      .withColumn("__e", expr(
        s"""CAST(n_items AS DECIMAL(38,0)) * $raters * __s - __t * __t
           | - __u - __c""".stripMargin.replace("\n", " ")))
      .withColumn("__den", expr(
        s"""(__u + __e) * n_items * ${raters - 1}
           | + __c * $raters * (n_items - 1) - __e * $raters"""
          .stripMargin.replace("\n", " ")))
      .select(col("n_items"), col("n_dropped"), col("raters"),
        when(col("n_items") < 2 || col("__den") === 0,
            lit(null).cast("long"))
          .otherwise(expr(
            s"""CAST(CAST(sign(__u * ${raters - 1} - __e) AS DECIMAL(38,0)) *
               |(CAST(1000000 AS DECIMAL(38,0)) * n_items *
               | abs(__u * ${raters - 1} - __e) div __den) AS BIGINT)"""
              .stripMargin.replace("\n", " ")))
          .as("icc_ppm"))
  }

  /** LIN'S CONCORDANCE CORRELATION (CCC) — two-method agreement for
    * CONTINUOUS measurements: how far the scatter sits from the
    * y = x line, not from the best-fit line. Pearson rewards any
    * linear relation; CCC = Pearson · C_b discounts location and
    * scale shift, which makes it the method-comparison statistic
    * (one instrument vs another, a cheap scorer vs a reference) the
    * categorical battery has no member for.
    *
    * Exact rational — no square root anywhere (the one member of the
    * correlation family that is division-exact in its OWN units):
    * with population moments cross-multiplied by n²,
    *   num = 2·(n·Σxy − Σx·Σy)
    *   den = (n·Σx² − (Σx)²) + (n·Σy² − (Σy)²) + (Σx − Σy)²
    *   ccc_ppm = sign(num) · (10⁶·|num| div den)    [sign-magnitude]
    * den ≥ 0 always; NULL when n = 0 or den = 0 (both sides constant
    * and equal — agreement undefined).
    *
    * Output one row: (n, ccc_ppm).
    *
    * Scale shape: ONE map-side-partial single-row aggregate — rows
    * never shuffle. */
  def cccPpm(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.select(col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
    base.agg(count(lit(1)).as("__n"),
        sum(col("__x").cast(d38)).as("__sx"),
        sum(col("__y").cast(d38)).as("__sy"),
        sum(col("__x").cast(d38) * col("__x")).as("__sxx"),
        sum(col("__y").cast(d38) * col("__y")).as("__syy"),
        sum(col("__x").cast(d38) * col("__y")).as("__sxy"))
      .select(coalesce(col("__n"), lit(0L)).cast("long").as("n"),
        col("__sx"), col("__sy"), col("__sxx"), col("__syy"),
        col("__sxy"))
      .withColumn("__den", expr(
        """(CAST(n AS DECIMAL(38,0)) * __sxx - __sx * __sx)
          | + (CAST(n AS DECIMAL(38,0)) * __syy - __sy * __sy)
          | + (__sx - __sy) * (__sx - __sy)"""
          .stripMargin.replace("\n", " ")))
      .select(col("n"),
        when(col("n") === 0 || col("__den") === 0,
            lit(null).cast("long"))
          .otherwise(expr(
            """CAST(CAST(sign(CAST(n AS DECIMAL(38,0)) * __sxy - __sx * __sy)
              |     AS DECIMAL(38,0)) *
              |(CAST(2000000 AS DECIMAL(38,0)) *
              | abs(CAST(n AS DECIMAL(38,0)) * __sxy - __sx * __sy)
              | div __den) AS BIGINT)"""
              .stripMargin.replace("\n", " ")))
          .as("ccc_ppm"))
  }

  /** CRONBACH'S ALPHA — internal-consistency reliability of a k-item
    * score battery (do these k signals measure the same construct?):
    * the pre-check before summing quality sub-scores into one
    * composite, and the classic survey-reliability statistic. Input
    * is WIDE — one row per unit, one integer column per item (the
    * [[cochranQMilli]] calling convention, continuous-valued).
    *
    * Exact rational with the n²-scaled variances (the scale cancels):
    *   V_j = n·Σx_j² − (Σx_j)²         per-item
    *   V_t = n·Σs² − (Σs)²,  s = Σ_j x_j row total
    *   num = k·(V_t − Σ_j V_j),  den = (k−1)·V_t
    *   alpha_ppm = sign(num) · (10⁶·|num| div den)   [sign-magnitude:
    *   α ≤ 1 but goes negative on anti-correlated items]
    * NULL when n < 2 or V_t = 0 (constant totals — reliability
    * undefined).
    *
    * Output one row: (n_rows, k, alpha_ppm).
    *
    * Scale shape: ONE map-side-partial single-row aggregate — the
    * item axis is columns, rows never shuffle. */
  def cronbachAlphaPpm(df: DataFrame, itemCols: Seq[String]): DataFrame = {
    val k = itemCols.size
    require(k >= 2, s"need >= 2 items, got $k")
    val vals = itemCols.map(c => col(c).cast("long"))
    val base = df.where(vals.map(_.isNotNull).reduce(_ && _))
      .select((vals.reduce(_ + _)).as("__s") +:
        itemCols.zipWithIndex.map { case (c, j) =>
          col(c).cast("long").as(s"__x$j")
        }: _*)
    val aggs = Seq(count(lit(1)).as("__n"),
      sum(col("__s").cast(d38)).as("__st"),
      sum(col("__s").cast(d38) * col("__s")).as("__stt")) ++
      (0 until k).flatMap(j => Seq(
        sum(col(s"__x$j").cast(d38)).as(s"__s$j"),
        sum(col(s"__x$j").cast(d38) * col(s"__x$j")).as(s"__q$j")))
    val vSum = (0 until k).map(j =>
      s"(CAST(__n AS DECIMAL(38,0)) * __q$j - __s$j * __s$j)")
      .mkString(" + ")
    base.agg(aggs.head, aggs.tail: _*)
      .withColumn("__vt", expr(
        "CAST(__n AS DECIMAL(38,0)) * __stt - __st * __st"))
      .withColumn("__vi", expr(vSum))
      .select(coalesce(col("__n"), lit(0L)).cast("long").as("n_rows"),
        lit(k.toLong).as("k"),
        when(col("__n") < 2 || col("__vt") === 0,
            lit(null).cast("long"))
          .otherwise(expr(
            s"""CAST(CAST(sign(__vt - __vi) AS DECIMAL(38,0)) *
               |(CAST(1000000 AS DECIMAL(38,0)) * $k * abs(__vt - __vi)
               | div (${k - 1} * __vt)) AS BIGINT)"""
              .stripMargin.replace("\n", " ")))
          .as("alpha_ppm"))
  }

  /** BLAND–ALTMAN AGREEMENT READOUT — the method-comparison companion
    * to [[cccPpm]]: CCC gives one number, Bland–Altman asks the
    * clinical questions — what is the systematic BIAS between the two
    * readings, how wide are the limits of agreement, and what fraction
    * of differences actually falls inside them (≈95.4% under
    * normality; a heavy tail shows up here first).
    *
    * No-sqrt stance: the limits are carried as the VARIANCE of the
    * differences (sd² — LoA = bias ± 2·sqrt, derivable downstream),
    * and the within-2sd test is cross-multiplied to pure integers:
    * with d_i = x_i − y_i, T = Σd, Q = Σd², V = n·Q − T²,
    *   bias_milli   = sign(T) · (10³·|T|) div n
    *   var_milli    = (10³·V) div (n·(n−1))          [sample variance]
    *   within-2sd_i ⟺ (n·d_i − T)²·(n−1) ≤ 4·n·V    [exact, per row]
    *   within2sd_ppm = (10⁶·count) div n
    * All NULL (except n) when n < 2.
    *
    * Output one row: (n, bias_milli, var_milli, within2sd_ppm).
    *
    * Scale shape: one map-side stats aggregate, broadcast back over a
    * second map-only flag pass, one count — two scans, rows never
    * shuffle. */
  def blandAltmanMilli(df: DataFrame, xCol: String,
                       yCol: String): DataFrame = {
    val base = df.select((col(xCol).cast("long") - col(yCol).cast("long"))
        .as("__d"))
      .where(col("__d").isNotNull)
    val stats = base.agg(count(lit(1)).as("__n"),
      sum(col("__d").cast(d38)).as("__t"),
      sum(col("__d").cast(d38) * col("__d")).as("__q"))
    val win = base.crossJoin(broadcast(stats))
      .where(col("__n") >= 2 &&
        (col("__n").cast(d38) * col("__d") - col("__t")) *
          (col("__n").cast(d38) * col("__d") - col("__t")) * (col("__n") - 1)
          <= lit(4).cast(d38) * col("__n") *
            (col("__n").cast(d38) * col("__q") - col("__t") * col("__t")))
      .agg(count(lit(1)).as("__w"))
    stats.crossJoin(broadcast(win))
      .select(coalesce(col("__n"), lit(0L)).cast("long").as("n"),
        col("__t"), col("__q"), col("__w"))
      .select(col("n"),
        when(col("n") < 2, lit(null).cast("long"))
          .otherwise(expr(
            """CAST(CAST(sign(__t) AS DECIMAL(38,0)) *
              |(1000 * abs(__t) div n) AS BIGINT)"""
              .stripMargin.replace("\n", " ")))
          .as("bias_milli"),
        when(col("n") < 2, lit(null).cast("long"))
          .otherwise(expr(
            """CAST((1000 * (CAST(n AS DECIMAL(38,0)) * __q - __t * __t))
              |div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"""
              .stripMargin.replace("\n", " ")))
          .as("var_milli"),
        when(col("n") < 2, lit(null).cast("long"))
          .otherwise(expr("(1000000 * __w) div n"))
          .as("within2sd_ppm"))
  }

  /** KRIPPENDORFF'S ALPHA (interval) — [[krippendorffAlphaPpm]] for
    * CONTINUOUS ratings: the squared-difference metric replaces the
    * 0/1 nominal one, so "off by 2 cents" and "off by 2000 cents"
    * stop counting the same. Same unequal-raters coincidence form,
    * same unpairable-item drop.
    *
    * Exact pinned-floor form over pairable items (values integer by
    * contract; n = Σ n_u kept ratings, S/T pooled Σx²/Σx over kept):
    *   per-item Σ_{j≠k}(x_j−x_k)² = 2·(n_u·S_u − T_u²)   [pure integer]
    *   do_micro = Σ_u (10⁶ · 2·(n_u·S_u − T_u²)) div (n_u − 1)
    *              [per-ITEM floor, then summed — the nominal schedule;
    *              each term must fit BIGINT: fine for values ≤ ~10⁶
    *              and ≤ ~100 raters per item]
    *   alpha_ppm = 10⁶ − (do_micro · (n−1)) div (2·(n·S − T²))
    * NULL when n = 0 or n·S = T² (all pooled values identical).
    *
    * Output one row: (n_values, n_unpairable, alpha_ppm).
    *
    * Scale shape: identical to the nominal form — one item-grain
    * groupBy, one pooled aggregate, one final row. */
  def krippendorffAlphaIntervalPpm(df: DataFrame, itemCol: String,
                                   valueCol: String): DataFrame = {
    val base = df.select(col(itemCol).as("__i"),
        col(valueCol).cast("long").as("__x"))
      .where(col("__i").isNotNull && col("__x").isNotNull)
    val perItem = base.groupBy(col("__i"))
      .agg(count(lit(1)).as("__ni"),
        sum(col("__x").cast(d38)).as("__ti"),
        sum(col("__x").cast(d38) * col("__x")).as("__si"))
    val unpairable = perItem.where(col("__ni") < 2)
      .agg(countDistinct(col("__i")).as("__nu"))
    val kept = perItem.where(col("__ni") >= 2)
    // the per-item floored term rides Spark's IntegralDivide, which
    // returns BIGINT while the DuckDB oracle computes it in HUGEINT —
    // outside the documented envelope (|values| ≲ 10⁶, ≲ 100
    // raters/item) the two engines would SILENTLY diverge. Guard the
    // quotient in-plan: if 10⁶·2·(nᵢ·Sᵢ − Tᵢ²) exceeds
    // Long.MaxValue·(nᵢ−1) the evaluation fails loudly (the
    // ksUniformPpm raise_error stance) instead of returning a
    // divergent value. Never fires in-envelope, so gate hashes are
    // unchanged.
    val doAgg = kept
      .select(col("__ni"),
        when(expr("1000000 * 2 * (__ni * __si - __ti * __ti)") >
            expr(
              "CAST(9223372036854775807 AS DECIMAL(38,0)) * (__ni - 1)"),
          expr("""CAST(raise_error(
                  |'krippendorffAlphaIntervalPpm: per-item disagreement
                  | term overflows BIGINT - input outside the documented
                  | envelope (|values| <= ~1e6, <= ~100 raters/item)')
                  |AS DECIMAL(38,0))"""
            .stripMargin.replace("\n", " ")))
          .otherwise(expr(
            """CAST((1000000 * 2 * (__ni * __si - __ti * __ti))
              |div (__ni - 1) AS DECIMAL(38,0))"""
              .stripMargin.replace("\n", " "))).as("__do"),
        col("__ti"), col("__si"))
      .agg(sum(col("__ni")).as("__n"), sum(col("__do")).as("__dom"),
        sum(col("__ti")).as("__t"), sum(col("__si")).as("__s"))
    doAgg.crossJoin(broadcast(unpairable))
      .select(coalesce(col("__n"), lit(0L)).cast("long").as("n_values"),
        coalesce(col("__nu"), lit(0L)).cast("long").as("n_unpairable"),
        col("__dom"), col("__t"), col("__s"))
      .select(col("n_values"), col("n_unpairable"),
        when(col("n_values") === 0 ||
            col("n_values").cast(d38) * col("__s") === col("__t") * col("__t"),
            lit(null).cast("long"))
          .otherwise(expr(
            """1000000 - CAST((__dom * (n_values - 1))
              |div (2 * (CAST(n_values AS DECIMAL(38,0)) * __s - __t * __t))
              |AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("alpha_ppm"))
  }

  /** PAIR-COUNTING PARTITION BATTERY — the uncorrected companions of
    * [[partitionAgreementPpm]]'s ARI/FM² over the same contingency
    * sums: every statistic a pair-confusion matrix supports without a
    * chance model or a square root, each an exact integer rational.
    * With doubled pair counts (s2 = Σ n_ij(n_ij−1) same-both,
    * qa2/qb2 the marginal forms, t2 = n(n−1), tn2 = t2−qa2−qb2+s2
    * different-both by inclusion–exclusion):
    *   rand_ppm       = (10⁶·(s2+tn2)) div t2      [accuracy on pairs]
    *   jaccard_ppm    = (10⁶·s2) div (qa2+qb2−s2)  [ignores tn]
    *   wallace_ab_ppm = (10⁶·s2) div qa2  [P(same in B | same in A)]
    *   wallace_ba_ppm = (10⁶·s2) div qb2  [the reverse conditional]
    *   mirkin_ppm     = (10⁶·(qa2+qb2−2·s2)) div t2  [disagreement
    *                     distance = 1 − rand on pairs]
    * All numerators are provably ≥ 0 (s2 ≤ min(qa2, qb2) cell-wise),
    * so no sign lane is needed. rand/mirkin NULL when n < 2,
    * jaccard NULL when no pair is co-grouped on either side,
    * wallace NULL when its conditioning marginal has no pair. Read
    * next to ARI: a 1000-cluster shatter scores rand ≈ tn2/t2 high
    * but wallace_ba near 0 — the two Wallace conditionals are the
    * precision/recall of co-membership, which ARI chance-corrects
    * away into one number.
    *
    * Output one row: (n, k_a, k_b, rand_ppm, jaccard_ppm,
    * wallace_ab_ppm, wallace_ba_ppm, mirkin_ppm).
    *
    * Scale shape: identical to [[partitionAgreementPpm]] — one (a,b)
    * contingency groupBy (cells shuffle, rows don't), two
    * marginal-grain aggregates, one final row, over pinned cells.
    * Cluster ids have no bounded alphabet, so the cells stay a
    * distributed frame rather than one collected row. */
  def pairCountingPpm(df: DataFrame, aCol: String,
                      bCol: String): DataFrame = {
    val cells = df.select(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__nij"))
      .localCheckpoint() // consumed by the cell pass and both marginals
    val cell = cells.agg(sum(col("__nij")).as("__n"),
      sum(col("__nij").cast(d38) * (col("__nij") - 1)).as("__s2"))
    def marginal(k: String, q: String, kk: String) = cells
      .groupBy(col(k)).agg(sum(col("__nij")).as("__m"))
      .agg(count(lit(1)).as(kk),
        sum(col("__m").cast(d38) * (col("__m") - 1)).as(q))
    cell.crossJoin(broadcast(marginal("__a", "__qa2", "__ka")))
      .crossJoin(broadcast(marginal("__b", "__qb2", "__kb")))
      .select(coalesce(col("__n"), lit(0L)).cast("long").as("n"),
        col("__ka").cast("long").as("k_a"),
        col("__kb").cast("long").as("k_b"),
        col("__s2"), col("__qa2"), col("__qb2"),
        (col("n").cast(d38) * (col("n") - 1)).as("__t2"))
      .select(col("n"), col("k_a"), col("k_b"),
        when(col("n") < 2, lit(null).cast("long"))
          .otherwise(expr(
            """CAST((1000000 * (__t2 - __qa2 - __qb2 + 2 * __s2))
              |div __t2 AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("rand_ppm"),
        when(col("__qa2") + col("__qb2") - col("__s2") === 0,
            lit(null).cast("long"))
          .otherwise(expr(
            """CAST((1000000 * __s2) div (__qa2 + __qb2 - __s2)
              |AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("jaccard_ppm"),
        when(col("__qa2") === 0, lit(null).cast("long"))
          .otherwise(expr("CAST((1000000 * __s2) div __qa2 AS BIGINT)"))
          .as("wallace_ab_ppm"),
        when(col("__qb2") === 0, lit(null).cast("long"))
          .otherwise(expr("CAST((1000000 * __s2) div __qb2 AS BIGINT)"))
          .as("wallace_ba_ppm"),
        when(col("n") < 2, lit(null).cast("long"))
          .otherwise(expr(
            """CAST((1000000 * (__qa2 + __qb2 - 2 * __s2))
              |div __t2 AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("mirkin_ppm"))
  }

  /** PURITY + BCUBED — the ITEM-weighted clustering-vs-labels battery
    * next to the pair-weighted one ([[partitionAgreementPpm]],
    * [[pairCountingPpm]]): purity/inverse-purity answer "is each
    * cluster one label / each label one cluster" by modal counts, and
    * BCubed (Amigó et al. 2009, the extrinsic-eval standard the pair
    * family fails on cluster-size skew) averages per-ITEM precision/
    * recall, so a giant mixed cluster is punished in proportion to the
    * items inside it, not the pairs. Everything is division-exact from
    * the same contingency cells n_ij (cluster marginal a_i, label
    * marginal b_j) — no chance model, no log, no sqrt:
    *   purity_ppm     = (10⁶·Σ_i max_j n_ij) div n  [per-CLUSTER modal]
    *   inv_purity_ppm = the per-LABEL modal transpose
    *   bcubed_p_ppm   = (Σ_i ⌊10⁶·Σ_j n_ij² / a_i⌋) div n
    *                    [per-cluster floors, the logRank schedule]
    *   bcubed_r_ppm   = the transpose over b_j
    *   *_f_ppm        = (2·p·r) div (p+r) on the already-floored
    *                    ppm pair (harmonic mean, second-level floor)
    * All ∈ [0, 10⁶]; NULL lanes only when n = 0 (empty frame still
    * yields one report row via the coalesce-count stance). Singleton
    * shatter scores purity 10⁶ but inverse purity (and BCubed recall)
    * near 0 — the two directions are the point.
    *
    * Output one row: (n, k_a, k_b, purity_ppm, inv_purity_ppm,
    * purity_f_ppm, bcubed_p_ppm, bcubed_r_ppm, bcubed_f_ppm) —
    * a = cluster side, b = label side.
    *
    * Scale shape: one (a,b) contingency groupBy, then two
    * marginal-grain aggregates (max + Σn² ride the same pass) and one
    * final row — identical to the rest of the partition family,
    * pinned cells included: the cluster side has no bounded alphabet,
    * so the cells stay a distributed frame rather than one collected
    * row. */
  def bcubedPpm(df: DataFrame, clusterCol: String,
                labelCol: String): DataFrame = {
    val cells = df.select(col(clusterCol).cast("string").as("__a"),
        col(labelCol).cast("string").as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__nij"))
      .localCheckpoint() // consumed by both marginal passes
    // per-cluster: size a_i, modal count, Σ_j n_ij² → pinned bcubed
    // term; per-label the transpose. max/Σn² ride one aggregate pass.
    def side(k: String, kk: String, mod: String, bc: String) = cells
      .groupBy(col(k))
      .agg(sum(col("__nij")).as("__m"), max(col("__nij")).as("__mx"),
        sum(col("__nij").cast(d38) * col("__nij")).as("__sq"))
      .agg(count(lit(1)).as(kk), sum(col("__mx")).as(mod),
        sum(expr("CAST((1000000 * __sq) div __m AS DECIMAL(38,0))"))
          .as(bc))
    val n1 = cells.agg(coalesce(sum(col("__nij")), lit(0L)).cast("long")
      .as("n"))
    def fOf(p: String, r: String) =
      when(col(p).isNull || col(r).isNull || col(p) + col(r) === 0,
          lit(null).cast("long"))
        .otherwise(expr(s"CAST((2 * $p * $r) div ($p + $r) AS BIGINT)"))
    n1.crossJoin(broadcast(side("__a", "__ka", "__moda", "__bca")))
      .crossJoin(broadcast(side("__b", "__kb", "__modb", "__bcb")))
      .select(col("n"), col("__ka").cast("long").as("k_a"),
        col("__kb").cast("long").as("k_b"),
        when(col("n") === 0, lit(null).cast("long"))
          .otherwise(expr("CAST((1000000 * __moda) div n AS BIGINT)"))
          .as("purity_ppm"),
        when(col("n") === 0, lit(null).cast("long"))
          .otherwise(expr("CAST((1000000 * __modb) div n AS BIGINT)"))
          .as("inv_purity_ppm"),
        when(col("n") === 0, lit(null).cast("long"))
          .otherwise(expr("CAST(__bca div n AS BIGINT)"))
          .as("bcubed_p_ppm"),
        when(col("n") === 0, lit(null).cast("long"))
          .otherwise(expr("CAST(__bcb div n AS BIGINT)"))
          .as("bcubed_r_ppm"))
      .select(col("n"), col("k_a"), col("k_b"), col("purity_ppm"),
        col("inv_purity_ppm"),
        fOf("purity_ppm", "inv_purity_ppm").as("purity_f_ppm"),
        col("bcubed_p_ppm"), col("bcubed_r_ppm"),
        fOf("bcubed_p_ppm", "bcubed_r_ppm").as("bcubed_f_ppm"))
  }
}

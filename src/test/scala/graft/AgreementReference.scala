package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The multi-pass forms of `ops/Agreement.weightedKappaPpm` and
  * `gkLambdaPpm`: the cell frame is read once per statistic (n, the
  * observed term, each marginal, each maximum) and the one-row results
  * are cross-joined. Same decimal(38,0) arithmetic as the single-
  * aggregate kernels — the oracle of the randomized parity spec in
  * AgreementSpec. The production forms pinned the cells with a local
  * checkpoint; here they are simply recomputed per pass. */
object AgreementReference {

  private val d38 = DecimalType(38, 0)

  def weightedKappaPpm(df: DataFrame, aCol: String, bCol: String,
                       power: Int = 1): DataFrame = {
    def wt(i: Column, j: Column) =
      if (power == 1) abs(i - j).cast(d38)
      else (i - j).cast(d38) * (i - j)
    val cells = df.select(col(aCol).cast("long").as("__i"),
        col(bCol).cast("long").as("__j"))
      .where(col("__i").isNotNull && col("__j").isNotNull)
      .groupBy(col("__i"), col("__j")).agg(count(lit(1)).as("__nij"))
    val obs = cells.agg(sum(col("__nij")).as("__n"),
      sum(wt(col("__i"), col("__j")) * col("__nij")).as("__wo"))
    val margA = cells.groupBy(col("__i")).agg(sum(col("__nij")).as("__r"))
    val margB = cells.groupBy(col("__j")).agg(sum(col("__nij")).as("__c"))
    val exp = margA.crossJoin(margB)
      .agg(sum(wt(col("__i"), col("__j")) *
        col("__r") * col("__c")).as("__we"))
    obs.crossJoin(broadcast(exp))
      .select(coalesce(col("__n"), lit(0L)).cast("long").as("n"),
        when(col("__we").isNull || col("__we") === 0,
            lit(null).cast("long"))
          .otherwise(expr(
            """1000000 - CAST((1000000 * CAST(__n AS DECIMAL(38,0)) * __wo)
              |div __we AS BIGINT)""".stripMargin.replace("\n", " ")))
          .as("kappa_w_ppm"))
  }

  def gkLambdaPpm(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.select(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__nij"))
    val rowMax = cells.groupBy(col("__a")).agg(max(col("__nij")).as("__m"))
      .agg(sum(col("__m")).as("__rowmax"))
    val colMax = cells.groupBy(col("__b")).agg(max(col("__nij")).as("__m"))
      .agg(sum(col("__m")).as("__colmax"))
    val margA = cells.groupBy(col("__a")).agg(sum(col("__nij")).as("__m"))
      .agg(max(col("__m")).as("__maxa"))
    val margB = cells.groupBy(col("__b")).agg(sum(col("__nij")).as("__m"))
      .agg(max(col("__m")).as("__maxb"))
    val n = cells.agg(sum(col("__nij")).as("__n"))
    n.crossJoin(broadcast(rowMax)).crossJoin(broadcast(colMax))
      .crossJoin(broadcast(margA)).crossJoin(broadcast(margB))
      .select(coalesce(col("__n"), lit(0L)).cast("long").as("n"),
        when(col("__n") === col("__maxb"), lit(null).cast("long"))
          .otherwise(expr(
            "(1000000 * (__rowmax - __maxb)) div (__n - __maxb)"))
          .as("lambda_ab_ppm"),
        when(col("__n") === col("__maxa"), lit(null).cast("long"))
          .otherwise(expr(
            "(1000000 * (__colmax - __maxa)) div (__n - __maxa)"))
          .as("lambda_ba_ppm"))
  }
}

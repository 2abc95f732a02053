package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.params.ParamBinder

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `entry` is the flagship: a calc-style parameterized multi-join analytic
  * query (the shape of the reference's stored query
  * `resources/v_cache_for_calc_6184_4626.txt` — derived tables, expression
  * join keys, left joins, IN-subquery semi join, `{name:Type}` params,
  * golden-value aggregate) executed through the ParamBinder → `spark.sql`
  * path on sf0.001.
  */
object SparkEntry {

  private[graft] def registerViews(spark: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { name =>
      val p = s"$dir/$name.parquet"
      if (new java.io.File(p).exists())
        graft.io.ParquetMeta.read(spark, p).createOrReplaceTempView(name)
    }

  /** Stored-query text in the reference's dialect: `{name:Type}`
    * placeholders with the closed {Decimal(38,6), String, UInt32} type set
    * (`clickhouse/jdbsChSession.scala:716-731`). */
  private[graft] val flagshipSql: String =
    """SELECT r.r_name,
      |       count(1) AS cnt,
      |       CAST(CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
      |            (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4)))
      |            AS DECIMAL(38,6)) AS DOUBLE) AS summa
      |FROM lineitem l
      |JOIN (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
      |        FROM orders
      |       WHERE o_totalprice > {min_price:Decimal(38,6)}) o
      |  ON l.l_orderkey = o.o_orderkey
      |JOIN customer c
      |  ON o.o_custkey = c.c_custkey
      | AND lpad(CAST(c.c_nationkey AS STRING), 3, '0') >= {min_nation_pad:String}
      |LEFT JOIN nation n  ON c.c_nationkey = n.n_nationkey
      |LEFT JOIN region r  ON n.n_regionkey = r.r_regionkey
      |WHERE year(o.o_orderdate) >= {min_year:UInt32}
      |  AND c.c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
      |GROUP BY r.r_name
      |""".stripMargin

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    registerViews(spark, dir)
    val (text, args) = ParamBinder.bindNamed(flagshipSql, Map(
      "min_price"      -> "1000.0",
      "min_nation_pad" -> "000",
      "min_year"       -> 1992L))
    spark.sql(text, args)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ LlmQueries.queries ++ AnalyticsGates.queries ++
      EvalGates.queries ++ AgreementGates.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracleSql ++ LlmQueries.oracleSql ++
      AnalyticsGates.oracleSql ++ EvalGates.oracleSql ++
      AgreementGates.oracleSql
}

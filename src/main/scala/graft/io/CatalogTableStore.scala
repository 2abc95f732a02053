package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Catalog-backed [[TableStore]]: targets are real Spark catalog tables
  * (`database.table`), the production analog of the reference's
  * ClickHouse MergeTree targets.
  *
  * Maps the reference's DDL surface (SURVEY.md §2.1):
  *  - S7 drop/create from stored DDL → `saveAsTable` / staged rename
  *  - S8 `CREATE DATABASE IF NOT EXISTS` per schema
  *    (`clickhouse/jdbsChSession.scala:677-691`)
  *  - S9 `TRUNCATE TABLE` (`:693-700`)
  *  - S10 existence/row-count/PK probes over `system.tables` →
  *    `spark.catalog` + table properties (Spark has no PK constraint; the
  *    reference reads it from `system.tables.primary_key`, we keep it in
  *    TBLPROPERTIES('graft.primary_key'))
  *  - C10 `OPTIMIZE TABLE ... FINAL` → [[compact]]
  */
final class CatalogTableStore(val spark: SparkSession) extends TableStore {

  private def parse(table: String): (Option[String], String) =
    table.split('.') match {
      case Array(db, t) => (Some(db), t)
      case Array(t)     => (None, t)
      case _            => throw new IllegalArgumentException(s"bad table name $table")
    }

  /** S8: create the database for every distinct schema in a worklist,
    * skipping the system namespaces like the reference does
    * (`task/TaskLogic.scala:275`). */
  def ensureDatabases(tables: Seq[String]): Unit =
    tables.flatMap(t => parse(t)._1).distinct
      .filterNot(Set("system", "default", "information_schema"))
      .foreach(db => spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`"))

  override def exists(table: String): Boolean =
    spark.catalog.tableExists(table)

  override def read(table: String): DataFrame = spark.table(table)

  /** Staging tables older than this are treated as leftovers of a
    * crashed overwrite and dropped on the next overwrite of the same
    * target (age-gating avoids dropping a CONCURRENT writer's live
    * staging table). */
  private val StagingTtlMs = 60L * 60 * 1000

  /** Nonce-suffixed staging name: two concurrent overwrites of the same
    * table must not clobber each other's staging table (a deterministic
    * name would). The nonce leads with wall-clock millis so
    * [[cleanupStaging]] can age-gate across JVMs. */
  private def stagingName(db: Option[String], t: String): String = {
    val s = f"__staging_${t}_${System.currentTimeMillis()}%013d_" +
      f"${scala.util.Random.nextInt(0x1000000)}%06x"
    db.map(d => s"$d.$s").getOrElse(s)
  }

  /** Drop staging leftovers for `t` beyond the TTL — a crash between
    * saveAsTable and the rename leaks a full-size staging copy that
    * nothing else would ever reclaim. */
  private def cleanupStaging(db: Option[String], t: String): Unit = {
    val database = db.getOrElse(spark.catalog.currentDatabase)
    // anchored on the full 13-digit-millis + 6-hex-nonce suffix: a bare
    // prefix match for table `t` would also catch a sibling `t_1`'s
    // staging name `__staging_t_1_<millis>_<hex>` and then misparse the
    // sibling's "1" as an ancient timestamp — dropping a CONCURRENT
    // overwrite's live staging table
    val pat = ("^__staging_" + java.util.regex.Pattern.quote(t) +
      "_(\\d{13})_[0-9a-f]{6}$").r
    val cutoff = System.currentTimeMillis() - StagingTtlMs
    spark.catalog.listTables(database).collect().map(_.name)
      .foreach { name =>
        pat.findFirstMatchIn(name).foreach { m =>
          if (m.group(1).toLong < cutoff)
            spark.sql(s"DROP TABLE IF EXISTS $database.`$name`")
        }
      }
  }

  /** Staged overwrite: write to a side table then swap via drop+rename —
    * same reasoning as ParquetTableStore (self-referential overwrites
    * must not scan the files being replaced; Spark refuses "cannot
    * overwrite a path that is also being read from" otherwise).
    *
    * NOT atomic: a crash between DROP and RENAME leaves the target
    * missing (the staging table survives with the full data — recovery =
    * rename it manually). Spark SQL has no exchange/REPLACE-swap for
    * catalog tables; single-writer task orchestration (C5 single-flight)
    * keeps the window from being raced in-process. */
  override def overwrite(table: String, df: DataFrame): Unit =
    stagedSwap(table)(df.write.mode(SaveMode.Overwrite).saveAsTable(_))

  /** Write `table`'s new contents to a fresh staging table with `write`,
    * then swap it in by drop + rename. */
  private def stagedSwap(table: String)(write: String => Unit): Unit = {
    ensureDatabases(Seq(table))
    val (db, t) = parse(table)
    cleanupStaging(db, t)
    val staging = stagingName(db, t)
    write(staging)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
  }

  /** Creates a missing table with `saveAsTable`. */
  override def append(table: String, df: DataFrame): Unit = {
    ensureDatabases(Seq(table))
    if (!exists(table)) df.write.saveAsTable(table)
    else df.write.mode(SaveMode.Append).insertInto(table)
  }

  override def drop(table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $table")

  override def truncate(table: String): Unit =
    if (exists(table)) spark.sql(s"TRUNCATE TABLE $table")

  /** Bucketed overwrite: co-locates the table on `bucketCols` so
    * repeated joins/aggregations on those keys skip the shuffle entirely
    * (both sides bucketed with equal bucket counts → SortMergeJoin with
    * no Exchange). The 100 TB answer to "this join shuffles every run":
    * pay the clustering once at load, reuse it every query — the Spark
    * analog of MergeTree's ORDER BY clustering. Uses staged-swap rename
    * like [[overwrite]]. */
  def overwriteBucketed(table: String, df: DataFrame,
                        numBuckets: Int, bucketCols: Seq[String]): Unit =
    stagedSwap(table)(df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(_))

  /** S10: primary key kept in table properties. */
  def setPrimaryKey(table: String, pk: Seq[String]): Unit =
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('graft.primary_key'='${pk.mkString(",")}')")

  def primaryKey(table: String): Seq[String] = {
    val rows = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
    rows.find(_.getString(0) == "graft.primary_key")
      .map(_.getString(1).split(',').toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)
  }

}

package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Target-table storage abstraction.
  *
  * The reference's targets are ClickHouse MergeTree tables addressed as
  * `schema.table` (`table/Table.scala:38-39`); ours are Spark tables. Two
  * implementations:
  *
  *   - [[ParquetTableStore]]: parquet directories under a root, used by
  *     tests and the local verify path. Overwrites are staged-then-swapped
  *     so a read-modify-write over the same table (append_where, update)
  *     never reads a half-deleted input — the same reason the reference
  *     stages updates through an `upd_<t>` side table
  *     (`clickhouse/jdbsChSession.scala:316-329`). `read` and `count`
  *     use footer metadata only ([[ParquetMeta]]): building a read and
  *     counting rows launch no Spark job, as the reference takes its
  *     row counts from ClickHouse metadata.
  *   - At cluster scale the same interface maps onto catalog tables
  *     (`saveAsTable` / `insertInto` with dynamic partition overwrite);
  *     nothing in SyncEngine assumes a local filesystem.
  */
trait TableStore {
  def spark: SparkSession
  def exists(table: String): Boolean
  def read(table: String): DataFrame
  def overwrite(table: String, df: DataFrame): Unit
  def append(table: String, df: DataFrame): Unit
  def drop(table: String): Unit
  /** `TRUNCATE TABLE` (S9). */
  def truncate(table: String): Unit
  def count(table: String): Long = if (exists(table)) read(table).count() else 0L
  /** C10 `OPTIMIZE TABLE ... FINAL` analog: rewrite into k files
    * (`clickhouse/jdbsChSession.scala:387-398`). */
  def compact(table: String, targetFiles: Int): Unit =
    overwrite(table, read(table).repartition(targetFiles))
}

final class ParquetTableStore(val spark: SparkSession, root: String)
    extends TableStore {

  private def dir(table: String) = new Path(root, table.replace('.', '/'))
  private def fs = new Path(root).getFileSystem(
    spark.sessionState.newHadoopConf())

  override def exists(table: String): Boolean = fs.exists(dir(table))

  override def read(table: String): DataFrame =
    ParquetMeta.read(spark, dir(table).toString)

  override def count(table: String): Long =
    if (exists(table)) ParquetMeta.rowCount(spark, dir(table).toString) else 0L

  /** Stage to a sibling temp dir, then swap. The staging write fully
    * materializes before the old data is touched, so `overwrite(t, f(read(t)))`
    * is safe (parquet self-overwrite otherwise corrupts: the lazy plan would
    * scan files that the write is deleting). */
  override def overwrite(table: String, df: DataFrame): Unit = {
    val target  = dir(table)
    val staging = new Path(root,
      s".staging-${table.replace('.', '_')}-${System.nanoTime()}")
    df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val f = fs
    if (f.exists(target)) f.delete(target, true)
    f.mkdirs(target.getParent)
    if (!f.rename(staging, target))
      throw new RuntimeException(s"swap failed for $table")
  }

  override def append(table: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(dir(table).toString)

  /** Initial load of a hive-partitioned table (one subdir per value of
    * `partCols`). Partitioning is the unit of selective rewrite below. */
  def overwritePartitioned(table: String, df: DataFrame,
                           partCols: Seq[String]): Unit = {
    val target  = dir(table)
    val staging = new Path(root,
      s".staging-${table.replace('.', '_')}-${System.nanoTime()}")
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partCols: _*).parquet(staging.toString)
    val f = fs
    if (f.exists(target)) f.delete(target, true)
    f.mkdirs(target.getParent)
    if (!f.rename(staging, target))
      throw new RuntimeException(s"swap failed for $table")
  }

  /** Replace ONLY the partitions present in `df`, leaving every other
    * partition's files untouched — Spark's dynamic partition overwrite
    * on the path. This is what makes `update`/`append_where` a partial
    * rewrite instead of a full-table rewrite at scale. */
  def dynamicOverwrite(table: String, df: DataFrame,
                       partCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(dir(table).toString)

  /** Physically remove whole partitions (dynamic overwrite can only
    * REPLACE partitions present in the written frame — a partition whose
    * rows were all deleted produces no rows to write and must be dropped
    * explicitly). Directory names go through Spark's own Hive path
    * escaping (getPartitionPathString) so values with '/', ':' etc. and
    * nulls (__HIVE_DEFAULT_PARTITION__) resolve to the real dirs. */
  def dropPartitions(table: String, partCol: String, values: Seq[Any]): Unit = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val f = fs
    values.foreach { v =>
      val leaf = ExternalCatalogUtils.getPartitionPathString(
        partCol, Option(v).map(_.toString).getOrElse(null))
      val p = new Path(dir(table), leaf)
      if (f.exists(p)) f.delete(p, true)
    }
  }

  override def drop(table: String): Unit = {
    val f = fs
    if (f.exists(dir(table))) f.delete(dir(table), true)
  }

  override def truncate(table: String): Unit = {
    if (exists(table)) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        read(table).schema)
      overwrite(table, empty)
    }
  }
}

package graft.io

import org.apache.hadoop.fs.{FileStatus, FileUtil, Path}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{FooterBridge, ParquetFileFormat}
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
  *     row counts from ClickHouse metadata. An overwrite whose frame is
  *     an untransformed parquet scan (one unpartitioned, unbucketed
  *     parquet relation read with no option but its path, all of its
  *     data columns in order, every file's footer schema equal to that
  *     data schema) copies the scan's files instead of decoding and
  *     re-encoding every row: no Spark job, and the target reads back
  *     exactly as the source does. This is the reference's `recreate`,
  *     one server-side `INSERT INTO ... SELECT *` with no client-side
  *     decode. Every other frame goes through Spark's parquet writer.
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

/** A batch scan of a parquet relation that is not a catalog table. */
private object BatchParquet {
  def unapply(p: LogicalPlan): Option[(LogicalRelation, HadoopFsRelation)] = p match {
    case l @ LogicalRelation(r: HadoopFsRelation, _, None, false, _)
        if r.fileFormat.isInstanceOf[ParquetFileFormat] => Some((l, r))
    case _ => None
  }
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
    * scan files that the write is deleting). An untransformed parquet
    * scan is staged by copying its files ([[scanFiles]]). */
  override def overwrite(table: String, df: DataFrame): Unit =
    scanFiles(df) match {
      case Some(files) => stagedSwap(table)(copyFiles(files, _))
      case None => stagedSwap(table)(df.write.mode(SaveMode.Overwrite).parquet(_))
    }

  /** The files of `df` when it is an untransformed parquet scan, else
    * None. Its optimized plan must be exactly one batch parquet relation,
    * unpartitioned, unbucketed, not a catalog table, read with no option
    * but its path; its output must be the relation's data schema in
    * order; and every file's footer must convert to that data schema
    * under the session's conf. The files are the ones the scan reads, in
    * path order; there must be at least one, and their names must not
    * collide. A frame whose analyzed plan has any other leaf (a stream's
    * micro-batch, a local relation, a join) is not optimized here. */
  private def scanFiles(df: DataFrame): Option[Seq[FileStatus]] = {
    val qe = df.queryExecution
    val relation = qe.analyzed.collectLeaves() match {
      case Seq(BatchParquet(_, _)) => qe.optimizedPlan match {
        case BatchParquet(l, r) if r.partitionSchema.isEmpty &&
            r.bucketSpec.isEmpty && r.options.keySet.forall(_.equalsIgnoreCase("path")) &&
            DataTypeUtils.fromAttributes(l.output) == r.dataSchema => Some(r)
        case _ => None
      }
      case _ => None
    }
    relation.flatMap { r =>
      val files = r.location.listFiles(Nil, Nil).flatMap(_.files)
        .map(_.fileStatus).sortBy(_.getPath.toString)
      val conf = spark.sessionState.newHadoopConf()
      Option.when(files.nonEmpty &&
          files.map(_.getPath.getName).distinct.size == files.size &&
          FooterBridge.readSchemas(spark, files, conf).forall(_.contains(r.dataSchema)))(files)
    }
  }

  /** Copies `files` into the new directory `to` under their own names.
    * The sources are only read: never moved or linked, since they may be
    * another table's files or the caller's input. */
  private def copyFiles(files: Seq[FileStatus], to: String): Unit = {
    val f = fs
    val dst = new Path(to)
    f.mkdirs(dst)
    files.foreach { s =>
      val p = s.getPath
      if (!FileUtil.copy(p.getFileSystem(f.getConf), p, f, new Path(dst, p.getName),
          false, false, f.getConf))
        throw new java.io.IOException(s"copy of $p to $dst failed")
    }
  }

  /** Write `table`'s new contents to a sibling staging dir with
    * `write`, then swap it in for the old dir. A failed write leaves the
    * old dir as it was and removes its staging dir (a failed Spark job's
    * straggling tasks may still write into it after the removal). */
  private def stagedSwap(table: String)(write: String => Unit): Unit = {
    val target  = dir(table)
    val staging = new Path(root,
      s".staging-${table.replace('.', '_')}-${System.nanoTime()}")
    val f = fs
    try write(staging.toString)
    catch { case e: Throwable => f.delete(staging, true); throw e }
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
                           partCols: Seq[String]): Unit =
    stagedSwap(table)(df.write.mode(SaveMode.Overwrite)
      .partitionBy(partCols: _*).parquet(_))

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

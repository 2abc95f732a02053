package graft.io

import org.apache.hadoop.fs.{FileStatus, FileUtil, Path}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
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
  *
  * Layout rule: how a table's rows are laid out on disk belongs to the
  * table, as a MergeTree's `PARTITION BY` does in the reference. The
  * store reads it back with [[TableStore.partitionColumns]], and the
  * writes that keep a table (`append`, `replacePartitions`) follow it;
  * no caller names partition columns for an existing table. `overwrite`
  * replaces a table with a flat one. A [[ParquetTableStore]] table is
  * partitioned when it was written with `overwritePartitioned`;
  * [[CatalogTableStore]] never writes a partitioned table.
  */
trait TableStore {
  def spark: SparkSession
  def exists(table: String): Boolean
  def read(table: String): DataFrame
  def overwrite(table: String, df: DataFrame): Unit
  /** Adds `df`'s rows to `table`, creating it when it does not exist. */
  def append(table: String, df: DataFrame): Unit
  def drop(table: String): Unit
  /** `TRUNCATE TABLE` (S9). */
  def truncate(table: String): Unit
  def count(table: String): Long = if (exists(table)) read(table).count() else 0L
  /** The `k=v` partition columns of `table`, outermost first; `Nil` for
    * a flat or missing table. */
  def partitionColumns(table: String): Seq[String] = Nil
  /** Rewrites the `touched` partitions of `table`: afterwards each holds
    * the rows of `rows` that fall in it, and one that `rows` holds none of
    * is gone. A row of `rows` in a partition outside `touched` is added to
    * that partition, whose rows stay. Every other partition's files stay
    * as they are. `touched` lists one partition per entry, its values in
    * [[partitionColumns]] order, each as Spark casts it to a string (null
    * for null). On a flat table this is `overwrite(table, rows)`. */
  def replacePartitions(table: String, rows: DataFrame,
                        touched: Seq[Seq[String]]): Unit =
    overwrite(table, rows)
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
    * `write`, then hand the dir to `install`. A failed write leaves the
    * old dir as it was and removes its staging dir (a failed Spark job's
    * straggling tasks may still write into it after the removal). */
  private def staged(table: String)(write: String => Unit)(install: Path => Unit): Unit = {
    val staging = new Path(root,
      s".staging-${table.replace('.', '_')}-${System.nanoTime()}")
    try write(staging.toString)
    catch { case e: Throwable => fs.delete(staging, true); throw e }
    install(staging)
  }

  /** [[staged]], then swap the staging dir in for the old dir. */
  private def stagedSwap(table: String)(write: String => Unit): Unit =
    staged(table)(write) { staging =>
      val target = dir(table)
      val f = fs
      if (f.exists(target)) f.delete(target, true)
      f.mkdirs(target.getParent)
      if (!f.rename(staging, target))
        throw new RuntimeException(s"swap failed for $table")
    }

  /** A missing table is created by [[overwrite]], so a first load of an
    * untransformed scan copies its files; an existing one gets new part
    * files in its own partition layout, where [[read]] finds them. */
  override def append(table: String, df: DataFrame): Unit =
    if (!exists(table)) overwrite(table, df)
    else df.write.mode(SaveMode.Append).partitionBy(partitionColumns(table): _*)
      .parquet(dir(table).toString)

  /** Initial load of a hive-partitioned table (one subdir per value of
    * `partCols`). Later writes keep the layout: appends land in it and
    * [[replacePartitions]] rewrites only the partitions it touches. */
  def overwritePartitioned(table: String, df: DataFrame,
                           partCols: Seq[String]): Unit =
    stagedSwap(table)(df.write.mode(SaveMode.Overwrite)
      .partitionBy(partCols: _*).parquet(_))

  /** Read from the directory names, as Spark's partition discovery reads
    * them: the key of the first visible `k=v` directory at each level,
    * unescaped. One listing per level on the driver, no Spark job. */
  override def partitionColumns(table: String): Seq[String] = {
    val f = fs
    def below(d: Path): List[String] =
      f.listStatus(d).find { s =>
        val n = s.getPath.getName
        s.isDirectory && !FooterBridge.isHidden(n) && n.contains("=")
      } match {
        case Some(s) => ExternalCatalogUtils.unescapePathName(
          s.getPath.getName.takeWhile(_ != '=')) :: below(s.getPath)
        case None => Nil
      }
    if (f.exists(dir(table))) below(dir(table)) else Nil
  }

  /** Writes `rows` in the table's layout to a staging dir, so the
    * rewrite never scans the files it replaces; then, on the driver,
    * deletes the touched partition dirs and moves each staged partition's
    * files into the table: one Spark job. The touched values name their
    * dirs through Spark's own Hive path escaping (values with '/', ':',
    * and nulls as `__HIVE_DEFAULT_PARTITION__`), as the writer names the
    * staged ones. */
  override def replacePartitions(table: String, rows: DataFrame,
                                 touched: Seq[Seq[String]]): Unit =
    partitionColumns(table) match {
      case Nil => overwrite(table, rows)
      case parts =>
        staged(table)(rows.write.partitionBy(parts: _*).parquet(_)) { staging =>
          val f = fs
          touched.foreach { v =>
            val p = new Path(dir(table), parts.zip(v).map { case (c, s) =>
              ExternalCatalogUtils.getPartitionPathString(c, s) }.mkString("/"))
            if (f.exists(p)) f.delete(p, true)
          }
          val base = f.makeQualified(staging).toString
          // listStatus, not listFiles: a LocatedFileStatus reads each
          // file's owner and permission, which the local FS forks `ls` for
          def files(d: Path): Seq[Path] = f.listStatus(d).toSeq.flatMap(s =>
            if (s.isDirectory) files(s.getPath) else Seq(s.getPath))
          files(staging).foreach { from =>
            val to = new Path(dir(table), from.toString.stripPrefix(base + "/"))
            if (!FooterBridge.isHidden(from.getName) &&
                !(f.mkdirs(to.getParent) && f.rename(from, to)))
              throw new java.io.IOException(s"move of $from to $to failed")
          }
          f.delete(staging, true)
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

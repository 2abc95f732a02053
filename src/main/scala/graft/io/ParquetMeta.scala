package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet metadata read on the driver from file footers: no Spark job.
  *
  * `spark.read.parquet(p)` infers the data schema with a one-task Spark
  * job that opens one footer, and `count()` runs a scan job; both answers
  * are in the footers. The reference takes its pre/post row counts from
  * ClickHouse metadata the same way (`ora/jdbcSession.scala:592-615`,
  * `clickhouse/jdbsChSession.scala:299-308`).
  *
  *   - [[schema]] opens the footer Spark's inference opens
  *     (`ParquetUtils.inferSchema`): `_common_metadata`, else `_metadata`,
  *     else the first data file by path, and converts it with Spark's own
  *     `ParquetFileFormat.readSchema` under the session's conf.
  *   - [[rowCount]] sums the row-group row counts of every data file.
  *   - [[read]] hands that schema to the reader, which still lists the
  *     files, discovers partitions and runs every data scan.
  *
  * Whatever this cannot answer exactly goes to the plain reader: a glob
  * path, a missing path, a directory with no file to infer from (so the
  * reader raises its own error), and `mergeSchema`, which needs every
  * footer. */
object ParquetMeta {

  /** The data schema (partition columns excluded) Spark infers for `path`. */
  def schema(spark: SparkSession, path: String): StructType = {
    val fromFooter =
      if (FooterBridge.mergeSchema(spark)) None
      else listing(spark, path).flatMap(l =>
        l.schemaFile.flatMap(FooterBridge.readSchema(spark, _, l.conf)))
    fromFooter.getOrElse(spark.read.parquet(path).schema)
  }

  /** `spark.read.parquet(path).count()`, from the footers. Zero-length
    * files are skipped, as the reader's scan skips them. */
  def rowCount(spark: SparkSession, path: String): Long =
    listing(spark, path).filter(_.schemaFile.isDefined) match {
      case Some(l) => FooterBridge.rowCount(l.data.filter(_.getLen > 0), l.conf)
      case None    => spark.read.parquet(path).count()
    }

  /** `spark.read.parquet(path)` without the schema-inference job. */
  def read(spark: SparkSession, path: String): DataFrame =
    if (FooterBridge.mergeSchema(spark)) spark.read.parquet(path)
    else spark.read.schema(schema(spark, path)).parquet(path)

  /** Summary files, in the order inference prefers them. */
  private val Summaries = Seq("_common_metadata", "_metadata")

  /** Leaf files of one reader root, sorted by path as
    * `ParquetUtils.splitFiles` sorts them. */
  private final case class Listing(conf: Configuration, leaves: Seq[FileStatus]) {
    def data: Seq[FileStatus] =
      leaves.filterNot(f => Summaries.contains(f.getPath.getName))
    def schemaFile: Option[FileStatus] =
      Summaries.flatMap(n => leaves.find(_.getPath.getName == n)).headOption
        .orElse(data.headOption)
  }

  private def listing(spark: SparkSession, path: String): Option[Listing] = {
    val p = new Path(path)
    if (FooterBridge.isGlob(p)) return None
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val root =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val files = if (root.isFile) Seq(root) else leaves(fs, root.getPath)
    Some(Listing(conf, files.sortBy(_.getPath.toString)))
  }

  /** The files the reader's file index uses under a directory, for the
    * layouts Spark's writers produce: its visible files, plus those of
    * visible `k=v` partition directories, recursively. Spark's listing
    * also descends into other directories, but the relation of a flat
    * directory reads only its direct files. */
  private def leaves(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filterNot(s => FooterBridge.isHidden(s.getPath.getName))
      .flatMap { s =>
        if (!s.isDirectory) Seq(s)
        else if (s.getPath.getName.contains("=")) leaves(fs, s.getPath)
        else Nil
      }
}

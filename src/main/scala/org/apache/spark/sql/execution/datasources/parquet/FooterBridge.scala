package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.{NO_FILTER, SKIP_ROW_GROUPS}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.{HadoopFSUtils, ThreadUtils}

import scala.jdk.CollectionConverters._

/** Spark's own parquet footer and listing helpers, for driver-side
  * metadata reads ([[graft.io.ParquetMeta]]). `ParquetFileFormat.
  * readSchema` is private[parquet] and `HadoopFSUtils`, `ThreadUtils`
  * and `SparkHadoopUtil` are private[spark], so they are reached through
  * this package-located shim, the same pattern as
  * `org.apache.spark.sql.graftbridge.ColumnBridge`. */
object FooterBridge {

  /** Spark's file-index rule for a listed child: `_x`, `.x` and
    * `x._COPYING_` are hidden, summary files (`_metadata`,
    * `_common_metadata`) are not. */
  def isHidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** A path the reader would glob-expand before listing. */
  def isGlob(path: Path): Boolean = SparkHadoopUtil.get.isGlobPath(path)

  /** The session's `spark.sql.parquet.mergeSchema`, as the reader sees it. */
  def mergeSchema(spark: SparkSession): Boolean =
    new ParquetOptions(Map.empty[String, String], spark.sessionState.conf).mergeSchema

  /** The data schema Spark's inference derives from this one footer: the
    * Spark schema stored in its key-value metadata, else the converted
    * parquet schema, under the session's conversion flags; nullable, as
    * the reader's relation makes it. Row groups are not read. */
  def readSchema(spark: SparkSession, file: FileStatus,
                 conf: Configuration): Option[StructType] = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark)
      .map(_.asNullable)
  }

  /** Σ row-group row counts over the files' footers, read in parallel.
    * The footers are read with their row groups: Spark's
    * `readParquetFootersInParallel` skips them and would count 0. */
  def rowCount(files: Seq[FileStatus], conf: Configuration): Long =
    ThreadUtils.parmap(files, "graft-footers", 8) { f =>
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), NO_FILTER)
        .getBlocks.asScala.map(_.getRowCount).sum
    }.sum
}

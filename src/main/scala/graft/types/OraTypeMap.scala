package graft.types

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Oracle-JDBC-metadata → Spark type mapping plus ingest normalization.
  *
  * Re-expresses the reference's type system (see SURVEY.md §1.2):
  *   - `column/OraChColumn.scala:47-58` — NUMBER(scale==0)→Int64,
  *     NUMBER(scale!=0)→Decimal(38,6), VARCHAR2/CLOB→String, DATE→DateTime,
  *     anything else fails loudly.
  *   - `clickhouse/jdbsChSession.scala:630-644` — DATE values clamped into
  *     the ClickHouse DateTime range [1971-01-01, 2106-01-01] by epoch
  *     seconds (epoch <= 0 and epoch >= 4296677295 clamp).
  *   - `column/OraChColumn.scala:35-45` — nullability: nullable unless the
  *     column is named `rn` or listed in `notnull_columns`.
  */
object OraTypeMap {

  final case class UnsupportedTypeException(msg: String)
      extends RuntimeException(msg)

  /** The decimal type the reference uses for every non-integral NUMBER and
    * for Decimal parameters (`clickhouse/jdbsChSession.scala:724-726`). */
  val OraDecimal: DecimalType = DecimalType(38, 6)

  /** Map one Oracle JDBC column description to a Spark `StructField`.
    *
    * @param typeName   JDBC `getColumnTypeName` (e.g. "NUMBER", "VARCHAR2")
    * @param scale      JDBC `getScale`
    * @param isNullable JDBC `isNullable == 1`
    * @param notNullColumns task-level override list (reference
    *                   `notnull_columns`, `column/OraChColumn.scala:35-45`)
    */
  def toSparkField(
      name: String,
      typeName: String,
      scale: Int,
      isNullable: Boolean,
      notNullColumns: Seq[String] = Nil): StructField = {
    val dt: DataType = typeName.toUpperCase match {
      case "NUMBER" if scale == 0 => LongType
      case "NUMBER"               => OraDecimal
      case "VARCHAR2" | "VARCHAR" | "CHAR" | "NCHAR" | "NVARCHAR2" =>
        StringType
      case "DATE" | "TIMESTAMP" => TimestampType
      case "CLOB" | "NCLOB"     => StringType
      case "FLOAT" | "BINARY_DOUBLE" | "BINARY_FLOAT" => DoubleType
      case other =>
        // reference renders "UNDEFINED_COL_TYPE" into DDL, which then fails
        // on the ClickHouse side; we fail eagerly instead.
        throw UnsupportedTypeException(
          s"column $name: unsupported Oracle type $other")
    }
    val nullable =
      isNullable && name.toLowerCase != "rn" &&
        !notNullColumns.map(_.toLowerCase).contains(name.toLowerCase)
    StructField(name, dt, nullable)
  }

  /** Schema inference from live JDBC metadata — the commented-but-
    * authoritative path of the reference
    * (`clickhouse/jdbsChSession.scala:526-539`: per-column
    * `getColumnName/getColumnTypeName/getScale/isNullable` off the
    * ResultSet). Supports the "schema is external OR inferred" duality of
    * SURVEY.md §1.2. */
  def fromJdbcMetadata(md: java.sql.ResultSetMetaData,
                       notNullColumns: Seq[String] = Nil): StructType =
    StructType((1 to md.getColumnCount).map { i =>
      toSparkField(
        md.getColumnName(i),
        md.getColumnTypeName(i),
        md.getScale(i),
        md.isNullable(i) == java.sql.ResultSetMetaData.columnNullable,
        notNullColumns)
    })

  /** ClickHouse DateTime range bounds, in epoch seconds (UTC).
    * `clickhouse/jdbsChSession.scala:634-641`: epoch <= 0 → 1971-01-01,
    * epoch >= 4296677295 → 2106-01-01. */
  val ClampMinEpoch: Long = 31536000L     // 1971-01-01 00:00:00 UTC
  val ClampMaxEpoch: Long = 4291747200L   // 2106-01-01 00:00:00 UTC
  val ClampHighWater: Long = 4296677295L

  /** Clamp a timestamp column into the representable DateTime range —
    * the ingest-side equivalent of the reference's per-row clamp. Stays
    * inside whole-stage codegen (pure builtin expressions). */
  def clampDateTime(c: Column): Column = {
    val epoch = unix_timestamp(c)
    when(epoch <= 0L, timestamp_seconds(lit(ClampMinEpoch)))
      .when(epoch >= ClampHighWater, timestamp_seconds(lit(ClampMaxEpoch)))
      .otherwise(c)
  }

  /** Normalize an incoming DataFrame to a target schema: reorder columns,
    * cast, clamp timestamps. The cast layer of the dead-but-canonical
    * batched insert path (`clickhouse/jdbsChSession.scala:604-656`). */
  def normalize(df: org.apache.spark.sql.DataFrame,
                target: StructType,
                clampDates: Boolean = true): org.apache.spark.sql.DataFrame = {
    val cols = target.fields.map { f =>
      val c = col(f.name).cast(f.dataType)
      val cc = f.dataType match {
        case TimestampType if clampDates => clampDateTime(c)
        case _                           => c
      }
      cc.as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Target-side probes driving incremental sync.
  *
  * - `maxValAndCnt`: the reference's `MaxValAndCnt(MaxValue, CntRows)`
  *   watermark probe (`common/Types.scala:7`,
  *   `clickhouse/jdbsChSession.scala:93-116`) — one aggregate pass computes
  *   both the watermark and the pre-load row count used for delta
  *   accounting (`task/TaskLogic.scala:104-116`). O(1) result regardless of
  *   table size; at 100 TB this is a full-scan-free metadata-ish probe when
  *   the storage keeps column stats (parquet min/max make it cheap).
  *
  * - `keySet`: the `SELECT DISTINCT k1[,k2[,k3]]` harvest
  *   (`clickhouse/jdbsChSession.scala:123-177`). The reference collects it
  *   to the driver and renders a literal NOT-IN list
  *   (`table/Table.scala:59-84`) — fatal at scale (SURVEY.md §7.4); here it
  *   STAYS distributed and feeds a left_anti join. Duplicate keys on the
  *   join's right side do not change its result, so the keys are not
  *   deduplicated first (no aggregate, no shuffle of its own). NULL
  *   caveat: SQL NOT IN with NULLs differs from left_anti; the reference's
  *   keys are non-null integers (`rs.getLong`), so left_anti is exact for
  *   the supported arity 1–3 integer keys.
  */
object Watermark {

  /** maxValue keeps the sync column's NATIVE value (long, decimal,
    * timestamp, ...). A cast to long here would truncate fractional
    * sync columns and silently skip delta rows within the truncated
    * unit forever. */
  final case class MaxValAndCnt(maxValue: Option[Any], cntRows: Long)

  /** Single-pass max + count. `max()` over an empty/absent target → None,
    * matching the reference's "no watermark yet → full pull" behavior. */
  def maxValAndCnt(target: Option[DataFrame], syncCol: String): MaxValAndCnt =
    target match {
      case None => MaxValAndCnt(None, 0L)
      case Some(df) =>
        val dt = df.schema(syncCol).dataType
        require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
                dt == org.apache.spark.sql.types.TimestampType ||
                dt == org.apache.spark.sql.types.DateType,
          s"sync_by_column_max requires a numeric/timestamp/date column; " +
            s"$syncCol is $dt — a string watermark would compare " +
            "lexicographically and silently skip deltas")
        val row = df.agg(
          max(col(syncCol)).as("mx"),
          count(lit(1)).as("cnt")).head()
        MaxValAndCnt(if (row.isNullAt(0)) None else Some(row.get(0)),
                     row.getLong(1))
    }

  /** The target's key tuples of arity 1–3, duplicates kept (they do not
    * change a left_anti join) — kept as a DataFrame, never collected. */
  def keySet(target: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty && keys.length <= 3,
      "sync_by_columns supports only up to three fields with Int type")
    target.select(keys.map(col): _*)
  }

  /** The watermark predicate `sync_col > maxVal` (`table/Table.scala:47-57`):
    * applied only when a watermark exists. */
  def watermarkPredicate(syncCol: String, wm: MaxValAndCnt): Column =
    wm.maxValue match {
      case Some(v) => col(syncCol) > lit(v)   // native-type comparison
      case None    => lit(true)
    }
}

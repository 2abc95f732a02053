package graft.compat

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ClickHouse-dialect scalar-function compatibility layer.
  *
  * Every function the reference's shipped analytic SQL uses
  * (`resources/v_cache_for_calc_6184_4626.txt`, SURVEY.md §2.8) as a plain
  * `Column` helper over Spark builtins — all codegen-friendly, no UDFs.
  * `registerSqlAliases` additionally registers SQL-callable names so stored
  * ClickHouse-dialect query text can run nearly verbatim via `spark.sql`.
  */
object ChFunctions {

  /** `if(cond, a, b)` — `v_cache_for_calc_6184_4626.txt:37,121`. */
  def chIf(cond: Column, a: Column, b: Column): Column =
    when(cond, a).otherwise(b)

  /** `toYear(d)` — `v_cache_for_calc_6184_4626.txt:68,104-105,121`. */
  def toYear(c: Column): Column = year(c)

  /** `toYYYYMMDD(d)` → int like 20240131 — `...txt:73`. */
  def toYYYYMMDD(c: Column): Column =
    date_format(c, "yyyyMMdd").cast("int")

  /** ClickHouse `parseDateTime(s, '%Y-%m-%d')` (strptime-style format).
    * Translates the small strptime subset the reference uses to Spark's
    * SimpleDateFormat-style pattern — `...txt:104-107,114,121`. */
  def parseDateTime(c: Column, chFormat: String): Column =
    to_timestamp(c, strptimeToSpark(chFormat))

  /** strptime → Spark datetime pattern for the tokens ClickHouse
    * supports. Unknown % tokens fail eagerly (OraTypeMap policy); bare
    * literal letters/quotes are single-quoted in the output — Spark
    * reserves every letter as a pattern char, so an unquoted literal
    * `h` in "%H h" would silently parse as clock-hour-of-am-pm. */
  def strptimeToSpark(fmt: String): String = {
    val out = new StringBuilder
    val litBuf = new StringBuilder
    def flush(): Unit = if (litBuf.nonEmpty) {
      val s = litBuf.toString
      if (s.exists(c => c.isLetter || c == '\''))
        out ++= "'" + s.replace("'", "''") + "'"
      else out ++= s
      litBuf.clear()
    }
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
        val tok = fmt.charAt(i + 1) match {
          case 'Y' => "yyyy"
          case 'y' => "yy"
          case 'm' => "MM"
          case 'd' => "dd"
          case 'H' => "HH"
          case 'M' => "mm"
          case 'i' => "mm"
          case 'S' => "ss"
          case 's' => "ss"
          case '%' => litBuf += '%'; ""
          case c   =>
            throw graft.types.OraTypeMap.UnsupportedTypeException(
              s"unsupported strptime token %$c in format '$fmt' — " +
                "supported: %Y %y %m %d %H %M %i %S %s %%")
        }
        if (tok.nonEmpty) { flush(); out ++= tok }
        i += 2
      } else { litBuf += fmt.charAt(i); i += 1 }
    }
    flush()
    out.result()
  }

  /** `today()` — `...txt:121`. */
  def today(): Column = current_date()

  /** `lpad(toString(x), n, p)` idiom — `...txt:126,130`. */
  def lpadNum(c: Column, len: Int, pad: String): Column =
    lpad(c.cast("string"), len, pad)

  /** `toFixedString(s, n)`: ClickHouse fixed-width string. Spark has no
    * fixed-width type; semantics preserved as truncate-or-NUL-pad is not
    * observable through the reference's usage (`...txt:134` uses it only as
    * a join-key normalizer), so plain cast-to-string with right-trim of the
    * padding is the faithful mapping. Documented non-equality: no physical
    * width. */
  def toFixedString(c: Column, n: Int): Column = substring(c.cast("string"), 1, n)

  /** `cityHash64(x)` → `xxhash64(x)`. Same role (bucketing hash for
    * parallel copy-back, `clickhouse/jdbsChSession.scala:437`); bucket
    * ASSIGNMENT differs, bucket BALANCE is equivalent — documented in
    * SURVEY.md §7.4; tests assert partition-union equality only. */
  def cityHash64(cols: Column*): Column = xxhash64(cols: _*)

  /** The `coalesce(b.id_oiv, null, 0, 1)` is-matched-flag idiom
    * (`...txt:32`): returns the value when non-null else 0 — i.e. the
    * first non-null of (x, 0). */
  def coalesceFlag(c: Column): Column = coalesce(c, lit(0))

  /** Oracle `sysdate` / CH `now()`. */
  def sysdate(): Column = current_timestamp()

  /** Oracle `to_number(replace(s,'-',''))` date-string→yyyymmdd number —
    * `ora/jdbcSession.scala:158-159`. */
  def dateStrToNumber(c: Column): Column =
    regexp_replace(c, "-", "").cast("long")

  /** Register SQL-callable aliases so ClickHouse-dialect SQL text runs
    * through `spark.sql` with minimal rewriting. Uses Spark SQL scalar
    * functions (SQL UDFs, Spark ≥4.0) — these are inlined into the plan by
    * Catalyst, so they stay inside whole-stage codegen, unlike Scala UDFs.
    * Spark SQL already provides compatible `if`, `coalesce`, `concat`,
    * `lpad`, `today` is covered below. */
  def registerSqlAliases(spark: SparkSession): Unit = {
    Seq(
      "CREATE OR REPLACE TEMPORARY FUNCTION toYear(x TIMESTAMP) RETURNS INT RETURN year(x)",
      "CREATE OR REPLACE TEMPORARY FUNCTION toYYYYMMDD(x TIMESTAMP) RETURNS INT RETURN cast(date_format(x, 'yyyyMMdd') AS int)",
      "CREATE OR REPLACE TEMPORARY FUNCTION today() RETURNS DATE RETURN current_date()",
      "CREATE OR REPLACE TEMPORARY FUNCTION toFixedString(x STRING, n INT) RETURNS STRING RETURN substring(x, 1, n)",
      "CREATE OR REPLACE TEMPORARY FUNCTION cityHash64(x STRING) RETURNS BIGINT RETURN xxhash64(x)",
      "CREATE OR REPLACE TEMPORARY FUNCTION parseDateTimeYmd(x STRING) RETURNS TIMESTAMP RETURN to_timestamp(x, 'yyyy-MM-dd')"
    ).foreach(spark.sql(_))
    // toString must accept NUMERIC arguments (the reference's cached SQL
    // calls it on numbers — v_cache_for_calc_6184_4626.txt:126,130); a SQL
    // UDF needs one declared parameter type, so register a plain Cast
    // expression instead — any castable input type works and it stays a
    // builtin Cast inside codegen.
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "toString",
      exprs => org.apache.spark.sql.catalyst.expressions.Cast(
        exprs.head, org.apache.spark.sql.types.StringType),
      "built-in")
  }
}

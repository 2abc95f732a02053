package graft

import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Pin the driver-generated fixture schemas (TESTDATA.md) so a silent
  * regeneration with different physical types fails as ONE named diff
  * here instead of N opaque analysis failures downstream — the round-6
  * lesson, where events.ts drifted INT64-nanos → TIMESTAMP(µs) and took
  * nine green queries with it.
  *
  * Timestamp-bearing columns accept exactly the encodings the ingestion
  * layer dispatches on (CoreQueries.tsToMicros): epoch-long, TIMESTAMP,
  * TIMESTAMP_NTZ. Everything else must match exactly.
  */
class FixtureSchemaSpec extends SparkTestBase {

  /** expected simpleString per column; "ts?" marks a column where any
    * ingestible timestamp encoding is acceptable. */
  private val expected: Seq[(String, Seq[(String, String)])] = Seq(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
                    "n_regionkey" -> "int"),
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
                      "c_nationkey" -> "int", "c_acctbal" -> "double",
                      "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
                      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
                  "p_brand" -> "string", "p_type" -> "string",
                  "p_size" -> "int", "p_retailprice" -> "double"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
                    "o_orderstatus" -> "string", "o_totalprice" -> "double",
                    "o_orderdate" -> "ts?", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
                      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
                      "l_quantity" -> "double", "l_extendedprice" -> "double",
                      "l_discount" -> "double", "l_tax" -> "double",
                      "l_returnflag" -> "string", "l_linestatus" -> "string",
                      "l_shipdate" -> "ts?"),
    "events" -> Seq("event_id" -> "bigint", "ts" -> "ts?",
                    "user_id" -> "bigint", "event_type" -> "string",
                    "value" -> "double", "props" -> "string"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
                       "lang" -> "string", "source" -> "string",
                       "n_chars" -> "bigint"),
    "embeddings" -> Seq("vec_id" -> "bigint",
                        "embedding" -> "array<float>", "label" -> "int"))

  private val tsEncodings = Set("bigint", "timestamp", "timestamp_ntz")

  test("every fixture table matches its pinned schema (named-column diff)") {
    // same session conf path as production ingestion (nanosAsLong on)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val diffs = expected.flatMap { case (table, cols) =>
      val actual = spark.read.parquet(s"${sf("sf0.001")}/$table.parquet")
        .schema.fields.map(f => f.name -> f.dataType.simpleString)
      val missing = cols.map(_._1).diff(actual.map(_._1))
        .map(c => s"$table.$c: MISSING from fixture")
      val extra = actual.map(_._1).diff(cols.map(_._1))
        .map(c => s"$table.$c: UNEXPECTED new column")
      val drift = cols.flatMap { case (name, want) =>
        actual.collectFirst { case (`name`, got) => got }.toSeq.flatMap {
          got =>
            val ok = if (want == "ts?") tsEncodings.contains(got)
                     else want == got
            if (ok) Nil
            else Seq(s"$table.$name: fixture ships $got, engine expects " +
                     (if (want == "ts?") tsEncodings.mkString("one of {", ", ", "}")
                      else want))
        }
      }
      missing ++ extra ++ drift
    }
    assert(diffs.isEmpty, "fixture schema drift:\n  " + diffs.mkString("\n  "))
  }

  test("ingestion contract: events.ts surfaces as epoch-micros LongType") {
    val df = CoreQueries.tRead(spark, sf("sf0.001"), "events")
    assert(df.schema("ts").dataType == LongType,
      s"t() must normalize events.ts to LongType µs, got ${df.schema("ts").dataType}")
    // sanity: values are plausible epoch-MICROSECONDS (year ≈ 1971..2100),
    // catching a silent nanos-vs-micros or seconds-vs-micros mixup
    val r = df.agg(org.apache.spark.sql.functions.min("ts"),
                   org.apache.spark.sql.functions.max("ts")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val usLo = 3600L * 24 * 365 * 1000000L           // ~1971 in µs
    val usHi = 4102444800L * 1000000L                // 2100-01-01 in µs
    assert(lo > usLo && hi < usHi,
      s"events.ts range [$lo,$hi] is not epoch-microseconds")
  }

  test("timestamp-tolerant dispatch covers every ingestible encoding") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val us = 1700000000000000L // 2023-11-14T22:13:20Z in µs
    val asLong = Seq(us * 1000L).toDF("ts")                // epoch-nanos
    val asTs   = Seq(us).toDF("us").select(timestamp_micros(col("us")).as("ts"))
    val asNtz  = asTs.select(col("ts").cast(TimestampNTZType).as("ts"))
    for (df <- Seq(asLong, asTs, asNtz)) {
      assert(df.select(CoreQueries.tsToMicros(df).as("v")).head().getLong(0) == us,
        s"tsToMicros wrong for ${df.schema("ts").dataType}")
      val t = df.select(CoreQueries.tsAsTimestamp(df).as("v"))
      assert(t.schema("v").dataType == TimestampType)
      assert(t.select(unix_micros(col("v"))).head().getLong(0) == us)
    }
  }

  test("events reads need nanosAsLong on the session and never set it") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(key)
    val clone = spark.newSession()
    clone.conf.set(key, "false")
    val dir = sf("sf0.001")
    for (read <- Seq[() => Any](() => CoreQueries.tRead(clone, dir, "events"),
                                () => CoreQueries.q40_stream_windowed(clone, dir))) {
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.startsWith("GRAFT_NANOS_AS_LONG"), e.getMessage)
    }
    assert(clone.conf.get(key) == "false")
    assert(spark.conf.get(key) == before && before == "true")
    assert(CoreQueries.tRead(clone, dir, "nation").count() > 0)
  }
}

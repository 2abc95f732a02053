package graft

import graft.streaming.EventStream
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Generated code compiled once is reused by every later session.
  *
  * Each stream start runs on a cloned session, and `newSession()` makes
  * another. The codegen cache is keyed by classloader as well as code,
  * so a classloader per session would recompile the same classes for
  * each of them. The count of Janino compilations is JVM-wide
  * (`CodegenMetrics`), and the test JVM runs one suite at a time. */
class CodegenReuseSpec extends SparkTestBase {
  import spark.implicits._

  /** The block's result and the classes compiled while it ran. */
  private def compiles[T](block: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = block
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  private def aggregate(df: DataFrame): Seq[Row] =
    df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("total"))
      .orderBy("k").collect().toSeq

  private def writeInput(): String = {
    val dir = tmpDir("codegen-reuse") + "/events"
    (1 to 200).map(i => (i % 7L, i.toDouble)).toDF("k", "v")
      .coalesce(1).write.parquet(dir)
    dir
  }

  test("a second stream start with the same foreachBatch body compiles nothing") {
    val dir = writeInput()
    val results = ArrayBuffer.empty[Seq[Row]]
    val body: (DataFrame, Long) => Unit = (batch, _) => { results += aggregate(batch); () }
    EventStream.runStreamForeachBatch(spark, dir, body)
    val (_, n) = compiles(EventStream.runStreamForeachBatch(spark, dir, body))
    val Seq(first, second) = results.toSeq
    assert(first.size == 7)
    assert(second == first)
    assert(n == 0, s"the second stream start compiled $n classes")
  }

  test("a batch aggregate on a new session reuses the main session's classes") {
    val dir = writeInput()
    val onMain = aggregate(spark.read.parquet(dir))
    val other = spark.newSession()
    val (onOther, n) = compiles(aggregate(other.read.parquet(dir)))
    assert(onOther == onMain)
    assert(n == 0, s"the new session compiled $n classes")
  }
}

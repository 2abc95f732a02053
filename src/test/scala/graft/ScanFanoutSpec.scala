package graft

import graft.ops.ScanFanout
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression

/** ScanFanout sizes scans from file metadata; a percent-encoded path
  * must stat as the file it names. */
class ScanFanoutSpec extends SparkTestBase {

  test("a one-file table under a directory name with a space fans out") {
    val dir = tmpDir("fan out") + "/one file"
    spark.range(0, 1000).coalesce(1).write.parquet(dir)
    val df = spark.read.parquet(dir)
    assert(df.inputFiles.length == 1 && df.inputFiles.head.contains("%20"),
      df.inputFiles.mkString(", "))
    val fanned = ScanFanout(df)
    assert(fanned.queryExecution.logical.isInstanceOf[RepartitionByExpression],
      "a single small file must fan out to the session's cores")
    assert(fanned.count() == 1000)
  }
}

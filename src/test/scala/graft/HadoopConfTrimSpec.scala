package graft

import graft.io.ParquetTableStore
import graft.streaming.EventStream
import org.apache.hadoop.conf.Configuration
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._

/** The session's Hadoop conf keeps every value but not the per-property
  * source list, for the life of the context, and so do the copies Spark
  * serializes from it. */
class HadoopConfTrimSpec extends SparkTestBase {
  import spark.implicits._

  // from core-default, mapred-default and yarn-default (Spark's Hadoop jars
  // ship no hdfs-default.xml: HdfsConfiguration adds it, finds nothing, and
  // reloads every conf all the same)
  private val defaultKeys =
    Seq("io.file.buffer.size", "mapreduce.job.maps", "yarn.resourcemanager.hostname")
  private val builderKey = "spark.hadoop.graft.spec.marker"

  private def hc = spark.sparkContext.hadoopConfiguration

  private def entries(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  private def sourced(c: Configuration): Set[String] =
    entries(c).keySet.filter(c.getPropertySources(_) != null)

  private def assertNoDefaultSources(when: String): Unit =
    defaultKeys.foreach { k =>
      assert(hc.get(k) != null, s"$k has no value $when")
      val sources = Option(hc.getPropertySources(k)).map(_.mkString(","))
      assert(sources.isEmpty, s"$k names sources $sources $when")
    }

  test("default keys have values but no sources, after writes, a stream and a new session") {
    assertNoDefaultSources("after the session build")
    val root = tmpDir("conf-trim")
    val store = new ParquetTableStore(spark, root)
    store.overwrite("db.t", (1 to 10).toDF("id"))
    assertNoDefaultSources("after a store write")

    val src = s"$root/src"
    (1 to 10).toDF("id").coalesce(1).write.parquet(src)
    (11 to 20).toDF("id").coalesce(1).write.mode("append").parquet(src)
    EventStream.runStreamForeachBatch(spark, src,
      (batch, _) => store.append("db.stream", batch), Map("maxFilesPerTrigger" -> "1"))
    assert(store.count("db.stream") == 20L)
    assertNoDefaultSources("after a foreachBatch stream")

    val other = new ParquetTableStore(spark.newSession(), root)
    other.overwrite("db.u", (1 to 5).toDF("id"))
    assert(other.count("db.u") == 5L)
    assertNoDefaultSources("after a newSession() write")
  }

  test("the serialized session conf keeps every value and only the SQL conf's sources") {
    val session = GraftSession.builder(4, "graft-test").config(builderKey, "kept").getOrCreate()
    assert(session eq spark)
    try {
      val copy = spark.sessionState.newHadoopConf()
      val ser = new JavaSerializer(spark.sparkContext.getConf).newInstance()
      val back = ser.deserialize[SerializableConfiguration](
        ser.serialize(new SerializableConfiguration(copy))).value
      assert(entries(back) == entries(copy))
      assert(back.get("fs.file.impl") == "graft.io.ForkFreeLocalFileSystem")
      assert(back.get(builderKey) == "kept")

      // keys set on the context's conf after it started (by other suites)
      // name a source too; none of the defaults does
      val sqlKeys = spark.sessionState.conf.getAllConfs.keySet
      assert((sourced(copy) -- sourced(hc)).size <= sqlKeys.size)
      assert((sourced(copy) -- sourced(hc)).subsetOf(sqlKeys))
      assert(sourced(hc).intersect(defaultKeys.toSet).isEmpty)
    } finally spark.conf.unset(builderKey)
  }

  test("a conf whose source field cannot be found is left as it is") {
    val conf = new Configuration()
    val before = entries(conf)
    assert(conf.getPropertySources("io.file.buffer.size") != null)
    assert(!HadoopConfTrim.dropSources(conf, "noSuchField"))
    assert(conf.getPropertySources("io.file.buffer.size") != null)
    assert(entries(conf) == before)

    assert(HadoopConfTrim.dropSources(conf))
    assert(conf.getPropertySources("io.file.buffer.size") == null)
    assert(entries(conf) == before)
  }
}

package graft

import graft.io.ParquetTableStore
import graft.ops._
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File

/** `ParquetTableStore.overwrite` copies the files of an untransformed
  * parquet scan instead of re-encoding its rows, and writes every other
  * frame through Spark. A copied target holds the source's files; a
  * written one holds new part files, which a job wrote. */
class TableStoreCopySpec extends SparkTestBase {

  private val spec = TableSpec(SyncOp.Recreate, "db", "t").validate()

  /** A 3-file parquet directory of (id, g, name). */
  private def source(rows: Int = 600): String = {
    val dir = tmpDir("copy-src") + "/src"
    spark.range(0, rows).select(col("id"), (col("id") % 7).cast("int").as("g"),
        concat(lit("n"), col("id").cast("string")).as("name"))
      .repartition(3).write.parquet(dir)
    dir
  }

  private def dataFiles(dir: String): Set[String] =
    Option(new File(dir).listFiles).toSeq.flatten.map(_.getName)
      .filter(_.endsWith(".parquet")).toSet

  /** Order-insensitive row hash and row count. */
  private def digest(df: DataFrame): (BigDecimal, Long) = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*)
        .cast(DecimalType(38, 0)).as("h"))
      .agg(sum(col("h")), count(lit(1))).head()
    (BigDecimal(Option(r.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)), r.getLong(1))
  }

  /** Runs `block` and returns the Spark jobs it launched. */
  private def jobsOf(block: => Any): Seq[JobProbe.Job] =
    JobProbe.jobs(spark)(block)._2

  test("a recreate from a multi-file parquet dir copies its files, no job") {
    val dir = source()
    val src = spark.read.parquet(dir)
    val root = tmpDir("copy-a")
    val copied = new ParquetTableStore(spark, root)
    val written = new ParquetTableStore(spark, tmpDir("copy-b"))
    val jobs = jobsOf(new SyncEngine(copied).recreate(spec, src))
    assert(jobs.isEmpty, s"the copy ran jobs: ${jobs.map(_.callSite)}")
    assert(dataFiles(s"$root/db/t") == dataFiles(dir) && dataFiles(dir).size == 3)
    // the same rows written through Spark (a repartition is a transform)
    val w = jobsOf(new SyncEngine(written).recreate(spec, src.repartition(2)))
    assert(w.nonEmpty)
    assert(copied.read("db.t").schema == written.read("db.t").schema)
    assert(copied.read("db.t").schema == src.schema)
    assert(digest(copied.read("db.t")) == digest(written.read("db.t")))
    assert(digest(copied.read("db.t")) == digest(src))
    assert(copied.count("db.t") == 600L && written.count("db.t") == 600L)
  }

  test("an overwrite of a table with its own read copies, and stays readable") {
    val store = new ParquetTableStore(spark, tmpDir("copy-self"))
    store.overwrite("db.t", spark.read.parquet(source(90)))
    val before = digest(store.read("db.t"))
    val jobs = jobsOf(store.overwrite("db.t", store.read("db.t")))
    assert(jobs.isEmpty)
    assert(digest(store.read("db.t")) == before && store.count("db.t") == 90L)
  }

  /** `run` overwrites db.t in a fresh store from a frame over `dir`; the
    * target must be written through Spark (a job, new file names) and
    * hold `expected`. */
  private def assertWritten(dir: String, expected: DataFrame)
                           (run: ParquetTableStore => Unit): Unit = {
    val root = tmpDir("copy-fallback")
    val store = new ParquetTableStore(spark, root)
    val jobs = jobsOf(run(store))
    assert(jobs.nonEmpty, "expected a Spark write")
    assert((dataFiles(s"$root/db/t") & dataFiles(dir)).isEmpty, "files were copied")
    val out = store.read("db.t")
    assert(out.columns.toSeq == expected.columns.toSeq)
    assert(digest(out) == digest(expected))
  }

  test("projections, filters, orders and stored DDL write through Spark") {
    val dir = source()
    val src = spark.read.parquet(dir)
    def recreate(s: TableSpec, ddl: Option[StructType] = None)(st: ParquetTableStore) =
      new SyncEngine(st).recreate(s, spark.read.parquet(dir), ddl)
    assertWritten(dir, src.select("id", "g"))(
      recreate(spec.copy(onlyColumns = Some(Seq("id", "g")))))
    assertWritten(dir, src.filter("id > 10"))(
      recreate(spec.copy(whereFilter = Some("id > 10"))))
    assertWritten(dir, src)(recreate(spec.copy(orderByOraData = Some("id"))))
    val ddl = StructType(Seq(StructField("g", LongType),
      StructField("id", LongType), StructField("name", StringType)))
    assertWritten(dir, src.select(col("g").cast("long"), col("id"), col("name")))(
      recreate(spec, Some(ddl)))
  }

  test("partitioned sources, differing footers and reader options write through Spark") {
    val base = spark.range(0, 200).select(col("id"),
      (col("id") % 3).cast("int").as("g"))
    val parted = tmpDir("copy-part") + "/p"
    base.write.partitionBy("g").parquet(parted)
    assertWritten(parted, spark.read.parquet(parted))(
      _.overwrite("db.t", spark.read.parquet(parted)))

    // two files, one with an extra column: the footers differ
    val mixed = tmpDir("copy-mixed") + "/m"
    base.filter("id < 100").write.parquet(mixed)
    base.filter("id >= 100").withColumn("extra", lit(1)).write.mode("append").parquet(mixed)
    assertWritten(mixed, spark.read.parquet(mixed))(
      _.overwrite("db.t", spark.read.parquet(mixed)))

    val dir = source()
    assertWritten(dir, spark.read.parquet(dir))(_.overwrite("db.t",
      spark.read.option("mergeSchema", "true").parquet(dir)))
  }

  test("a source file deleted after planning fails the overwrite, old target kept") {
    val store = new ParquetTableStore(spark, tmpDir("copy-deleted"))
    store.overwrite("db.t", spark.read.parquet(source(30)))
    val before = digest(store.read("db.t"))
    val dir = source()
    val src = spark.read.parquet(dir)
    new File(dir, dataFiles(dir).toSeq.sorted.last).delete()
    intercept[Exception](store.overwrite("db.t", src))
    assert(digest(store.read("db.t")) == before && store.count("db.t") == 30L)
  }

  test("a copy that fails midway leaves the old target and no staging dir") {
    // a clone session whose hadoop conf maps flaky:// to FlakyFs; the
    // shared session's conf is untouched
    val s = spark.newSession()
    s.conf.set("fs.flaky.impl", classOf[FlakyFs].getName)
    s.conf.set("fs.flaky.impl.disable.cache", "true")
    val root = tmpDir("copy-flaky")
    val store = new ParquetTableStore(s, s"flaky://$root")
    store.overwrite("db.t", s.read.parquet(source(30)))
    val before = digest(store.read("db.t"))
    val dir = source()
    // files are copied in path order: the last of the three fails to
    // create at the target, after the other two were copied
    val last = dataFiles(dir).toSeq.sorted.last
    new File(dir, last).renameTo(new File(dir, s"zz-boom-$last"))
    val src = s.read.parquet(dir)
    FlakyFs.created.set(0)
    val err = intercept[java.io.IOException](store.overwrite("db.t", src))
    assert(err.getMessage.contains("boom"))
    assert(FlakyFs.created.get() == 2, "the copy did not fail midway")
    assert(digest(store.read("db.t")) == before && store.count("db.t") == 30L)
    assert(new File(root).list().toSeq == Seq("db"), "a staging dir was left")
  }
}

/** The local file system under the scheme `flaky`, whose `create` fails
  * for a file whose name holds `boom`: a target that breaks partway
  * through a multi-file copy. `created` counts the files it did create. */
class FlakyFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def getScheme: String = "flaky"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (f.getName.contains("boom"))
      throw new java.io.IOException(s"cannot create $f: boom")
    FlakyFs.created.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FlakyFs {
  val created = new java.util.concurrent.atomic.AtomicInteger()
}

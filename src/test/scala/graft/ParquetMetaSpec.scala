package graft

import graft.io.{ParquetMeta, ParquetTableStore}
import graft.ops._
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.StructType

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** Footer metadata ([[ParquetMeta]]) answers exactly what the reader
  * answers — the data schema, the read schema with its discovered
  * partition columns, the row count and the error for a path with
  * nothing to read — and launches no Spark job doing it. */
class ParquetMetaSpec extends SparkTestBase {
  import spark.implicits._

  private val fixtures = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  private def fixture(t: String) = s"${sf("sf0.001")}/$t.parquet"

  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"n$i", i.toLong)).toDF("id", "name", "ver")

  /** The one parquet data file under `dir`. */
  private def partFile(dir: String): File =
    new File(dir).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head

  private def assertAgrees(path: String, partCols: Seq[String] = Nil): Unit = {
    val ref = spark.read.parquet(path)
    assert(ParquetMeta.schema(spark, path) ==
      StructType(ref.schema.filterNot(f => partCols.contains(f.name))), path)
    assert(ParquetMeta.read(spark, path).schema == ref.schema, path)
    assert(ParquetMeta.rowCount(spark, path) == ref.count(), path)
  }

  test("schema and rowCount equal the reader's on every sf0.001 fixture table") {
    fixtures.foreach(t => assertAgrees(fixture(t)))
  }

  test("events agree under both nanosAsLong settings") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try Seq("false", "true").foreach { v =>
      spark.conf.set(key, v)
      assertAgrees(fixture("events"))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("targets written by each of the five sync operations") {
    val root = tmpDir("pmeta-sync")
    val eng = new SyncEngine(new ParquetTableStore(spark, root))
    eng.recreate(TableSpec(SyncOp.Recreate, "db", "rc"), rows(1 to 20))
    eng.recreate(TableSpec(SyncOp.Recreate, "db", "aw"), rows(1 to 20))
    val aw = eng.appendWhere(TableSpec(SyncOp.AppendWhere, "db", "aw",
      whereFilter = Some("id > 15")), rows(10 to 30))
    assert((aw.rowsBefore, aw.rowsAfter) == ((20L, 30L)))
    val bymax = TableSpec(SyncOp.AppendByMax, "db", "am",
      syncByColumnMax = Some("ver"))
    eng.appendByMax(bymax, rows(1 to 10))
    eng.appendByMax(bymax, rows(5 to 25))
    val notin = TableSpec(SyncOp.AppendNotIn, "db", "an",
      syncByColumns = Some(Seq("id")))
    eng.appendNotIn(notin, rows(1 to 10))
    val an = eng.appendNotIn(notin, rows(5 to 25))
    assert((an.rowsBefore, an.rowsAfter) == ((10L, 25L)))
    eng.recreate(TableSpec(SyncOp.Recreate, "db", "up"), rows(1 to 20))
    val up = eng.update(TableSpec(SyncOp.Update, "db", "up",
      updateFields = Some(Seq("name"))), Seq((3L, "X", 0L)).toDF("id", "name", "ver"),
      Seq("id"))
    assert((up.rowsBefore, up.rowsAfter) == ((20L, 20L)))
    Seq("rc", "aw", "am", "an", "up").foreach(t => assertAgrees(s"$root/db/$t"))
  }

  test("a hive-partitioned target with a null partition value") {
    val root = tmpDir("pmeta-part")
    new ParquetTableStore(spark, root).overwritePartitioned("db.pt",
      Seq((1L, "a", Some("x")), (2L, "b", None), (3L, "c", Some("y")))
        .toDF("id", "name", "bucket"), Seq("bucket"))
    val p = s"$root/db/pt"
    assert(new File(p, "bucket=__HIVE_DEFAULT_PARTITION__").isDirectory)
    assertAgrees(p, Seq("bucket"))
    assert(ParquetMeta.read(spark, p).collect().toSet ==
      spark.read.parquet(p).collect().toSet)
  }

  test("an empty-frame write") {
    val p = tmpDir("pmeta-empty") + "/t"
    spark.range(0).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(p)
    assertAgrees(p)
    assert(ParquetMeta.rowCount(spark, p) == 0L)
  }

  test("_SUCCESS, .crc and _temporary leftovers are not data") {
    val p = tmpDir("pmeta-left") + "/t"
    rows(1 to 7).coalesce(1).write.parquet(p)
    assert(new File(p, "_SUCCESS").exists)
    assert(new File(p).list().exists(_.endsWith(".crc")))
    // an aborted attempt's output, under another schema and row count
    spark.range(0, 999).selectExpr("id AS other").coalesce(1)
      .write.parquet(p + "/_temporary/0/task")
    assertAgrees(p)
    assert(ParquetMeta.schema(spark, p).fieldNames.toSeq == Seq("id", "name", "ver"))
  }

  test("summary files first, else the first data file by path; mergeSchema reads all") {
    val p = tmpDir("pmeta-pick") + "/t"
    Seq((1L, "a")).toDF("id", "name").coalesce(1).write.parquet(p)
    Seq((2L, "b", 3.0)).toDF("id", "name", "score").coalesce(1)
      .write.mode("append").parquet(p)
    assertAgrees(p)
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      assert(ParquetMeta.read(spark, p).schema == spark.read.parquet(p).schema)
      assert(ParquetMeta.read(spark, p).columns.toSeq == Seq("id", "name", "score"))
    } finally spark.conf.unset(key)
    // a _common_metadata summary outranks every data file
    val other = tmpDir("pmeta-summary") + "/s"
    Seq(("z", 9)).toDF("label", "k").coalesce(1).write.parquet(other)
    Files.copy(partFile(other).toPath, new File(p, "_common_metadata").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    assertAgrees(p)
    assert(ParquetMeta.schema(spark, p).fieldNames.toSeq == Seq("label", "k"))
  }

  test("a missing or empty directory raises the reader's own error") {
    val missing = tmpDir("pmeta-err") + "/nope"
    val empty = tmpDir("pmeta-empty-dir")
    Seq(missing, empty).foreach { p =>
      val want = intercept[AnalysisException](spark.read.parquet(p))
      Seq[() => Any](() => ParquetMeta.schema(spark, p),
          () => ParquetMeta.read(spark, p), () => ParquetMeta.rowCount(spark, p))
        .foreach { f =>
          val got = intercept[AnalysisException](f())
          assert(got.getCondition == want.getCondition, p)
          assert(got.getMessage == want.getMessage, p)
        }
    }
  }

  test("read and count launch no Spark job") {
    val store = new ParquetTableStore(spark, tmpDir("pmeta-jobs"))
    store.overwritePartitioned("db.pt",
      Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "name", "bucket"), Seq("bucket"))
    store.overwrite("db.flat", rows(1 to 5))
    // the probe does see the reader's inference job
    val (_, inference) = JobProbe.jobs(spark)(spark.read.parquet(fixture("orders")))
    assert(inference.nonEmpty, "the plain reader ran no inference job")
    val (counts, jobs) = JobProbe.jobs(spark) {
      fixtures.foreach(t => ParquetMeta.read(spark, fixture(t)))
      Seq("db.pt", "db.flat").map { t => store.read(t); store.count(t) } :+
        ParquetMeta.rowCount(spark, fixture("lineitem"))
    }
    assert(jobs.isEmpty, s"metadata reads launched jobs: ${jobs.mkString(" | ")}")
    assert(counts == Seq(2L, 5L, spark.read.parquet(fixture("lineitem")).count()))
  }
}

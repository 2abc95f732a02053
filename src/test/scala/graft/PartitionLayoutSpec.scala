package graft

import graft.io.ParquetTableStore
import graft.ops._
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The store, not the caller, decides a target's layout: every sync
  * operation on a hive-partitioned target keeps its `k=v` directories,
  * and the rows it writes are the rows `read` and `count` see. */
class PartitionLayoutSpec extends SparkTestBase {
  import spark.implicits._
  import PartitionLayoutSpec._

  /** 100 rows over `bucket` = id % 5. */
  private def bucketed(): (String, ParquetTableStore, SyncEngine) = {
    val root = tmpDir("layout")
    val store = new ParquetTableStore(spark, root)
    store.overwritePartitioned("db.t",
      (1L to 100L).map(i => (i, s"n$i", i % 5)).toDF("id", "name", "bucket"),
      Seq("bucket"))
    (root, store, new SyncEngine(store))
  }

  /** 120 rows over `region` (east/west by id parity) then `bucket` = id % 3. */
  private def twoLevel(): (String, ParquetTableStore, SyncEngine) = {
    val root = tmpDir("layout2")
    val store = new ParquetTableStore(spark, root)
    store.overwritePartitioned("db.t",
      (1L to 120L).map(i => (i, s"n$i", if (i % 2 == 0) "east" else "west", i % 3))
        .toDF("id", "name", "region", "bucket"),
      Seq("region", "bucket"))
    (root, store, new SyncEngine(store))
  }

  /** Every visible entry under the table root is a `k=v` directory. */
  private def assertOnlyPartitionDirs(root: String, table: String): Unit = {
    val stray = visible(tableDir(root, table))
      .filterNot(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
    assert(stray.isEmpty, s"flat entries at the table root: $stray")
  }

  private def assertCountsAgree(store: ParquetTableStore, table: String,
                                expected: Long): Unit = {
    assert(store.read(table).count() == expected)
    assert(store.count(table) == expected)
  }

  private def incoming(ids: Range.Inclusive): DataFrame =
    ids.map(i => (i.toLong, s"new$i", i.toLong % 5)).toDF("id", "name", "bucket")

  test("partitionColumns reads the layout from the directories with no Spark job") {
    val (_, store, _) = bucketed()
    val (_, two, _) = twoLevel()
    store.overwrite("db.flat", Seq((1L, "a")).toDF("id", "name"))
    val (cols, jobs) = JobProbe.jobs(spark) {
      Seq(store.partitionColumns("db.t"), two.partitionColumns("db.t"),
        store.partitionColumns("db.flat"), store.partitionColumns("db.missing"))
    }
    assert(jobs.isEmpty, s"partitionColumns launched jobs: ${jobs.mkString(" | ")}")
    assert(cols == Seq(Seq("bucket"), Seq("region", "bucket"), Nil, Nil))
  }

  test("append_notin on a partitioned target appends where read finds the rows") {
    val (root, store, eng) = bucketed()
    val spec = TableSpec(SyncOp.AppendNotIn, "db", "t",
      syncByColumns = Some(Seq("id"))).validate()
    val r = eng.appendNotIn(spec, incoming(91 to 110))
    assert(r.rowsCopied == 10)
    assertCountsAgree(store, "db.t", 110)
    assertOnlyPartitionDirs(root, "db.t")
    assert(partMtimes(root, "db.t").size == 5)
    assert(store.read("db.t").filter($"id" === 107L)
      .select("bucket").as[Int].collect().toSeq == Seq(2))
  }

  test("append_bymax on a partitioned target appends where read finds the rows") {
    val (root, store, eng) = bucketed()
    val spec = TableSpec(SyncOp.AppendByMax, "db", "t",
      syncByColumnMax = Some("id")).validate()
    val r = eng.appendByMax(spec, incoming(1 to 110))
    assert(r.rowsCopied == 10)
    assertCountsAgree(store, "db.t", 110)
    assertOnlyPartitionDirs(root, "db.t")
    assert(store.read("db.t").filter($"id" > 100L).count() == 10)
  }

  test("update with no partition argument keeps the layout") {
    val (root, store, eng) = bucketed()
    val spec = TableSpec(SyncOp.Update, "db", "t",
      updateFields = Some(Seq("name"))).validate()
    eng.update(spec, Seq((3L, "U3"), (7L, "U7")).toDF("id", "name"), Seq("id"))
    assertOnlyPartitionDirs(root, "db.t")
    assert(store.partitionColumns("db.t") == Seq("bucket"))
    assertCountsAgree(store, "db.t", 100)
    assert(store.read("db.t").filter($"name".startsWith("U"))
      .select("id", "bucket").as[(Long, Int)].collect().toSet ==
      Set((3L, 3), (7L, 2)))
  }

  test("update of a partition column moves the row; its new partition keeps its rows") {
    val (root, store, eng) = bucketed()
    val m0 = partMtimes(root, "db.t")
    Thread.sleep(1100)   // mtime resolution guard
    // id 3 moves from bucket=3 to bucket=2, which no matched key lives in
    eng.update(TableSpec(SyncOp.Update, "db", "t",
        updateFields = Some(Seq("bucket"))).validate(),
      Seq((3L, 2L)).toDF("id", "bucket"), Seq("id"))
    assertOnlyPartitionDirs(root, "db.t")
    assertCountsAgree(store, "db.t", 100)
    val byBucket = store.read("db.t").groupBy("bucket").count()
      .as[(Int, Long)].collect().toMap
    assert(byBucket == Map(0 -> 20L, 1 -> 20L, 2 -> 21L, 3 -> 19L, 4 -> 20L))
    assert(store.read("db.t").filter($"bucket" === 2)
      .select("id").as[Long].collect().toSet ==
      (2L to 97L by 5L).toSet + 3L)
    val m1 = partMtimes(root, "db.t")
    assert(m1.filter { case (k, v) => v != m0(k) }.keySet == Set("bucket=2", "bucket=3"))
  }

  test("replacePartitions: one Spark job, touched partitions replaced or dropped") {
    val (root, store, _) = bucketed()
    val m0 = partMtimes(root, "db.t")
    Thread.sleep(1100)   // mtime resolution guard
    val rows = Seq((1001L, "a", 1L), (1002L, "b", 1L)).toDF("id", "name", "bucket")
    val (_, jobs) = JobProbe.jobs(spark)(
      store.replacePartitions("db.t", rows, Seq(Seq("1"), Seq("4"))))
    assert(jobs.size == 1, s"expected the staged write only: ${jobs.mkString(" | ")}")
    assertOnlyPartitionDirs(root, "db.t")
    assertCountsAgree(store, "db.t", 62)
    assert(store.read("db.t").filter($"bucket" === 1)
      .select("id").as[Long].collect().toSet == Set(1001L, 1002L))
    val m1 = partMtimes(root, "db.t")
    assert(m1.keySet == m0.keySet - "bucket=4")
    assert(m1.filter { case (k, v) => v != m0(k) }.keySet == Set("bucket=1"))
  }

  test("append_where with no partition argument keeps the layout") {
    val (root, store, eng) = bucketed()
    val spec = TableSpec(SyncOp.AppendWhere, "db", "t",
      whereFilter = Some("bucket = 1")).validate()
    val r = eng.appendWhere(spec, incoming(1001 to 1010))
    assert(r.rowsAfter == 100 - 20 + 2)
    assertOnlyPartitionDirs(root, "db.t")
    assertCountsAgree(store, "db.t", 82)
    assert(store.read("db.t").filter($"bucket" === 1)
      .select("id").as[Long].collect().toSet == Set(1001L, 1006L))
  }

  test("a target partitioned on two columns: each operation keeps both levels") {
    val (root, store, eng) = twoLevel()
    assert(partMtimes(root, "db.t").size == 6)
    val m0 = partMtimes(root, "db.t")
    Thread.sleep(1100)   // mtime resolution guard
    // id 4 lives in region=east/bucket=1
    eng.update(TableSpec(SyncOp.Update, "db", "t",
        updateFields = Some(Seq("name"))).validate(),
      Seq((4L, "U4")).toDF("id", "name"), Seq("id"))
    val m1 = partMtimes(root, "db.t")
    assert(m1.filter { case (k, v) => v != m0(k) }.keySet ==
      Set("region=east/bucket=1"))
    // delete all of west/0 with nothing incoming: that partition is dropped
    eng.appendWhere(TableSpec(SyncOp.AppendWhere, "db", "t",
        whereFilter = Some("region = 'west' AND bucket = 0")).validate(),
      Seq.empty[(Long, String, String, Long)].toDF("id", "name", "region", "bucket"))
    val m2 = partMtimes(root, "db.t")
    assert(m2 == m1 - "region=west/bucket=0")
    assertCountsAgree(store, "db.t", 100)
    eng.appendNotIn(TableSpec(SyncOp.AppendNotIn, "db", "t",
        syncByColumns = Some(Seq("id"))).validate(),
      Seq((4L, "dup", "east", 1L), (200L, "n200", "west", 0L))
        .toDF("id", "name", "region", "bucket"))
    assertOnlyPartitionDirs(root, "db.t")
    assert(store.partitionColumns("db.t") == Seq("region", "bucket"))
    assert(partMtimes(root, "db.t").keySet == m0.keySet)
    assertCountsAgree(store, "db.t", 101)
    assert(store.read("db.t").filter($"id" === 4L)
      .select("name").as[String].collect().toSeq == Seq("U4"))
  }

  test("a null partition value that rows remain in is replaced, not dropped") {
    val root = tmpDir("layout-null")
    val store = new ParquetTableStore(spark, root)
    val eng = new SyncEngine(store)
    store.overwritePartitioned("db.t",
      Seq((1L, "a", Some("x")), (2L, "b", None), (3L, "c", None),
          (4L, "d", Some("a/b:c")), (5L, "e", Some("a/b:c")))
        .toDF("id", "name", "slice"), Seq("slice"))
    // the escaped value's dir ('/' and ':' are %-escaped) is found too
    eng.appendWhere(TableSpec(SyncOp.AppendWhere, "db", "t",
        whereFilter = Some("id = 2 OR id = 4")).validate(),
      Seq((2L, "B", Option.empty[String]), (4L, "D", Some("a/b:c")))
        .toDF("id", "name", "slice"))
    assert(store.read("db.t").select("id", "name", "slice")
      .as[(Long, String, Option[String])].collect().toSet ==
      Set((1L, "a", Some("x")), (2L, "B", None), (3L, "c", None),
        (4L, "D", Some("a/b:c")), (5L, "e", Some("a/b:c"))))
    assertOnlyPartitionDirs(root, "db.t")
    assert(partMtimes(root, "db.t").size == 3)
  }

  test("append to a missing table creates it as overwrite does") {
    val root = tmpDir("layout-new")
    val store = new ParquetTableStore(spark, root)
    val src = s"$root/src"
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(src)
    val scan = spark.read.parquet(src)
    val (_, jobs) = JobProbe.jobs(spark)(store.append("db.new", scan))
    assert(jobs.isEmpty, "an untransformed scan is copied on a first load")
    assert(store.partitionColumns("db.new") == Nil)
    assertCountsAgree(store, "db.new", 2)
  }
}

object PartitionLayoutSpec {
  private def tableDir(root: String, table: String): Path =
    Paths.get(root, table.split('.').toSeq: _*)

  private def visible(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.toSeq.filterNot { p =>
      val n = p.getFileName.toString
      n.startsWith(".") || n.startsWith("_")
    }

  /** Newest parquet file mtime per partition directory, keyed by its path
    * under the table root (`bucket=3`, `region=east/bucket=1`). */
  def partMtimes(root: String, table: String): Map[String, Long] = {
    val base = tableDir(root, table)
    def walk(dir: Path): Seq[Path] = visible(dir).flatMap { p =>
      if (Files.isDirectory(p)) walk(p) else Seq(p)
    }
    walk(base).filter(_.toString.endsWith(".parquet"))
      .groupMapReduce(f => base.relativize(f.getParent).toString)(
        f => Files.getLastModifiedTime(f).toMillis)(math.max)
  }
}

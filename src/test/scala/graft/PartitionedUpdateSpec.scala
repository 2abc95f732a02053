package graft

import graft.io.ParquetTableStore
import graft.ops._
import org.apache.spark.sql.functions._
import PartitionLayoutSpec.partMtimes

/** `update` and `append_where` on a hive-partitioned target rewrite only
  * the partitions they touch; the store reads the layout from the table. */
class PartitionedUpdateSpec extends SparkTestBase {
  import spark.implicits._

  test("partitioned update rewrites ONLY affected partitions (file mtimes prove it)") {
    val root = tmpDir("pupd")
    val store = new ParquetTableStore(spark, root)
    val eng = new SyncEngine(store)
    // 10 partitions x 100 rows
    val target = (1L to 1000L).map(i => (i, s"n$i", i % 10))
      .toDF("id", "name", "bucket")
    store.overwritePartitioned("db.t", target, Seq("bucket"))
    val m0 = partMtimes(root, "db.t")
    assert(m0.size == 10)
    Thread.sleep(1100)   // mtime resolution guard

    // updates touch only buckets 3 and 7
    val updates = Seq((3L, "UPD3"), (7L, "UPD7"), (703L, "UPD703"))
      .toDF("id", "name")
    val spec = TableSpec(SyncOp.Update, "db", "t",
      updateFields = Some(Seq("name"))).validate()
    val r = eng.update(spec, updates, Seq("id"))
    assert(r.rowsBefore == 1000 && r.rowsAfter == 1000)

    val m1 = partMtimes(root, "db.t")
    val changed = m1.filter { case (k, v) => v != m0(k) }.keySet
    assert(changed == Set("bucket=3", "bucket=7"),
      s"only affected partitions rewrite; got $changed")

    // semantics identical to full update: matched rows changed, others not
    val got = store.read("db.t")
      .filter($"id".isin(3L, 7L, 703L, 5L))
      .select("id", "name").as[(Long, String)].collect().toMap
    assert(got == Map(3L -> "UPD3", 7L -> "UPD7", 703L -> "UPD703", 5L -> "n5"))
  }

  test("partitioned append_where rewrites only partitions owning deleted/inserted rows") {
    val root = tmpDir("paw")
    val store = new ParquetTableStore(spark, root)
    val eng = new SyncEngine(store)
    store.overwritePartitioned("db.t",
      (1L to 1000L).map(i => (i, s"v$i", i % 10)).toDF("id", "payload", "bucket"),
      Seq("bucket"))
    val m0 = partMtimes(root, "db.t")
    Thread.sleep(1100)
    // filter selects rows of bucket 4 only; fresh versions come in
    val spec = TableSpec(SyncOp.AppendWhere, "db", "t",
      whereFilter = Some("bucket = 4")).validate()
    val incoming = Seq((4L, "FRESH4", 4L), (1004L, "NEW1004", 4L))
      .toDF("id", "payload", "bucket")
    val r = eng.appendWhere(spec, incoming)
    val changed = partMtimes(root, "db.t").filter { case (k, v) => v != m0(k) }.keySet
    assert(changed == Set("bucket=4"), s"got $changed")
    // delete-first semantics: old bucket-4 rows gone, fresh ones present
    assert(store.read("db.t").filter($"bucket" === 4).count() == 2)
    assert(r.rowsAfter == 1000 - 100 + 2)
    assert(store.read("db.t").filter($"bucket" === 5).count() == 100)
  }

  test("fully-deleted partition with no incoming rows is dropped, not silently kept") {
    val root = tmpDir("pawdel")
    val store = new ParquetTableStore(spark, root)
    val eng = new SyncEngine(store)
    store.overwritePartitioned("db.t",
      (1L to 100L).map(i => (i, s"v$i", i % 5)).toDF("id", "payload", "bucket"),
      Seq("bucket"))
    // filter deletes ALL of bucket 2; incoming has nothing for bucket 2
    val spec = TableSpec(SyncOp.AppendWhere, "db", "t",
      whereFilter = Some("bucket = 2")).validate()
    val r = eng.appendWhere(spec,
      spark.emptyDataFrame.select(lit(0L).as("id"), lit("").as("payload"),
        lit(0L).as("bucket")).limit(0))
    assert(store.read("db.t").filter($"bucket" === 2).count() == 0,
      "deleted rows must not survive")
    assert(r.rowsAfter == 80)
    assert(store.read("db.t").filter($"bucket" === 3).count() == 20)
  }

  test("partitioned update matches update() semantics: W6 watermark + last-by-sync dedup") {
    val root = tmpDir("pupd2")
    val store = new ParquetTableStore(spark, root)
    val eng = new SyncEngine(store)
    store.overwritePartitioned("db.t",
      Seq((1L, "a", 10L, 0L), (2L, "b", 20L, 1L))
        .toDF("id", "name", "ver", "bucket"), Seq("bucket"))
    val spec = TableSpec(SyncOp.Update, "db", "t",
      updateFields = Some(Seq("name")),
      syncUpdateByColumnMax = Some("ver")).validate()
    // id=1: two candidate rows above watermark — highest ver must win;
    // id=2: candidate BELOW target max(ver)=20 — filtered by W6
    val updates = Seq((1L, "OLD", 21L), (1L, "NEW", 25L), (2L, "STALE", 15L))
      .toDF("id", "name", "ver")
    eng.update(spec, updates, Seq("id"))
    val got = store.read("db.t").select("id", "name")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "NEW", 2L -> "b"))
  }

  test("emptied-partition drop handles Hive-escaped values (slashes) correctly") {
    val root = tmpDir("pawesc")
    val store = new ParquetTableStore(spark, root)
    val eng = new SyncEngine(store)
    // partition values contain '/', written Hive-escaped (%2F)
    store.overwritePartitioned("db.t",
      Seq((1L, "x", "2024/01"), (2L, "y", "2024/02"), (3L, "z", "2024/02"))
        .toDF("id", "payload", "slice"), Seq("slice"))
    val spec = TableSpec(SyncOp.AppendWhere, "db", "t",
      whereFilter = Some("slice = '2024/01'")).validate()
    eng.appendWhere(spec,
      Seq.empty[(Long, String, String)].toDF("id", "payload", "slice"))
    assert(store.read("db.t").count() == 2, "escaped partition must be dropped")
    assert(store.read("db.t").filter($"slice" === "2024/02").count() == 2)
  }

  test("partitioned update with no matches rewrites nothing") {
    val root = tmpDir("pupd")
    val store = new ParquetTableStore(spark, root)
    val eng = new SyncEngine(store)
    store.overwritePartitioned("db.t",
      (1L to 100L).map(i => (i, s"n$i", i % 5)).toDF("id", "name", "bucket"),
      Seq("bucket"))
    val m0 = partMtimes(root, "db.t")
    Thread.sleep(1100)
    val spec = TableSpec(SyncOp.Update, "db", "t",
      updateFields = Some(Seq("name"))).validate()
    eng.update(spec,
      Seq((9999L, "ghost")).toDF("id", "name"), Seq("id"))
    assert(partMtimes(root, "db.t") == m0)
    assert(store.count("db.t") == 100)
  }
}

package graft

import graft.io.{ParquetMeta, ParquetTableStore}
import graft.ops._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Write-path semantics of the 5 sync operations (SURVEY.md §2.3), incl.
  * the convergence/idempotence properties §5 calls for. */
class SyncEngineSpec extends SparkTestBase {
  import spark.implicits._

  def freshEngine(): (ParquetTableStore, SyncEngine) = {
    val store = new ParquetTableStore(spark, tmpDir("sync"))
    (store, new SyncEngine(store))
  }

  def src(rows: (Long, String, Long)*): DataFrame =
    rows.toSeq.toDF("id", "name", "ver")

  test("W1 recreate: full reload, repeat converges to source") {
    val (store, eng) = freshEngine()
    val spec = TableSpec(SyncOp.Recreate, "db", "t").validate()
    val r1 = eng.recreate(spec, src((1, "a", 1), (2, "b", 1)))
    assert(r1.rowsAfter == 2 && r1.rowsCopied == 2)
    val r2 = eng.recreate(spec, src((3, "c", 1)))
    assert(r2.rowsAfter == 1)
    assert(store.read("db.t").as[(Long, String, Long)].collect().toSet ==
      Set((3L, "c", 1L)))
  }

  test("W1 recreate honors only_columns projection and where_filter") {
    val (store, eng) = freshEngine()
    val spec = TableSpec(SyncOp.Recreate, "db", "t",
      onlyColumns = Some(Seq("id", "name")),
      whereFilter = Some("id > 1")).validate()
    eng.recreate(spec, src((1, "a", 1), (2, "b", 1), (3, "c", 1)))
    val out = store.read("db.t")
    assert(out.columns.toSeq == Seq("id", "name"))
    assert(out.select("id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("W1 recreate with stored-DDL schema normalizes order, types and dates") {
    import org.apache.spark.sql.types._
    val (store, eng) = freshEngine()
    val spec = TableSpec(SyncOp.Recreate, "db", "t").validate()
    // stored DDL: (id LONG, amt DECIMAL(38,6)) but source arrives as
    // (amt STRING, id STRING) — the reference's create_ch_script path
    val ddl = StructType(Seq(StructField("id", LongType),
      StructField("amt", DecimalType(38, 6))))
    val src = Seq(("12.5", "7")).toDF("amt", "id")
    eng.recreate(spec, src, targetSchema = Some(ddl))
    val out = store.read("db.t")
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq("id" -> LongType, "amt" -> DecimalType(38, 6)))
    assert(out.as[(Long, BigDecimal)].head() == ((7L, BigDecimal("12.5"))))
  }

  test("W2 append_where: delete-matching-then-insert eliminates duplicates") {
    val (store, eng) = freshEngine()
    val rec = TableSpec(SyncOp.Recreate, "db", "t").validate()
    eng.recreate(rec, src((1, "old", 1), (5, "keep", 1), (10, "stale", 1)))
    val spec = TableSpec(SyncOp.AppendWhere, "db", "t",
      whereFilter = Some("id >= 10")).validate()
    // incoming has fresh versions of the id>=10 slice
    val r = eng.appendWhere(spec, src((10, "fresh", 2), (11, "new", 2)))
    val got = store.read("db.t").as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "old", 1L), (5L, "keep", 1L),
      (10L, "fresh", 2L), (11L, "new", 2L)))
    assert(r.rowsAfter == 4)
    // idempotent: re-running with same incoming yields same target
    eng.appendWhere(spec, src((10, "fresh", 2), (11, "new", 2)))
    assert(store.read("db.t").as[(Long, String, Long)].collect().toSet == got)
  }

  test("W3 append_bymax: only rows above watermark load; rerun is a no-op") {
    val (store, eng) = freshEngine()
    val rec = TableSpec(SyncOp.Recreate, "db", "t").validate()
    eng.recreate(rec, src((1, "a", 1), (2, "b", 1)))
    val spec = TableSpec(SyncOp.AppendByMax, "db", "t",
      syncByColumnMax = Some("id")).validate()
    val full = src((1, "a", 1), (2, "b", 1), (3, "c", 1), (4, "d", 1))
    val r = eng.appendByMax(spec, full)
    assert(r.rowsBefore == 2 && r.rowsAfter == 4 && r.rowsCopied == 2)
    val r2 = eng.appendByMax(spec, full)   // convergence: nothing new
    assert(r2.rowsCopied == 0)
    assert(store.read("db.t").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("W3 watermark keeps the sync column's native type (no long truncation)") {
    val (store, eng) = freshEngine()
    // fractional sync column: rows between trunc(max) and max must load
    val spec0 = TableSpec(SyncOp.Recreate, "db", "t").validate()
    eng.recreate(spec0, Seq((1L, 10.5)).toDF("id", "score"))
    val spec = TableSpec(SyncOp.AppendByMax, "db", "t",
      syncByColumnMax = Some("score")).validate()
    // 10.7 > 10.5 but a long-truncated watermark (10) would ALSO admit
    // 10.2 twice; and a truncated comparison would reject nothing — the
    // killer case is 10.7 vs trunc(10.5)=10: both orders must work
    val r = eng.appendByMax(spec, Seq((1L, 10.5), (2L, 10.7)).toDF("id", "score"))
    assert(r.rowsCopied == 1)
    assert(store.read("db.t").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    // re-run: 10.7 is now the max; nothing loads (trunc would re-admit it)
    val r2 = eng.appendByMax(spec, Seq((2L, 10.7)).toDF("id", "score"))
    assert(r2.rowsCopied == 0)
  }

  test("W3 rejects string sync columns loudly (lexicographic watermark = silent loss)") {
    val (store, eng) = freshEngine()
    eng.recreate(TableSpec(SyncOp.Recreate, "db", "t").validate(),
      Seq((1L, "9")).toDF("id", "ver"))
    val spec = TableSpec(SyncOp.AppendByMax, "db", "t",
      syncByColumnMax = Some("ver")).validate()
    val e = intercept[IllegalArgumentException](
      eng.appendByMax(spec, Seq((2L, "10")).toDF("id", "ver")))
    assert(e.getMessage.contains("lexicographically"))
  }

  test("W3 append_bymax bootstraps an absent target with a full load") {
    val (store, eng) = freshEngine()
    val spec = TableSpec(SyncOp.AppendByMax, "db", "t",
      syncByColumnMax = Some("id")).validate()
    val r = eng.appendByMax(spec, src((1, "a", 1), (2, "b", 1)))
    assert(r.rowsBefore == 0 && r.rowsAfter == 2)
  }

  test("W4 append_notin: inserts only unseen key tuples (arity 2)") {
    val (store, eng) = freshEngine()
    val rec = TableSpec(SyncOp.Recreate, "db", "t").validate()
    eng.recreate(rec, src((1, "a", 1), (2, "b", 2)))
    val spec = TableSpec(SyncOp.AppendNotIn, "db", "t",
      syncByColumns = Some(Seq("id", "ver"))).validate()
    // (1,1) and (2,2) exist; (2,3) is a new tuple; (9,9) is new
    val r = eng.appendNotIn(spec,
      src((1, "dup", 1), (2, "newver", 3), (9, "new", 9)))
    assert(r.rowsCopied == 2)
    val r2 = eng.appendNotIn(spec,
      src((1, "dup", 1), (2, "newver", 3), (9, "new", 9)))
    assert(r2.rowsCopied == 0)   // convergence
    assert(store.read("db.t").count() == 4)
    // appended files keep the table's column order, so a positional read
    // holds whichever footer the read schema comes from
    assert(store.read("db.t").as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 1L), (2L, "b", 2L), (2L, "newver", 3L), (9L, "new", 9L)))
    store.read("db.t").inputFiles.foreach { f =>
      assert(ParquetMeta.schema(spark, f).fieldNames.toSeq ==
        Seq("id", "name", "ver"), f)
    }
  }

  test("W4 append_notin: duplicate target keys, same rows, fewer jobs than distinct keys") {
    val keys = Seq("id", "ver")
    val spec = TableSpec(SyncOp.AppendNotIn, "db", "t",
      syncByColumns = Some(keys)).validate()
    // every key tuple (i, 1) appears three times in the target
    val target = src((1 to 10).flatMap(i => (1 to 3).map(k => (i.toLong, s"t$i-$k", 1L))): _*)
    val incoming = src((5 to 15).map(i => (i.toLong, s"n$i", 1L)) :+ ((5L, "v2", 2L)): _*)
    val (store, eng) = freshEngine()
    val (ref, _) = freshEngine()
    Seq(store, ref).foreach(_.overwrite("db.t", target))
    val (r, jobs) = JobProbe.jobs(spark)(eng.appendNotIn(spec, incoming))
    // the previous form: a distinct key set on the join's right side
    val (_, refJobs) = JobProbe.jobs(spark)(ref.append("db.t",
      incoming.join(ref.read("db.t").select(keys.map(col): _*).distinct(), keys, "left_anti")))
    def rows(st: ParquetTableStore) = st.read("db.t").select("id", "name", "ver")
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(r.rowsCopied == 6)
    assert(rows(store) == rows(ref))
    assert(rows(store).count(_._2.startsWith("n")) == 5)
    assert(jobs.size < refJobs.size,
      s"${jobs.map(_.callSite)} vs ${refJobs.map(_.callSite)}")
  }

  test("W4 arity cap enforced at harvest") {
    val (_, eng) = freshEngine()
    intercept[IllegalArgumentException](
      Watermark.keySet(src((1, "a", 1)).toDF("a", "b", "c"),
        Seq("a", "b", "c", "a")))
  }

  test("W5 update: only update_fields change, only matched PKs, idempotent") {
    val (store, eng) = freshEngine()
    val rec = TableSpec(SyncOp.Recreate, "db", "t").validate()
    eng.recreate(rec, src((1, "a", 1), (2, "b", 1), (3, "c", 1)))
    val spec = TableSpec(SyncOp.Update, "db", "t",
      updateFields = Some(Seq("name"))).validate()
    val updates = Seq((2L, "B2", 99L), (7L, "ghost", 99L))
      .toDF("id", "name", "ver")
    val r = eng.update(spec, updates, pkColumns = Seq("id"))
    val got = store.read("db.t").as[(Long, String, Long)].collect().toSet
    // id=2 name updated, ver UNTOUCHED (not an update_field); id=7 ignored
    assert(got == Set((1L, "a", 1L), (2L, "B2", 1L), (3L, "c", 1L)))
    assert(r.rowsBefore == 3 && r.rowsAfter == 3)
    eng.update(spec, updates, pkColumns = Seq("id"))   // idempotence
    assert(store.read("db.t").as[(Long, String, Long)].collect().toSet == got)
  }

  test("W5 matched NULL update really nulls the field (dictHas vs null-value)") {
    val (store, eng) = freshEngine()
    eng.recreate(TableSpec(SyncOp.Recreate, "db", "t").validate(),
      src((1, "keep", 1), (2, "tonull", 1)))
    val spec = TableSpec(SyncOp.Update, "db", "t",
      updateFields = Some(Seq("name"))).validate()
    val updates = Seq((2L, Option.empty[String], 9L))
      .toDF("id", "name", "ver")
    eng.update(spec, updates, pkColumns = Seq("id"))
    val got = store.read("db.t").select("id", "name")
      .as[(Long, Option[String])].collect().toMap
    // matched PK with NULL value → field becomes NULL; unmatched untouched
    assert(got == Map(1L -> Some("keep"), 2L -> None))
  }

  test("W5 dedups multi-row updates to one value per PK (dictionary semantics)") {
    val (store, eng) = freshEngine()
    eng.recreate(TableSpec(SyncOp.Recreate, "db", "t").validate(),
      src((1, "a", 1)))
    val spec = TableSpec(SyncOp.Update, "db", "t",
      updateFields = Some(Seq("name")),
      syncUpdateByColumnMax = None).validate()
    // two candidate rows for pk=1; highest ord (pk itself here) dedup keeps one
    val updates = Seq((1L, "v1", 1L), (1L, "v2", 2L)).toDF("id", "name", "ver")
    eng.update(spec, updates, pkColumns = Seq("id"))
    assert(store.read("db.t").count() == 1)
  }

  test("W5 duplicate-PK dedup without a sync column picks a DETERMINISTIC survivor") {
    // ordering is sync-col + all update_fields; without a sync col the
    // update_fields order alone must fix the survivor (desc → "v9")
    // regardless of input partitioning/arrival order
    val survivors = (1 to 3).map { i =>
      val (store, eng) = freshEngine()
      eng.recreate(TableSpec(SyncOp.Recreate, "db", s"det$i").validate(),
        src((1, "a", 1)))
      val spec = TableSpec(SyncOp.Update, "db", s"det$i",
        updateFields = Some(Seq("name")),
        syncUpdateByColumnMax = None).validate()
      val rows = Seq((1L, "v1", 1L), (1L, "v9", 2L), (1L, "v5", 3L))
      val shuffled = scala.util.Random.shuffle(rows)
      val updates = shuffled.toDF("id", "name", "ver").repartition(3)
      eng.update(spec, updates, pkColumns = Seq("id"))
      store.read(s"db.det$i").select("name").as[String].head()
    }
    assert(survivors.distinct == Seq("v9"),
      s"survivor must be the update_fields-desc max every run: $survivors")
  }

  test("W6 update watermark: only rows above target max(sync) feed the merge") {
    val (store, eng) = freshEngine()
    eng.recreate(TableSpec(SyncOp.Recreate, "db", "t").validate(),
      src((1, "a", 10), (2, "b", 20)))
    val spec = TableSpec(SyncOp.Update, "db", "t",
      updateFields = Some(Seq("name")),
      syncUpdateByColumnMax = Some("ver")).validate()
    // ver=15 is below target max(ver)=20 → filtered out; ver=25 applies
    val updates = Seq((1L, "STALE", 15L), (2L, "FRESH", 25L))
      .toDF("id", "name", "ver")
    eng.update(spec, updates, pkColumns = Seq("id"))
    val got = store.read("db.t").as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "a", 10L), (2L, "FRESH", 20L)))
  }

  test("append_bymax then append_notin converge to source (property)") {
    val (store, eng) = freshEngine()
    val source = (1L to 50L).map(i => (i, s"n$i", i)).toDF("id", "name", "ver")
    // partial initial load
    eng.recreate(TableSpec(SyncOp.Recreate, "db", "t").validate(),
      source.filter($"id" <= 20))
    eng.appendByMax(TableSpec(SyncOp.AppendByMax, "db", "t",
      syncByColumnMax = Some("id")).validate(), source)
    assert(store.read("db.t").count() == 50)
    // poke a hole then converge via notin
    val holed = store.read("db.t").filter($"id" =!= 25)
    store.overwrite("db.t", holed)
    eng.appendNotIn(TableSpec(SyncOp.AppendNotIn, "db", "t",
      syncByColumns = Some(Seq("id"))).validate(), source)
    assert(store.read("db.t").select("id").as[Long].collect().sorted.toSeq ==
      (1L to 50L))
  }
}

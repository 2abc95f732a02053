package graft

import graft.audit.InMemoryAuditSink
import graft.io.ParquetTableStore
import graft.ops._
import graft.orchestration.TaskRunner
import org.apache.spark.sql.DataFrame
import scala.concurrent.duration._

class TaskRunnerSpec extends SparkTestBase {
  import spark.implicits._

  def fixture() = {
    val store = new ParquetTableStore(spark, tmpDir("task"))
    val audit = new InMemoryAuditSink
    (store, audit, new TaskRunner(spark, new SyncEngine(store), audit,
      heartbeat = 100.millis))
  }

  def src(n: Int): DataFrame =
    (1 to n).map(i => (i.toLong, s"r$i")).toDF("id", "name")

  test("two-wave ordering: updates always run after appends (audit timestamps)") {
    val (store, audit, runner) = fixture()
    store.overwrite("db.u", Seq((1L, "old")).toDF("id", "name"))
    val task = TaskSpec(Seq(
      TableSpec(SyncOp.Update, "db", "u", updateFields = Some(Seq("name"))),
      TableSpec(SyncOp.Recreate, "db", "a"),
      TableSpec(SyncOp.Recreate, "db", "b")), degree = 2)
    runner.run(task, {
      case "db.u" => Seq((1L, "NEW")).toDF("id", "name")
      case _      => src(5)
    }, pkColumns = Map("db.u" -> Seq("id")))
    val finished = audit.events.filter(_.status.startsWith("finished_"))
    val updFinish = finished.find(_.operation == "update").get.at
    val appendFinishes = finished.filterNot(_.operation == "update").map(_.at)
    assert(appendFinishes.forall(a => !a.isAfter(updFinish)))
    assert(store.read("db.u").as[(Long, String)].head() == ((1L, "NEW")))
  }

  test("degree > 3 runs tables concurrently; all complete") {
    val (store, audit, runner) = fixture()
    val tables = (1 to 6).map(i => TableSpec(SyncOp.Recreate, "db", s"t$i"))
    runner.run(TaskSpec(tables, degree = 5), _ => src(100))
    (1 to 6).foreach(i => assert(store.count(s"db.t$i") == 100))
    assert(audit.events.count(_.status == "finished_recreate") == 6)
  }

  test("single-flight: concurrent second task is rejected, state resets to Wait") {
    val (_, _, runner) = fixture()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val started = new java.util.concurrent.CountDownLatch(1)
    val slowSrc: String => DataFrame = { _ =>
      started.countDown(); gate.await(); src(3) }
    val t = new Thread(() => runner.run(
      TaskSpec(Seq(TableSpec(SyncOp.Recreate, "db", "slow"))), slowSrc))
    t.start(); started.await()
    intercept[runner.RejectedException] {
      runner.run(TaskSpec(Seq(TableSpec(SyncOp.Recreate, "db", "x"))), _ => src(1))
    }
    gate.countDown(); t.join()
    // after completion a new task is admitted
    runner.run(TaskSpec(Seq(TableSpec(SyncOp.Recreate, "db", "y"))), _ => src(1))
  }

  test("error capture: failing table audits error, task errors, state resets") {
    val (_, audit, runner) = fixture()
    val boom: String => DataFrame =
      _ => throw new RuntimeException("source exploded")
    intercept[RuntimeException] {
      runner.run(TaskSpec(Seq(TableSpec(SyncOp.Recreate, "db", "bad"))), boom)
    }
    assert(audit.events.exists(e =>
      e.status == "error" && e.error.exists(_.contains("source exploded"))))
    assert(audit.taskEvents.exists(_.status.startsWith("error")))
    // engine re-admits after failure
    runner.run(TaskSpec(Seq(TableSpec(SyncOp.Recreate, "db", "ok"))), _ => src(1))
  }

  test("an update task on a partitioned target rewrites only the affected partition") {
    val root = tmpDir("task-part")
    val store = new ParquetTableStore(spark, root)
    val audit = new InMemoryAuditSink
    val runner = new TaskRunner(spark, new SyncEngine(store), audit,
      heartbeat = 100.millis)
    store.overwritePartitioned("db.pt",
      (1L to 100L).map(i => (i, s"n$i", i % 5)).toDF("id", "name", "bucket"),
      Seq("bucket"))
    val m0 = PartitionLayoutSpec.partMtimes(root, "db.pt")
    Thread.sleep(1100)   // mtime resolution guard
    val task = TaskSpec(Seq(
      TableSpec(SyncOp.Update, "db", "pt", updateFields = Some(Seq("name")))),
      degree = 2)
    runner.run(task,
      _ => Seq((7L, "UPD7", 2L)).toDF("id", "name", "bucket"),
      pkColumns = Map("db.pt" -> Seq("id")))
    val m1 = PartitionLayoutSpec.partMtimes(root, "db.pt")
    assert(m1.keySet == m0.keySet)
    assert(m1.filter { case (k, v) => v != m0(k) }.keySet == Set("bucket=2"))
    assert(store.read("db.pt").filter($"id" === 7L)
      .select("name").as[String].head() == "UPD7")
    assert(store.count("db.pt") == 100)
    assert(audit.events.exists(_.status == "finished_update"))
  }

  test("heartbeat on a ParquetTableStore launches no Spark job") {
    // same task twice: a 50 ms heartbeat, and one that never ticks; the
    // ticks read the existing target's row count from parquet footers
    def jobsWith(heartbeat: FiniteDuration) = {
      val store = new ParquetTableStore(spark, tmpDir("task-hb"))
      val audit = new InMemoryAuditSink
      val runner = new TaskRunner(spark, new SyncEngine(store), audit, heartbeat)
      store.overwrite("db.hb", src(10))
      val slowSrc: String => DataFrame = { _ => Thread.sleep(450); src(20) }
      val (_, jobs) = JobProbe.jobs(spark) {
        runner.run(TaskSpec(Seq(TableSpec(SyncOp.Recreate, "db", "hb"))), slowSrc)
      }
      assert(store.count("db.hb") == 20)
      (audit.events.filter(_.status == "copying"), jobs)
    }
    val (ticks, withHeartbeat) = jobsWith(50.millis)
    val (noTicks, without) = jobsWith(1.hour)
    assert(ticks.size >= 2 && ticks.exists(_.rowsCopied == 10),
      s"expected copying rows counting the 10-row target, got $ticks")
    assert(noTicks.isEmpty)
    assert(withHeartbeat.size == without.size,
      s"heartbeat added jobs: [${withHeartbeat.mkString(" | ")}] vs " +
        s"[${without.mkString(" | ")}]")
  }

  test("heartbeat emits copying events for slow copies") {
    val (_, audit, runner) = fixture()
    val slowSrc: String => DataFrame = { _ => Thread.sleep(450); src(10) }
    runner.run(TaskSpec(Seq(TableSpec(SyncOp.Recreate, "db", "slow2"))), slowSrc)
    assert(audit.events.count(e => e.status == "copying") >= 2)
  }
}

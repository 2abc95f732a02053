package graft

import graft.ops.GraphOps
import org.apache.spark.sql.functions._

/** ops/GraphOps.pageRank — the integer-rule diffusion: fixed points,
  * hand-computed small graphs, dangling mass, determinism. */
class GraphOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int,
                    dampingPm: Int = 850): Map[Long, Long] =
    GraphOps.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iters, dampingPm)
      .as[(Long, Long)].collect().toMap

  test("a directed ring is a fixed point: every rank stays exactly 1e6") {
    // outdeg 1 everywhere, in-deg 1 everywhere:
    // r' = 150000 + 850*1e6 div 1000 = 1_000_000 each iteration
    val ring = (0L until 10L).map(i => (i, (i + 1) % 10))
    for (iters <- Seq(1, 3, 7))
      assert(ranks(ring, iters).values.toSet == Set(1000000L),
        s"ring must be invariant at iters=$iters")
  }

  test("star graph: hub accumulates, leaves fall to the base, hand-computed") {
    // 4 leaves -> hub 0; hub -> leaf 1. After one iteration:
    //   hub: in = 4 leaves × (1e6 div 1) = 4e6 → 150000 + 850*4e6 div 1000
    //   leaf1: in = hub 1e6 → 150000 + 850000; other leaves: base only
    val star = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L))
    val r1 = ranks(star, 1)
    assert(r1(0L) == 150000L + 850L * 4000000L / 1000L) // 3_550_000
    assert(r1(1L) == 1000000L)
    assert(r1(2L) == 150000L && r1(3L) == 150000L && r1(4L) == 150000L)
    // second iteration: hub receives leaf1's full 1e6 (it kept rank —
    // it got the hub's mass in iter 1) plus 3 × 150000 from the bare
    // leaves; leaf1 receives the hub's 3_550_000
    val r2 = ranks(star, 2)
    assert(r2(0L) == 150000L + 850L * (1000000L + 3 * 150000L) / 1000L) // 1_382_500
    assert(r2(1L) == 150000L + 850L * 3550000L / 1000L)    // 3_167_500
  }

  test("dangling nodes keep their base rank and their mass drops") {
    // 0 -> 1, 1 has no out-edges: node 1 is a sink
    val r = ranks(Seq((0L, 1L)), 2)
    assert(r(1L) == 150000L + 850L * 150000L / 1000L,
      "sink keeps receiving from 0's shrinking rank")
    assert(r(0L) == 150000L, "no in-edges: base rank only")
  }

  test("iters=0 returns the uniform start; multi-edges contribute per instance") {
    assert(ranks(Seq((0L, 1L)), 0).values.toSet == Set(1000000L))
    // double edge 0->1 plus 0->2: outdeg 3, node 1 gets 2 shares
    val r = ranks(Seq((0L, 1L), (0L, 1L), (0L, 2L)), 1)
    val share = 1000000L / 3L // 333_333
    assert(r(1L) == 150000L + 850L * (2 * share) / 1000L)
    assert(r(2L) == 150000L + 850L * share / 1000L)
  }

  test("result is partition-independent and repeatable") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.tabulate(400)(i =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val a = ranks(edges, 3)
    val b = GraphOps.pageRank(
        edges.toDF("src", "dst").repartition(17), "src", "dst", 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b, "integer rule must be partitioning-invariant")
  }

  test("validation fails loud on bad damping or negative iters") {
    val df = Seq((0L, 1L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(df, "src", "dst", -1)
    }
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(df, "src", "dst", 1, dampingPm = 1001)
    }
  }

  private def triStats(edges: Seq[(Long, Long)]) =
    GraphOps.triangleStats(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("triangleStats: hand-computed graph, dedup/self-loop/direction rules") {
    // K3 (1,2,3) + pendant 4 on node 1 + isolated edge 5-6; noise:
    // reversed duplicate (2,1), self-loop (3,3)
    val got = triStats(Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (2L, 1L), (3L, 3L),
      (1L, 4L), (5L, 6L)))
    // node 1: deg 3, 1 triangle, cc = 2000*1/(3*2)=333
    assert(got(1L) == ((3L, 1L, 333L)))
    assert(got(2L) == ((2L, 1L, 1000L)))
    assert(got(3L) == ((2L, 1L, 1000L)))
    assert(got(4L) == ((1L, 0L, 0L)))   // deg<2 → cc defined 0
    assert(got(5L) == ((1L, 0L, 0L)))
    assert(got(6L) == ((1L, 0L, 0L)))
  }

  test("triangleStats: K4 counts every triangle once per corner") {
    // K4: 4 triangles total, each node in C(3,2)=3 of them, cc=1000
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val got = triStats(k4)
    (0L to 3L).foreach { v => assert(got(v) == ((3L, 3L, 1000L))) }
  }

  test("hopDistance: BFS levels, min-hop on shortcuts, maxHops cutoff") {
    // path 1-2-3-4-5 plus shortcut 1-4 and island 9-10
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (1L, 4L), (9L, 10L)).toDF("src", "dst")
    val src = Seq(1L).toDF("node")
    val got = GraphOps.hopDistance(edges, "src", "dst", src, maxHops = 10)
      .as[(Long, Int)].collect().toMap
    // 4 is reachable in 3 hops via the path but 1 via the shortcut
    assert(got == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
    // the island is unreachable → absent, not hop-labeled
    assert(!got.contains(9L) && !got.contains(10L))
    // maxHops truncates the far tier
    val capped = GraphOps.hopDistance(edges, "src", "dst", src, maxHops = 1)
      .as[(Long, Int)].collect().toMap
    assert(capped == Map(1L -> 0, 2L -> 1, 4L -> 1))
    // multi-source: closest source wins; direction ignored
    val multi = GraphOps.hopDistance(edges, "src", "dst",
        Seq(5L, 9L).toDF("node"), maxHops = 10)
      .as[(Long, Int)].collect().toMap
    assert(multi == Map(5L -> 0, 9L -> 0, 4L -> 1, 10L -> 1,
      1L -> 2, 3L -> 2, 2L -> 3))
    // partition independence
    val again = GraphOps.hopDistance(edges.repartition(7), "src", "dst",
        src, maxHops = 10).as[(Long, Int)].collect().toMap
    assert(again == got)
  }

  test("triangleStats: node ids past 2^32 and negative ids still count right") {
    // the old packed degree·2^32 + id orientation key overflowed /
    // mis-ordered here; struct(degree, id) must not care
    val big = 1L << 40
    val got = triStats(Seq(
      (big + 1, big + 2), (big + 2, -big), (big + 1, -big),  // K3
      (big + 1, 7L)))                                         // pendant
    assert(got(big + 1) == ((3L, 1L, 333L)))
    assert(got(big + 2) == ((2L, 1L, 1000L)))
    assert(got(-big) == ((2L, 1L, 1000L)))
    assert(got(7L) == ((1L, 0L, 0L)))
  }

  test("labelPropagation: barbell graph splits where components cannot") {
    // two K4 cliques {1..4}, {11..14} joined by ONE bridge 4-11:
    // components see one blob; 2 LPA rounds find two communities
    def k4(base: Long) = for (a <- 0L to 3L; b <- 0L to 3L if a < b)
      yield (base + a, base + b)
    val edges = (k4(1L) ++ k4(11L) :+ (4L, 11L)).toDF("src", "dst")
    val got = GraphOps.labelPropagation(edges, "src", "dst", iters = 2)
      .as[(Long, Long)].collect().toMap
    val left = (1L to 4L).map(got)
    val right = (11L to 14L).map(got)
    assert(left.toSet.size == 1 && right.toSet.size == 1,
      s"each clique must agree on one community: $got")
    assert(left.head != right.head, "bridged cliques must separate")
    // determinism across partitionings
    val again = GraphOps.labelPropagation(edges.repartition(7),
      "src", "dst", iters = 2).as[(Long, Long)].collect().toMap
    assert(again == got)
    // iters=0 → everyone its own community
    val zero = GraphOps.labelPropagation(edges, "src", "dst", 0)
      .as[(Long, Long)].collect()
    assert(zero.forall(r => r._1 == r._2))
  }

  test("triangleStats matches a brute-force reference on a random graph") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(120)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2).toSet }
    val expected = adj.map { case (v, ns) =>
      val d = ns.size.toLong
      val tri = ns.toSeq.combinations(2)
        .count { case Seq(x, y) => adj(x).contains(y) }.toLong
      v -> ((d, tri, if (d < 2) 0L else 2000L * tri / (d * (d - 1))))
    }
    val got = triStats(edges)
    assert(got == expected)
    // partition-independence
    val again = GraphOps.triangleStats(
        edges.toDF("src", "dst").repartition(13), "src", "dst")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(again == got)
  }

  test("kCore: K4 plus a pendant — 3-core keeps exactly the clique") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val edges = (k4 :+ ((1L, 5L))).toDF("x", "y")
    val got = GraphOps.kCore(edges, "x", "y", k = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      "pendant node 5 must peel away; the clique keeps degree 3")
  }

  test("kCore: peel cascades — a chain has no 2-core, a cycle is one") {
    val chain = (1L until 7L).map(i => (i, i + 1)).toDF("x", "y")
    assert(GraphOps.kCore(chain, "x", "y", k = 2).count() == 0,
      "endpoint removal must cascade through the whole chain")
    val cycle = ((1L until 7L).map(i => (i, i + 1)) :+ ((7L, 1L)))
      .toDF("x", "y")
    val got = GraphOps.kCore(cycle, "x", "y", k = 2)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == (1L to 7L).toSet && got.values.forall(_ == 2L))
  }

  test("kCore: duplicate/self/reversed edges collapse; partition-independent") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val noisy = (k4 ++ k4.map(_.swap) ++ Seq((2L, 2L), (1L, 5L)))
      .toDF("x", "y")
    val got = GraphOps.kCore(noisy.repartition(7), "x", "y", k = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore fails loud when maxIter cuts the peel short") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val edges = (k4 :+ ((1L, 5L))).toDF("x", "y")
    val e = intercept[RuntimeException] {
      GraphOps.kCore(edges, "x", "y", k = 3, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("richClubPpm: barbell profile — the bridge nodes form the club") {
    // two triangles bridged at 3-4: deg(3)=deg(4)=3, others 2.
    // k=1: all 6 nodes, 7 edges → φ = 14/30; k=2: nodes {3,4}, edge
    // 3-4 → φ = 1; k=3: nobody → NULL
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("x", "y")
    val got = GraphOps.richClubPpm(edges, "x", "y", Seq(1L, 2L, 3L))
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 6L, 7L, Some(466666L))), s"got $got")
    assert(got(2L) == ((2L, 2L, 1L, Some(1000000L))))
    assert(got(3L) == ((3L, 0L, 0L, None)))
    intercept[IllegalArgumentException](
      GraphOps.richClubPpm(edges, "x", "y", Seq.empty))
  }

  test("reciprocityPpm: mutual pair counts both ways, self-loops " +
       "excluded, empty NULL") {
    // 1⇄2 mutual (both edges reciprocal), 1→3 one-way, 4→4 self-loop
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (4L, 4L)).toDF("s", "d")
    val r = GraphOps.reciprocityPpm(e, "s", "d")
      .as[(Long, Long, Option[Long])].collect().head
    assert(r == ((3L, 2L, Some(666666L))), s"got $r")
    val empty = GraphOps.reciprocityPpm(
      Seq((1L, 1L)).toDF("s", "d"), "s", "d")
      .as[(Long, Long, Option[Long])].collect().head
    assert(empty == ((0L, 0L, None)))
  }

  test("degreeAssortativity: star is perfectly disassortative, " +
       "regular graph NULL") {
    // star 1-{2,3,4,5}: every edge pairs degree 4 with degree 1 →
    // r = −1 exactly (r² = 1e6, sign −1)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("x", "y")
    val r = GraphOps.degreeAssortativity(star, "x", "y")
      .as[(Long, Long, Option[Long])].collect().head
    assert(r == ((8L, -1L, Some(1000000L))), s"got $r")
    // 4-cycle: degree-regular → zero variance → NULL
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("x", "y")
    val c = GraphOps.degreeAssortativity(cyc, "x", "y")
      .as[(Long, Long, Option[Long])].collect().head
    assert(c._3.isEmpty && c._1 == 8L)
  }

  test("personalizedPageRank: mass circulates from seeds only, " +
       "unreachable stays exactly 0") {
    // 3-cycle 1→2→3→1 plus isolated pair 4→5; seed = {1}, d = 500
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L))
      .toDF("s", "d")
    val seeds = Seq(1L).toDF("id")
    val r1 = GraphOps.personalizedPageRank(edges, "s", "d", seeds, "id",
        iters = 1, dampingPm = 500)
      .as[(Long, Long)].collect().toMap
    // r0 = 1e6 at node 1 only; after one step: node 1 restarts
    // (500000) + half of node 3's 0; node 2 gets 500·1e6/1000
    assert(r1 == Map(1L -> 500000L, 2L -> 500000L, 3L -> 0L,
      4L -> 0L, 5L -> 0L), s"got $r1")
    // pure propagation (d = 1000): the unit of mass walks the cycle
    val r3 = GraphOps.personalizedPageRank(edges, "s", "d", seeds, "id",
        iters = 3, dampingPm = 1000)
      .as[(Long, Long)].collect().toMap
    assert(r3 == Map(1L -> 1000000L, 2L -> 0L, 3L -> 0L,
      4L -> 0L, 5L -> 0L), s"got $r3")
    // seeds absent from the graph are ignored
    val rx = GraphOps.personalizedPageRank(edges, "s", "d",
        Seq(99L).toDF("id"), "id", iters = 2, dampingPm = 500)
      .as[(Long, Long)].collect().toMap
    assert(rx.values.forall(_ == 0L))
  }

  test("modularityPpm: two-triangle barbell, one-community zero, " +
       "missing assignment shrinks m") {
    // triangles {1,2,3} and {4,5,6} bridged by 3-4: m=7, d_c=7 each,
    // Q = 2·(4·7·3 − 49)/(4·49) = 70/196 = 0.357142...
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("x", "y")
    val asg = (1L to 6L).map(n => (n, if (n <= 3) "a" else "b"))
      .toDF("n", "c")
    val r = GraphOps.modularityPpm(edges, "x", "y", asg, "n", "c")
      .as[(Long, Long, Long, Option[Long])].collect().head
    assert(r == ((7L, 2L, 1L, Some(357142L))), s"got $r")
    // everything in one community: Q = 0 exactly
    val one = GraphOps.modularityPpm(edges, "x", "y",
      asg.withColumn("c", lit("all")), "n", "c")
      .as[(Long, Long, Long, Option[Long])].collect().head
    assert(one == ((7L, 1L, 0L, Some(0L))))
    // node 6 unassigned: its two edges drop from the tagged graph
    val partial = GraphOps.modularityPpm(edges, "x", "y",
      asg.where(col("n") =!= 6L), "n", "c")
      .as[(Long, Long, Long, Option[Long])].collect().head
    assert(partial._1 == 5L, s"got $partial")
  }

  test("iterative operators free superseded rounds: pins left do not grow with iters") {
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L))
      .toDF("src", "dst")
    // persistent RDDs a call leaves registered (its result held here)
    def left(run: Int => org.apache.spark.sql.DataFrame, iters: Int): Int = {
      val before = sc.getPersistentRDDs.keySet
      val out = run(iters)
      val grown = (sc.getPersistentRDDs.keySet -- before).size
      assert(out.count() == 5)
      grown
    }
    val pr = (i: Int) => GraphOps.pageRank(edges, "src", "dst", i)
    val lpa = (i: Int) => GraphOps.labelPropagation(edges, "src", "dst", i)
    assert(left(pr, 6) == left(pr, 1), "pageRank keeps one pin per round")
    assert(left(lpa, 6) == left(lpa, 1),
      "labelPropagation keeps one pin per round")
  }

  test("with a checkpoint dir, pageRank leaves only its last round's files") {
    val dir = tmpDir("graft-pagerank-ckpt")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val local = ranks(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)), 4)
    org.apache.spark.CheckpointDirBridge.withCheckpointDir(
        spark.sparkContext, dir) {
      val got = GraphOps.pageRank(edges, "src", "dst", 4)
        .as[(Long, Long)].collect().toMap
      assert(got == local, "the reliable branch must rank as the local one")
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      assert(rddDirs == 1L, s"$rddDirs checkpointed rounds left in $dir")
    }
  }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recursive hierarchy traversal — the `WITH RECURSIVE` / CONNECT BY
  * family (org charts, category trees, bill-of-materials) that SQL
  * warehouses ship natively and Spark does not: here as an iterative
  * frontier expansion over a (child, parent) edge frame, the standard
  * Pregel-by-joins reduction of recursion to a bounded loop.
  *
  * [[ancestors]] returns the full transitive closure with hop counts:
  * one row (node, ancestor, depth) per ancestor at 1 ≤ depth ≤
  * `maxDepth`. The loop is DRIVER-bounded: `maxDepth` iterations of a
  * parent-keyed equi join (the frontier's current top joined against
  * the edge list), each iteration checkpointed so the plan stays
  * one-hop deep instead of growing O(depth) (the GraphOps/BPE stance),
  * with an early exit when a frontier empties — the count that decides
  * it is 1-row metadata, the watermark-probe idiom, NOT a data
  * collect. Cycles cannot loop forever (the depth bound cuts them);
  * `requireAcyclic` documents intent — when true, any node found among
  * its own ancestors fails loud instead of silently truncating.
  *
  * Scale shape at 100 TB: every join is keyed by the parent id and
  * carries (node, ancestor, depth) triples only; closure size is
  * Σ depth(n) — for the shallow hierarchies recursion is used on
  * (org/category/BOM: depth ≤ ~20), linear in the input. On a real
  * cluster, pre-bucketing edges by child id makes the per-iteration
  * probe side shuffle-free. */
object Hierarchy {

  def ancestors(edges: DataFrame, childCol: String, parentCol: String,
                maxDepth: Int, requireAcyclic: Boolean = true): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 64,
      s"maxDepth must be in [1, 64], got $maxDepth")
    // one action per hop (the GraphOps.hopDistance fold): the
    // convergence count materializes the frontier's pin (Pins.cutCount)
    val e = Pins.cut(edges.select(col(childCol).cast("long").as("__c"),
      col(parentCol).cast("long").as("__p")).distinct(), eager = false)
    // frontier: the depth-k ancestor of each node; closure accumulates
    var frontier = e.select(col("__c").as("node"),
      col("__p").as("ancestor"), lit(1).as("depth"))
    val acc = scala.collection.mutable.ArrayBuffer(frontier)
    var k = 1
    var n = frontier.count()
    while (n > 0 && k < maxDepth) {
      // distinct per frontier: on DAG inputs (multiple parents — the
      // BOM case) a node reaches the same ancestor at the same depth
      // along several paths; without dedup diamond-heavy DAGs grow the
      // frontier exponentially and the closure breaks its one-row-per-
      // (node, ancestor, depth) contract
      val (f2, m) = Pins.cutCount(frontier
        .join(e.withColumnRenamed("__c", "ancestor"), Seq("ancestor"))
        .select(col("node"), col("__p").as("ancestor"),
          (col("depth") + 1).as("depth"))
        .distinct())
      frontier = f2
      n = m
      if (n > 0) acc += frontier
      k += 1
    }
    val closure = acc.reduce(_ unionByName _)
    if (requireAcyclic) {
      val cyc = closure.filter(col("node") === col("ancestor")).limit(1)
        .count()
      require(cyc == 0L,
        "hierarchy contains a cycle (a node is its own ancestor) — " +
          "pass requireAcyclic=false to traverse anyway, depth-bounded")
    }
    closure
  }

  /** Per-node summary of [[ancestors]]: the hierarchy depth (hops to
    * the furthest ancestor) and the root it reaches under that depth
    * bound — the two columns a rollup over an org/category tree keys
    * on. One map-side-partial groupBy over the closure. In a tree each
    * depth has one ancestor; for DAGs the (depth, ancestor) struct
    * ordering makes the root pick deterministic (largest id at the
    * deepest level). */
  def depthAndRoot(closure: DataFrame): DataFrame =
    closure.groupBy(col("node"))
      .agg(max(col("depth")).as("depth"),
        max_by(col("ancestor"), struct(col("depth"), col("ancestor")))
          .as("root"))
}

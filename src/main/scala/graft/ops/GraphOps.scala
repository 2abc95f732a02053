package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph diffusion — PageRank-style score propagation over an
  * edge frame. The pipeline use: propagate quality/trust across a
  * document graph (links, near-dup clusters, citation edges) so a
  * curation pass can rank sources by more than their own content —
  * the iterative sibling of Dedup's connected components.
  *
  * Determinism contract (engine-independent integer rule, the repo's
  * per-mille discipline): ranks live in integer MICRO-units, damping is
  * per-mille, and one iteration is
  *
  *   contrib(e) = rank(src) div outdeg(src)          (floor division)
  *   r'(v)     = (1000−d)·1000 + (d · Σ contrib(in-edges)) div 1000
  *
  * — every operation exact integer arithmetic, so any engine unrolling
  * the same rule matches bit-for-bit, and the result is independent of
  * partitioning and join order (integer sums are associative). Dangling
  * mass (nodes with no out-edges) is dropped, the standard simple
  * variant; multi-edges contribute once per instance.
  *
  * Scale shape (the 100 TB story): the classic Pregel-by-joins loop —
  * per iteration one src-keyed join (rank onto edges), one dst-keyed
  * map-side-partial sum, one node-keyed left join; all shuffles on
  * graph keys, no windows, no driver-side data. The static
  * (edges ⋈ outdeg) frame builds once and persists across iterations;
  * ranks checkpoint each iteration so the plan stays one-iteration
  * deep instead of growing O(iters) (reliable checkpoint when a
  * checkpoint dir is configured, executor-local otherwise — the
  * GlobalRank/BPE stance). On a real cluster, pre-bucketing edges by
  * src makes the per-iteration rank join shuffle-free on one side.
  */
object GraphOps {

  /** PageRank over `edges`: (node, rank_micro) after `iters`
    * iterations from a uniform 1,000,000-micro start. Nodes are the
    * union of sources and destinations. `dampingPm` is per-mille
    * (850 = the classic 0.85). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampingPm: Int = 850): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampingPm >= 0 && dampingPm <= 1000,
      s"dampingPm must be in [0, 1000], got $dampingPm")
    val base = (1000L - dampingPm) * 1000L // (1−d)·1e6 in micro, exact

    // pin the raw edge frame: deg, the contribEdges join, and the node
    // union all read it — an expensive edge LINEAGE (e.g. a k-NN graph,
    // q143) would otherwise recompute up to 4× before the downstream
    // persists materialize
    val e = edges.select(col(srcCol).cast("long").as("__src"),
      col(dstCol).cast("long").as("__dst")).persist()
    val deg = e.groupBy(col("__src")).agg(count(lit(1)).as("__outdeg"))
    // static across iterations: every edge with its source's out-degree
    val contribEdges = e.join(deg, Seq("__src")).persist()
    val nodes = e.select(col("__src").as("node"))
      .unionByName(e.select(col("__dst").as("node")))
      .distinct().persist()

    // each round's eager cut supersedes the last, which is freed
    var ranks = nodes.withColumn("rank_micro", lit(1000000L))
    for (i <- 1 to iters) {
      val inMass = contribEdges
        .join(ranks.withColumnRenamed("node", "__src"), Seq("__src"))
        .select(col("__dst").as("node"),
          expr("rank_micro div __outdeg").as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__m"))
      val next = Pins.cut(nodes
        .join(inMass, Seq("node"), "left")
        .select(col("node"),
          (lit(base) +
            expr(s"($dampingPm * coalesce(__m, 0L)) div 1000"))
            .as("rank_micro")))
      if (i > 1) Pins.free(ranks)
      ranks = next
    }
    e.unpersist()
    contribEdges.unpersist()
    nodes.unpersist()
    ranks
  }

  /** PERSONALIZED PageRank — importance RELATIVE TO A SEED SET: the
    * restart mass lands only on `seeds` instead of everywhere, so
    * scores answer "how reachable is this node from what I already
    * trust?" (seed-biased curation: propagate from hand-audited
    * documents; recommendation: from one user's items). Same
    * engine-independent integer rule as [[pageRank]] — seeds start at
    * 10⁶ micro and carry the whole (1000−d)·10³ restart; everything
    * else starts (and restarts) at 0, so unreachable-from-seeds nodes
    * stay exactly 0 rather than floating at the uniform floor.
    *
    * Seeds not present in the graph are ignored (flag join on the
    * node set); scale shape identical to [[pageRank]]. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           seedCol: String, iters: Int,
                           dampingPm: Int = 850): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampingPm >= 0 && dampingPm <= 1000,
      s"dampingPm must be in [0, 1000], got $dampingPm")
    val base = (1000L - dampingPm) * 1000L
    val e = edges.select(col(srcCol).cast("long").as("__src"),
      col(dstCol).cast("long").as("__dst")).persist()
    val deg = e.groupBy(col("__src")).agg(count(lit(1)).as("__outdeg"))
    val contribEdges = e.join(deg, Seq("__src")).persist()
    val seedSet = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct().withColumn("__is_seed", lit(true))
    val nodes = e.select(col("__src").as("node"))
      .unionByName(e.select(col("__dst").as("node")))
      .distinct()
      .join(seedSet, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("__is_seed"), lit(false)).as("__seed"),
        when(coalesce(col("__is_seed"), lit(false)), lit(base))
          .otherwise(lit(0L)).as("__restart"))
      .persist()

    var ranks = nodes.select(col("node"),
      when(col("__seed"), lit(1000000L)).otherwise(lit(0L))
        .as("rank_micro"))
    for (i <- 1 to iters) {
      val inMass = contribEdges
        .join(ranks.withColumnRenamed("node", "__src"), Seq("__src"))
        .select(col("__dst").as("node"),
          expr("rank_micro div __outdeg").as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__m"))
      val next = Pins.cut(nodes
        .join(inMass, Seq("node"), "left")
        .select(col("node"),
          (col("__restart") +
            expr(s"($dampingPm * coalesce(__m, 0L)) div 1000"))
            .as("rank_micro")))
      if (i > 1) Pins.free(ranks)
      ranks = next
    }
    e.unpersist(); contribEdges.unpersist(); nodes.unpersist()
    ranks
  }

  /** LABEL-PROPAGATION COMMUNITIES (synchronous LPA): every node
    * starts as its own community and repeatedly adopts the most common
    * label among its neighbors — the near-linear community detector
    * (Raghavan et al.) that complements [[triangleStats]]' local
    * cohesion and connected components' reachability (LPA splits a
    * sparsely-bridged component where components cannot).
    *
    * Determinism (plain LPA is notoriously order-dependent — this
    * variant is not): updates are SYNCHRONOUS (iteration k+1 reads
    * only iteration k), the adopted label is max-count with ties to
    * the SMALLEST label (max_by over the (count, −label) struct — a
    * total order), isolated nodes keep their own label, and the
    * iteration count is a caller-fixed bound. Identical results on
    * any partitioning.
    *
    * Output: (node, community) after `iters` rounds.
    *
    * Scale shape: per iteration one node-keyed join (labels onto the
    * bidirectional edge list) + one (node, label) partial-agg groupBy
    * + one max_by groupBy; labels checkpoint each round so the plan
    * stays one-iteration deep (the pageRank stance). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 0 && iters <= 64, s"iters must be in [0, 64], got $iters")
    val und = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val bi = Pins.cut(und.unionByName(
        und.select(col("b").as("a"), col("a").as("b"))).distinct())
    val nodes = Pins.cut(bi.select(col("a").as("node")).distinct())
    var labels = nodes.withColumn("community", col("node"))
    for (i <- 1 to iters) {
      val nbrLabels = bi
        .join(labels.withColumnRenamed("node", "b"), Seq("b"))
        .select(col("a").as("node"), col("community"))
      val adopted = nbrLabels
        .groupBy(col("node"), col("community"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("node"))
        .agg(max_by(col("community"),
          struct(col("__c"), -col("community"))).as("__new"))
      val next = Pins.cut(nodes.join(adopted, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__new"), col("node")).as("community")))
      if (i > 1) Pins.free(labels)
      labels = next
    }
    Pins.free(bi) // only the rounds read it
    labels
  }

  /** TRIANGLE COUNT + LOCAL CLUSTERING COEFFICIENT per vertex — the
    * cohesion statistics of a similarity/co-occurrence graph (how
    * clique-ish is each node's neighborhood), the structural sibling of
    * [[pageRank]]'s importance diffusion.
    *
    * Algorithm: the degree-ordered edge orientation (Cohen's
    * MapReduce triangle counting / the `NodeIterator++` scheme) — each
    * undirected edge {u,v} is directed from the endpoint that is
    * SMALLER under the total order (degree, id) to the larger. Every
    * out-neighborhood then has size O(√m), so the wedge join generates
    * O(m^1.5) candidates worst-case instead of Σ deg² — the difference
    * between a hub exploding quadratically and bounded work per edge.
    * Wedges (u→v, u→w with v before w in orientation order) close into
    * triangles iff oriented edge v→w exists: one equi semi-ish join
    * against the oriented edge set. Each triangle is found exactly
    * once, then credited to all three corners.
    *
    * Determinism: set semantics throughout (distinct edges, exact
    * counts); `cc_permille = (2000·triangles) div (deg·(deg−1))` exact
    * integer floor (0 for deg < 2) — the 2·Δ/(d·(d−1)) definition in
    * the repo's per-mille discipline.
    *
    * Output: (node, degree, triangles, cc_permille), one row per
    * vertex of the undirected graph.
    *
    * Scale shape: three vertex-keyed shuffles (degree count, two wedge
    * joins) + one corner-explode groupBy; no windows, no collects, and
    * the orientation bound keeps the wedge frame polynomial in m
    * regardless of skew — a hub of degree D contributes C(D,2) wedges
    * UNoriented but only C(outdeg,2) ≤ C(√(2m),2) oriented. */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // canonical undirected edge set: a < b, self-loops dropped, distinct
    val und = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    // orientation key: struct(degree, id) — lexicographic struct
    // comparison is a total order over ANY long id range (the packed
    // degree·2^32 + id long silently mis-ordered for ids ≥ 2^32 or
    // negative ids); the repo's tie-struct idiom
    def keyed(side: String) = deg.select(
      col("node").as(side),
      struct(col("degree"), col("node")).as(s"__k$side"))
    val e2 = und.join(keyed("a"), "a").join(keyed("b"), "b")
    val oriented = e2.select(
        when(col("__ka") < col("__kb"), col("a")).otherwise(col("b")).as("src"),
        when(col("__ka") < col("__kb"), col("b")).otherwise(col("a")).as("dst"),
        when(col("__ka") < col("__kb"), col("__kb")).otherwise(col("__ka")).as("__kdst"))
      .persist()
    // wedges centered at src: out-neighbor pairs (v, w), v before w
    val wedges = oriented.select(col("src"), col("dst").as("v"), col("__kdst").as("__kv"))
      .join(oriented.select(col("src"), col("dst").as("w"), col("__kdst").as("__kw")), "src")
      .filter(col("__kv") < col("__kw"))
      .select(col("src").as("u"), col("v"), col("w"))
    val triangles = wedges.join(
        oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"), "left_semi")
      .persist()
    val perNode = triangles.select(col("u").as("node"))
      .unionByName(triangles.select(col("v").as("node")))
      .unionByName(triangles.select(col("w").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    val outF = deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("cc_permille",
        when(col("degree") < 2, 0L).otherwise(
          expr("(2000 * triangles) div (degree * (degree - 1))")))
    val out = outF.localCheckpoint()
    oriented.unpersist(); triangles.unpersist()
    out
  }

  /** MULTI-SOURCE BFS hop distance over the undirected graph: for every
    * node reachable from `sources` within `maxHops`, the minimum hop
    * count — the unweighted shortest-path distance ("how far is every
    * supplier from the hub", reachability tiers for trust propagation).
    * Classic frontier iteration with a visited set: each round expands
    * the current frontier one hop and anti-joins everything already
    * labeled, so a node is emitted exactly once at its FIRST (= minimal)
    * hop and cycles cannot loop. Direction is ignored (edges are
    * canonicalized undirected, self-loops dropped).
    *
    * Output: (node, hop) — sources at hop 0; unreachable nodes absent.
    *
    * Scale shape: per round one node-keyed join (frontier onto the
    * adjacency), one distinct, one anti join against visited — all
    * shuffles on the node id; frontier size is bounded by the hop
    * neighborhood, never the whole graph, and each round checkpoints so
    * the plan stays one-round deep. `maxHops` bounds rounds; pass the
    * graph's known diameter bound, not a huge default. */
  def hopDistance(edges: DataFrame, srcCol: String, dstCol: String,
                  sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64,
      s"maxHops must be in [1, 64], got $maxHops")
    // one action per round: the convergence count materializes the
    // round's pin (Pins.cutCount); frames with no adjacent count pin
    // lazily too, and the next round's count job (their first consumer)
    // materializes them in-line
    val und = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val adj = Pins.cut(und.select(col("a").as("s"), col("b").as("t"))
      .unionByName(und.select(col("b").as("s"), col("a").as("t"))),
      eager = false)
    var (frontier, n) = Pins.cutCount(sources.select(
      col(sources.columns.head).cast("long").as("node")).distinct())
    var visited = frontier.withColumn("hop", lit(0))
    val acc = scala.collection.mutable.ArrayBuffer(visited)
    var k = 1
    while (n > 0 && k <= maxHops) {
      val (next, m) = Pins.cutCount(frontier
        .join(adj.withColumnRenamed("s", "node"), Seq("node"))
        .select(col("t").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti"))
      n = m
      if (n > 0) {
        val labeled = next.withColumn("hop", lit(k))
        acc += labeled
        visited = Pins.cut(visited.unionByName(labeled), eager = false)
        frontier = next
      }
      k += 1
    }
    acc.reduce(_ unionByName _)
  }

  /** K-CORE decomposition (fixed k): the maximal subgraph in which
    * every node keeps degree ≥ k — the classic peel: drop all nodes of
    * degree < k, recompute degrees in what remains, repeat to
    * fixpoint. The density screen over similarity/co-occurrence graphs
    * (a near-dup cluster that survives the 3-core is structural, not
    * chance pairs; the k-core is also the hard upper bound on
    * community cores label propagation can find).
    *
    * Output: (node, deg) — members of the k-core with their WITHIN-core
    * degree (all ≥ k); empty when no k-core exists. Direction ignored,
    * self-loops dropped, duplicate edges counted once.
    *
    * Scale shape: per round one node-keyed semi-join of the edge list
    * onto the surviving node set (both endpoints) + one map-side-partial
    * degree count — shuffles on node ids only; each round checkpoints
    * so the plan stays one round deep (the [[hopDistance]] discipline).
    * Rounds are data-bounded (each drops ≥ 1 node or stops); `maxIter`
    * is the fail-LOUD guard, not a silent truncation — non-convergence
    * throws rather than returning a not-yet-core set. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, maxIter: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIter >= 1 && maxIter <= 64,
      s"maxIter must be in [1, 64], got $maxIter")
    // same one-action-per-round fold as [[hopDistance]]
    val und = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val adj = Pins.cut(und.select(col("a").as("s"), col("b").as("t"))
      .unionByName(und.select(col("b").as("s"), col("a").as("t"))),
      eager = false)
    def degrees(nodes: DataFrame): DataFrame =
      adj.join(nodes.withColumnRenamed("node", "s"), Seq("s"))
        .join(nodes.withColumnRenamed("node", "t"), Seq("t"))
        .groupBy(col("s").as("node")).agg(count(lit(1)).as("deg"))
    var (nodes, n) = Pins.cutCount(adj.select(col("s").as("node")).distinct())
    var converged = false
    var round = 0
    while (!converged && round < maxIter && n > 0) {
      val (survivors, m) = Pins.cutCount(degrees(nodes)
        .where(col("deg") >= k).select(col("node")))
      converged = m == n
      Pins.free(nodes)
      nodes = survivors
      n = m
      round += 1
    }
    if (!converged && n > 0)
      sys.error(s"kCore(k=$k) did not converge in $maxIter rounds " +
        s"($n nodes still unstable) — raise maxIter")
    degrees(nodes)
  }

  /** RICH-CLUB COEFFICIENT at each degree cutoff k — do the
    * best-connected nodes form a club? φ(k) = 2·m_k / (n_k·(n_k−1))
    * where n_k counts nodes of degree > k and m_k the edges among
    * them; φ near 1 at high k means the hubs are densely interlinked
    * (core infrastructure), φ ≈ overall density means they aren't.
    * Complements [[degreeAssortativity]] (one number) with the full
    * cutoff profile.
    *
    * Output: one row per k in `ks`: (k, n_nodes, n_edges, phi_ppm) —
    * phi NULL when fewer than two nodes survive the cutoff.
    *
    * Input contract: deduplicated undirected edges (src < dst).
    *
    * Scale shape: one degree groupBy, two endpoint joins to tag edges
    * with BOTH degrees, then each cutoff is a conditional aggregate
    * over the tagged frame — the k list rides ONE literal explode, so
    * the whole profile costs one pass regardless of |ks|. */
  def richClubPpm(edges: DataFrame, srcCol: String, dstCol: String,
                  ks: Seq[Long]): DataFrame = {
    require(ks.nonEmpty && ks.distinct.size == ks.size,
      "need a non-empty list of distinct cutoffs")
    val e = edges.select(col(srcCol).as("__x"), col(dstCol).as("__y"))
    val deg = e.select(col("__x").as("__n"))
      .unionByName(e.select(col("__y").as("__n")))
      .groupBy(col("__n")).agg(count(lit(1)).as("__d"))
    val kArr = array(ks.map(lit): _*)
    // node side: survivors per cutoff
    val nodesK = deg.select(explode(kArr).as("k"), col("__d"))
      .where(col("__d") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("__nk"))
    // edge side: both endpoints above the cutoff
    val tagged = e
      .join(deg.select(col("__n").as("__x"), col("__d").as("__dx")),
        Seq("__x"))
      .join(deg.select(col("__n").as("__y"), col("__d").as("__dy")),
        Seq("__y"))
    val edgesK = tagged.select(explode(kArr).as("k"), col("__dx"),
        col("__dy"))
      .where(col("__dx") > col("k") && col("__dy") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("__mk"))
    val spine = e.sparkSession.createDataFrame(
      ks.map(Tuple1(_))).toDF("k")
    spine.join(nodesK, Seq("k"), "left").join(edgesK, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("__nk"), lit(0L)).as("n_nodes"),
        coalesce(col("__mk"), lit(0L)).as("n_edges"),
        when(coalesce(col("__nk"), lit(0L)) < 2,
          lit(null).cast("long"))
          .otherwise(expr(
            "(2000000 * coalesce(__mk, 0)) div (__nk * (__nk - 1))"))
          .as("phi_ppm"))
  }

  /** RECIPROCITY of a DIRECTED graph — what fraction of edges are
    * returned? (u→v with v→u also present). Near 1 = mutual-follow
    * social graphs; near 0 = broadcast/hierarchy. The one-number
    * direction diagnostic for transition/interaction graphs
    * ([[triangleStats]] and friends treat edges as undirected and
    * can't see this).
    *
    * Output: one row (n_edges, n_reciprocal, reciprocity_ppm) —
    * NULL on an empty edge set. Self-loops are excluded (they are
    * trivially "reciprocal" and would inflate the score).
    *
    * Scale shape: one self-join on the reversed key — edges shuffle
    * once each side, a 1-row finish. */
  def reciprocityPpm(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("__x"), col(dstCol).as("__y"))
      .where(col("__x") =!= col("__y")).distinct()
    val rev = e.select(col("__y").as("__x"), col("__x").as("__y"))
      .withColumn("__r", lit(1L))
    e.join(rev, Seq("__x", "__y"), "left")
      .agg(count(lit(1)).as("__m"),
        coalesce(sum(coalesce(col("__r"), lit(0L))), lit(0L)).as("__rc"))
      .select(col("__m").cast("long").as("n_edges"),
        col("__rc").cast("long").as("n_reciprocal"),
        when(col("__m") === 0, lit(null).cast("long"))
          .otherwise(expr("(1000000 * __rc) div __m"))
          .as("reciprocity_ppm"))
  }

  /** DEGREE ASSORTATIVITY — do hubs attach to hubs (r > 0, social
    * graphs) or to leaves (r < 0, hub-and-spoke infrastructure)?
    * Newman's r is the Pearson correlation of endpoint degrees over
    * the edge list with BOTH orientations (the undirected convention
    * makes it symmetric), surfaced through the repo's exact
    * [[Stats.pearsonR2Ppm]] as sign + r² ppm.
    *
    * Output: one row (n, sign, r2_ppm) — n = 2·edges (both
    * orientations); NULL r² on degree-regular graphs (zero variance).
    *
    * Scale shape: one degree groupBy, two node-keyed joins to tag
    * endpoints, then the one-pass exact moment aggregate. */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("__x"), col(dstCol).as("__y"))
    val both = e.unionByName(
      e.select(col("__y").as("__x"), col("__x").as("__y")))
    val deg = both.groupBy(col("__x").as("__n"))
      .agg(count(lit(1)).as("__d"))
    val tagged = both
      .join(deg.select(col("__n").as("__x"), col("__d").as("__dx")),
        Seq("__x"))
      .join(deg.select(col("__n").as("__y"), col("__d").as("__dy")),
        Seq("__y"))
      .withColumn("__g", lit("graph"))
    Stats.pearsonR2Ppm(tagged, "__g", "__dx", "__dy")
      .select(col("n"), col("sign"), col("r2_ppm"))
  }

  /** NEWMAN MODULARITY of a given node→community assignment over an
    * undirected simple graph, exact integer: Q = Σ_c [e_c/m −
    * (d_c/2m)²] — "how much denser are intra-community edges than a
    * degree-preserving random rewire?" The score that grades a
    * community detection ([[labelPropagation]], components) or any
    * domain partition (do suppliers co-sell within their nation?).
    * Q ∈ [−½, 1); > ~0.3 usually means real structure.
    *
    * One common denominator kills all fractions:
    *   Q = Σ_c (4m·e_c − d_c²) / (4m²)
    * surfaced as sign + magnitude (q_ppm = 10⁶·|Σ| div 4m²) so the
    * one division is over non-negative integers (div ↔ `//` drift on
    * negatives never arises).
    *
    * Input contract: `edges` is the deduplicated undirected edge list
    * (one row per unordered pair, src < dst, no self-loops);
    * `assign` maps EVERY endpoint node to exactly one community
    * (missing nodes would silently drop their edges — the inner join
    * surfaces that as a smaller m; callers wanting loud failure
    * compare m to edges.count()).
    *
    * Output: one row (m, n_communities, sign, q_ppm).
    *
    * Scale shape: two node-keyed joins to tag endpoints, one comm
    * groupBy for e_c, one degree groupBy (edge endpoints union) joined
    * to the assignment for d_c, one 1-row finish. All shuffles on
    * graph keys; nothing driver-side. */
  def modularityPpm(edges: DataFrame, srcCol: String, dstCol: String,
                    assign: DataFrame, nodeCol: String,
                    commCol: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = edges.select(col(srcCol).as("__x"), col(dstCol).as("__y"))
    val a = assign.select(col(nodeCol).as("__n"), col(commCol).as("__c"))
    val tagged = e
      .join(a.withColumnRenamed("__n", "__x")
        .withColumnRenamed("__c", "__cx"), "__x")
      .join(a.withColumnRenamed("__n", "__y")
        .withColumnRenamed("__c", "__cy"), "__y")
    val m = tagged.agg(count(lit(1)).cast(d38).as("__m"))
    val ec = tagged.where(col("__cx") === col("__cy"))
      .groupBy(col("__cx").as("__c"))
      .agg(count(lit(1)).cast(d38).as("__e"))
    val deg = e.select(col("__x").as("__n"))
      .unionAll(e.select(col("__y").as("__n")))
      .groupBy(col("__n")).agg(count(lit(1)).as("__d"))
    val dc = deg.join(a, "__n")
      .groupBy(col("__c")).agg(sum(col("__d")).cast(d38).as("__dd"))
    dc.join(ec, Seq("__c"), "left")
      .crossJoin(broadcast(m))
      .agg(first(col("__m")).as("__m"), count(lit(1)).as("__k"),
        sum(lit(4).cast(d38) * col("__m") *
          coalesce(col("__e"), lit(0).cast(d38)) -
          col("__dd") * col("__dd")).as("__num"))
      .select(col("__m").cast("long").as("m"),
        col("__k").cast("long").as("n_communities"),
        signum(col("__num")).cast("long").as("sign"),
        when(col("__m") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "CAST((1000000 * abs(__num)) div (4 * __m * __m) AS BIGINT)"))
          .as("q_ppm"))
  }

  /** LINK PREDICTION scores for NON-adjacent node pairs sharing at
    * least one neighbor — "which edges are missing?": candidate
    * generation for knowledge-graph completion, related-document
    * suggestions over the similarity graph, and follow recommendations.
    * Three classic neighborhood scores per candidate pair, all exact:
    *
    *   common_neighbors        |N(u) ∩ N(v)|
    *   jaccard_ppm             10⁶·|N∩| div |N(u) ∪ N(v)|
    *   ra_micro (resource      Σ_{z ∈ N∩} (10⁶ div deg(z))
    *     allocation, Zhou et   [per-HUB floor, then summed — the
    *     al. 2009]              replayable schedule; the 1/log-degree
    *                            Adamic–Adar twin is NOT offered: ln()
    *                            can't cross the engine boundary
    *                            bit-stably, the llm/Relevance BM25
    *                            stance]
    *
    * Graph is canonicalized undirected (self-loops dropped, edges
    * distinct). Pairs are generated THROUGH their common neighbor:
    * each hub z contributes C(deg z, 2) unordered neighbor pairs, so a
    * degenerate hub would go quadratic — hubs with degree >
    * `maxHubDegree` are skipped entirely (documented recall trade, the
    * assoc-rules maxBasketSize / blockedEditDistance maxBlock
    * fail-safe: a skipped hub under-scores pairs, never blows up a
    * task). Known edges are removed by an anti join at the end.
    *
    * Output: (node_a, node_b, common_neighbors, jaccard_ppm, ra_micro),
    * node_a < node_b, one row per candidate pair.
    *
    * Scale shape: one degree groupBy, one hub-keyed self-join bounded
    * by maxHubDegree, one pair-grain groupBy, one anti join on the
    * edge set — all shuffles on node/pair keys, never all-pairs. */
  def linkPredictionPpm(edges: DataFrame, srcCol: String, dstCol: String,
                        maxHubDegree: Long = 10000): DataFrame = {
    require(maxHubDegree >= 2,
      s"maxHubDegree must be >= 2, got $maxHubDegree")
    val und = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint() // consumed by degrees, wedges, and the anti join
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    // adjacency with the hub's degree on the hub side
    val adj = und.select(col("a").as("hub"), col("b").as("nb"))
      .unionByName(und.select(col("b").as("hub"), col("a").as("nb")))
      .join(deg.select(col("node").as("hub"), col("degree").as("__dh")),
        Seq("hub"))
      .where(col("__dh") <= maxHubDegree)
    val pairs = adj.select(col("hub"), col("nb").as("u"), col("__dh"))
      .join(adj.select(col("hub"), col("nb").as("v")), Seq("hub"))
      .where(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr("1000000 div __dh")).as("ra_micro"))
    val scored = pairs
      .join(deg.select(col("node").as("u"), col("degree").as("__du")),
        Seq("u"))
      .join(deg.select(col("node").as("v"), col("degree").as("__dv")),
        Seq("v"))
      .select(col("u").as("node_a"), col("v").as("node_b"),
        col("common_neighbors"),
        expr("""(1000000 * common_neighbors)
               |div (__du + __dv - common_neighbors)"""
          .stripMargin.replace("\n", " ")).as("jaccard_ppm"),
        col("ra_micro"))
    scored.join(und,
      scored("node_a") === und("a") && scored("node_b") === und("b"),
      "left_anti")
  }
}

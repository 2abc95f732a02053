package graft

/** Shuffle-BUDGET regression guard (round-9 verdict ask #5): bench
  * wall-time swings 0.7–1.1× with ambient VM load, so the stable
  * scale signal is the plan's shuffle VOLUME, not its seconds. For the
  * most expensive gates we pin the total records crossing shuffle
  * exchanges at sf0.01 — a deliberate plan pessimization (dropping a
  * broadcast hint, un-bounding a top-k, letting a window globalize)
  * multiplies shuffled records and fails here with a named diff, while
  * ambient noise cannot move the number at all (metrics come from the
  * executed plan's own accumulators, deterministic per plan+data).
  *
  * Budgets are measured actuals × ~1.5 headroom (rounded up) — they
  * absorb partition-count jitter and AQE coalescing variance but not a
  * shape change: the cheapest pessimization of any audited gate
  * (removing one broadcast) multiplies its shuffle records several-fold.
  */
class ShuffleBudgetSpec extends SparkTestBase {
  import ShuffleAudit.shuffledRecords

  /** (gate, records budget at sf0.01). Measured 2026-08 (round 10):
    * actual records in comment; budget ≈ actual × 1.5 rounded up. */
  private val budgets: Seq[(String, Long, Long)] = Seq(
    // name, measured actual (bit-stable across runs), pinned budget
    // re-pinned: 34406 had gone stale; 11420 measured in this spec's
    // session and by graft.ShuffleAudit (4 cores) alike
    ("q117_curate_v3", 11420L, 17200L),
    // re-pinned round 12: the scan-fanout round-robin exchange carries
    // the events base rows once (~31.2k at sf0.01) so the 40×-explode
    // md5 resampling runs on every core; the ALGORITHMIC traffic after
    // the exchange is unchanged (~820 — rep×group partials + spine)
    ("q245_bootstrap_ci", 32035L, 48000L),
    // re-pinned round 12: +500 fanout rows, and the (i,j) partial-agg
    // output now appears once per partition (4 × 2080 at local[4] —
    // the map-side-combine duplication any multi-partition scan has;
    // the sf0.01 single-partition layout was hiding it)
    ("q138_covariance_stats", 8820L, 13500L),
    ("q127_pq_indexed", 7128L, 11000L),
    ("q201_assoc_rules", 194792L, 295000L),
    ("q196_triangles", 132308L, 200000L),
    ("q223_hop_distance", 99536L, 150000L),
    ("q248_kcore", 66252L, 100000L),
    ("q315_ppr", 4373L, 7000L),
    ("q126_margin_mining", 2252L, 3500L),
    // round-10 additions — the expensive tail of the q342+ batch:
    // semantic dedup's pair candidates, the LSH sibling's band keys,
    // the trained-langid gram traffic, and the wedge-join shapes
    ("q339_semantic_dedup", 1830L, 2800L),
    ("q341_semantic_dedup_lsh", 16314L, 25000L),
    ("q359_langid_agreement", 77560L, 117000L),
    // re-pinned round 12: +500 records = the scan-fanout round-robin
    // exchange of documents feeding the trained-langid gram explode
    ("q352_cluster_ari", 1185L, 1800L),
    ("q343_link_prediction", 6444L, 10000L),
    ("q347_kendalls_w", 3013L, 4600L),
    // round-11 additions: LSH-routed constant-cluster SemDeDup, the
    // OBF schedule (collapses to <= looks rows — 16 records IS the
    // plan), and the per-micro-batch drift monitor
    // re-pinned round 12 (improvement): persisting assignedReal/assigned
    // stopped the candidate-scoring subtree re-running once per consumer
    // — 54214 → 7529 records (the candidate pairs now shuffle once)
    ("q363_semantic_dedup_cc", 7529L, 11500L),
    ("q364_group_sequential", 16L, 40L),
    ("q365_stream_drift_monitor", 77648L, 117000L),
    // round-11 continuous-agreement / clustering-quality batch: the
    // item-grain rating shuffles (ICC, interval alpha), the k*d
    // centroid-sum shapes (CH + silhouette — a corpus-sized shuffle
    // here would mean the explode stopped combining map-side), and the
    // TextTiling gap traffic (composite-grain, bounded by gaps)
    // re-pinned round 12: the countDistinct(rater) completeness check
    // adds the distinct-expand lane (~+20k records at sf0.01)
    ("q367_icc", 78467L, 118000L),
    ("q370_krippendorff_interval", 54182L, 82000L),
    ("q373_calinski_harabasz", 1621L, 2500L),
    ("q374_silhouette", 1541L, 2400L),
    ("q375_topic_boundaries", 50L, 100L),
    // bucketed C-index: user-grain aggregate + bounded 32x32 grid —
    // a corpus-sized number here would mean the cell-pair join
    // stopped riding the bounded grid
    ("q376_c_index", 342L, 550L),
    // qini: score histogram + windowless prefix sum + bins² triangle
    ("q377_qini_curve", 1075L, 1700L),
    // round-12 additions: the AUUC trapezoid adds only the bounded
    // prev-point triangle over q377's shape; calibration stops at the
    // non-cumulative bin groupBy; the kappa canary shuffles only
    // contingency cells per micro-batch (bands are 5x5 bounded)
    ("q378_qini_auc", 1105L, 1700L),
    ("q379_uplift_calibration", 795L, 1200L),
    // re-pinned round 12: +500 records = the one-pass fixture writer's
    // bucket exchange (one hash repartition replaced 4 full scans)
    ("q380_stream_kappa_canary", 556L, 850L),
    // SRM is a map-side count pair (1 partial record); post-strat ATE
    // shuffles only the stratum alphabet — a corpus-sized number on
    // either would mean the map-side combine broke
    ("q381_srm_check", 1L, 10L),
    ("q382_post_strat_ate", 12L, 40L),
    // pair counting shuffles contingency cells (lang × source
    // alphabet); QTE the distinct-value spine (histogram + two ranged
    // prefix sums + per-mille probes — subjects never re-shuffle);
    // vocab growth the token vocabulary + ≤16 bucket rows
    ("q383_pair_counting", 125L, 250L),
    ("q384_qte", 1571L, 2500L),
    ("q385_vocab_growth", 66L, 150L),
    // BCubed rides the same contingency cells as pair counting
    ("q386_bcubed", 125L, 250L))

  budgets.foreach { case (name, actual, budget) =>
    test(s"$name stays inside its shuffle-record budget " +
         s"($budget at sf0.01)") {
      val recs = shuffledRecords(spark,
        SparkEntry.queries(name)(spark, sf("sf0.01")))
      assert(recs <= budget,
        s"$name shuffled $recs records at sf0.01 — budget $budget " +
          s"(last measured actual $actual); the plan shape regressed")
      // a budget that stops binding is also a named diff: if the plan
      // improved by >2x, re-pin so the guard keeps teeth
      assert(recs * 4 >= actual,
        s"$name shuffled only $recs records vs measured $actual — " +
          "re-pin the budget to keep the guard binding")
    }
  }
}

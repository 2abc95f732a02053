package graft

import graft.ops.{Agreement, GraphOps, RankTests, Stats}
import org.apache.spark.sql.functions._

/** Hand-computed oracles for the agreement / effect-size /
  * link-prediction batch — every statistic recomputed by hand in the
  * comments (including the pinned floor schedules), plus the
  * degenerate-input NULL lanes and the fail-safe guards. */
class AgreementSpec extends SparkTestBase {
  import spark.implicits._

  // ---------------------------------------------------------- Fleiss
  test("fleissKappaPpm: hand example, incomplete items drop") {
    // i1(A,A,A) i2(A,A,B) i3(B,B,B), r=3: A=Σn²=23, B=5²+4²=41, N=3
    // P̄=14/18, P̄e=41/81 → κ=22/40=0.55; num=126−82=44, den=162−82=80
    val df = Seq(
      (1L, "A"), (1L, "A"), (1L, "A"),
      (2L, "A"), (2L, "A"), (2L, "B"),
      (3L, "B"), (3L, "B"), (3L, "B"),
      (4L, "A") // one rating only → dropped
    ).toDF("item", "cat")
    val r = Agreement.fleissKappaPpm(df, "item", "cat", raters = 3)
      .as[(Long, Long, Long, Option[Long])].collect().head
    assert(r == ((3L, 1L, 3L, Some(550000L))), s"got $r")
  }

  test("fleissKappaPpm: negative kappa goes sign-magnitude; one-category NULL") {
    // i1(A,B) i2(A,B): P̄=0, P̄e=1/2 → κ=−1 exactly
    val neg = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"))
      .toDF("item", "cat")
    assert(Agreement.fleissKappaPpm(neg, "item", "cat", raters = 2)
      .as[(Long, Long, Long, Option[Long])].collect().head
      == ((2L, 0L, 2L, Some(-1000000L))))
    // every rating one category → den = 0 → NULL
    val one = Seq((1L, "A"), (1L, "A"), (2L, "A"), (2L, "A"))
      .toDF("item", "cat")
    assert(Agreement.fleissKappaPpm(one, "item", "cat", raters = 2)
      .as[(Long, Long, Long, Option[Long])].collect().head._4.isEmpty)
  }

  // -------------------------------------------------------- Gwet AC1
  test("gwetAc1Ppm: hand example; prevalence-robust vs kappa; K=1 NULL") {
    // same frame as the Fleiss hand example: AC1 = 23/41 → 560975 ppm
    val df = Seq(
      (1L, "A"), (1L, "A"), (1L, "A"),
      (2L, "A"), (2L, "A"), (2L, "B"),
      (3L, "B"), (3L, "B"), (3L, "B")).toDF("item", "cat")
    val r = Agreement.gwetAc1Ppm(df, "item", "cat", raters = 3)
      .as[(Long, Long, Long, Option[Long])].collect().head
    assert(r == ((3L, 3L, 2L, Some(560975L))), s"got $r")
    // the kappa paradox: 9 items agree on A, 1 item splits — kappa
    // collapses, AC1 stays high (this is WHY the operator exists)
    val skewed = ((1 to 9).flatMap(i => Seq((i.toLong, "A"), (i.toLong, "A")))
      :+ (10L, "A") :+ (10L, "B")).toDF("item", "cat")
    val kappa = Agreement.fleissKappaPpm(skewed, "item", "cat", 2)
      .as[(Long, Long, Long, Option[Long])].collect().head._4.get
    val ac1 = Agreement.gwetAc1Ppm(skewed, "item", "cat", 2)
      .as[(Long, Long, Long, Option[Long])].collect().head._4.get
    assert(kappa < 0 && ac1 > 800000,
      s"paradox not reproduced: kappa=$kappa ac1=$ac1")
    // single observed category → chance model undefined → NULL
    val one = Seq((1L, "A"), (1L, "A")).toDF("item", "cat")
    assert(Agreement.gwetAc1Ppm(one, "item", "cat", 2)
      .as[(Long, Long, Long, Option[Long])].collect().head._4.isEmpty)
  }

  // ---------------------------------------------------- Krippendorff
  test("krippendorffAlphaPpm: unequal raters, unpairable drop, hand value") {
    // u1(a,a) u2(a,b) u3(b,b,b) u4(a singleton→unpairable):
    // n=7, C=(3,4), B=25, do_micro=2·10⁶ (only u2 disagrees, floor /1)
    // α = 1 − 2·6/24 = 0.5
    val df = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"),
      (3L, "b"), (3L, "b"), (3L, "b"), (4L, "a")).toDF("item", "cat")
    val r = Agreement.krippendorffAlphaPpm(df, "item", "cat")
      .as[(Long, Long, Option[Long])].collect().head
    assert(r == ((7L, 1L, Some(500000L))), s"got $r")
    // perfect agreement on two categories → α = 1
    val perfect = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"))
      .toDF("item", "cat")
    assert(Agreement.krippendorffAlphaPpm(perfect, "item", "cat")
      .as[(Long, Long, Option[Long])].collect().head._3.contains(1000000L))
    // one category everywhere → expected disagreement 0 → NULL
    val one = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "a"))
      .toDF("item", "cat")
    assert(Agreement.krippendorffAlphaPpm(one, "item", "cat")
      .as[(Long, Long, Option[Long])].collect().head._3.isEmpty)
  }

  // ------------------------------------------------------ Kendall's W
  test("kendallsWPpm: perfect concordance = 10⁶, perfect discordance = 0") {
    def ranks(perms: Seq[Seq[Long]]): org.apache.spark.sql.DataFrame =
      perms.zipWithIndex.flatMap { case (p, j) =>
        p.zipWithIndex.map { case (item, idx) =>
          (s"r$j", item, (idx + 1).toLong) }
      }.toDF("ranker", "item", "rank")
    // three identical rankings of 3 items: S4=72, W = 3·10⁶·72/(9·24)=10⁶
    assert(Agreement.kendallsWPpm(
        ranks(Seq(Seq(10L, 20L, 30L), Seq(10L, 20L, 30L),
          Seq(10L, 20L, 30L))), "ranker", "item", "rank")
      .as[(Long, Long, Option[Long])].collect().head
      == ((3L, 3L, Some(1000000L))))
    // two exactly reversed rankings: every rank sum = m(n+1)/2 → W = 0
    assert(Agreement.kendallsWPpm(
        ranks(Seq(Seq(10L, 20L, 30L), Seq(30L, 20L, 10L))),
        "ranker", "item", "rank")
      .as[(Long, Long, Option[Long])].collect().head
      == ((3L, 2L, Some(0L))))
    // n = 1 → n³−n = 0 → NULL
    assert(Agreement.kendallsWPpm(ranks(Seq(Seq(10L), Seq(10L))),
        "ranker", "item", "rank")
      .as[(Long, Long, Option[Long])].collect().head._3.isEmpty)
  }

  // ------------------------------------------------------- Cochran Q
  test("cochranQMilli: textbook 4-item 3-treatment table; degenerate NULL") {
    // rows (1,1,0)(1,1,1)(0,1,0)(0,0,0): C=(2,3,1), T=6, ΣR²=14
    // Q = 2·(3·14−36)/(18−14) = 3 → 3000 milli
    val df = Seq((true, true, false), (true, true, true),
      (false, true, false), (false, false, false))
      .toDF("t1", "t2", "t3")
    val r = Agreement.cochranQMilli(df, Seq("t1", "t2", "t3"))
      .as[(Long, Long, Option[Long])].collect().head
    assert(r == ((4L, 3L, Some(3000L))), s"got $r")
    // all items all-success: no within-item variation → NULL
    val flat = Seq((true, true, true), (true, true, true))
      .toDF("t1", "t2", "t3")
    assert(Agreement.cochranQMilli(flat, Seq("t1", "t2", "t3"))
      .as[(Long, Long, Option[Long])].collect().head._3.isEmpty)
  }

  // ---------------------------------------------------- Cliff's delta
  test("cliffsDeltaPpm: hand pairs, sign lanes, tie → 0, empty → NULL") {
    // A{3,5} vs B{1,4}: gt=3 lt=1 → δ = 2/4 = +500000
    assert(RankTests.cliffsDeltaPpm(
        Seq((true, 3L), (true, 5L), (false, 1L), (false, 4L))
          .toDF("f", "v"), "f", "v")
      .as[(Long, Long, Option[Long])].collect().head
      == ((2L, 2L, Some(500000L))))
    // A{1} vs B{2,3}: δ = −1 (every pair loses) — the negative lane
    assert(RankTests.cliffsDeltaPpm(
        Seq((true, 1L), (false, 2L), (false, 3L)).toDF("f", "v"),
        "f", "v")
      .as[(Long, Long, Option[Long])].collect().head
      == ((1L, 2L, Some(-1000000L))))
    // full tie → δ = 0 exactly
    assert(RankTests.cliffsDeltaPpm(
        Seq((true, 2L), (false, 2L)).toDF("f", "v"), "f", "v")
      .as[(Long, Long, Option[Long])].collect().head
      == ((1L, 1L, Some(0L))))
    // empty group → NULL
    assert(RankTests.cliffsDeltaPpm(
        Seq((true, 1L), (true, 2L)).toDF("f", "v"), "f", "v")
      .as[(Long, Long, Option[Long])].collect().head._3.isEmpty)
  }

  test("cliffsDeltaPpm agrees with mannWhitney U on the same frame") {
    // δ·n_a·n_b = 2U_A − n_a·n_b — the identity the operator leans on
    val df = Seq((true, 1L), (true, 4L), (true, 4L), (false, 2L),
      (false, 4L), (false, 7L), (false, 9L)).toDF("f", "v")
    val u = RankTests.mannWhitneyMilli(df, "f", "v")
      .select("n_a", "n_b", "u2_a").as[(Long, Long, Long)].collect().head
    val d = RankTests.cliffsDeltaPpm(df, "f", "v")
      .as[(Long, Long, Option[Long])].collect().head
    val num = u._3 - u._1 * u._2
    val expect = math.signum(num) * (1000000L * math.abs(num) / (u._1 * u._2))
    assert(d._3.contains(expect), s"got $d expect $expect")
  }

  test("cliffsDeltaPpm = 2·AUC − 1: the Somers/Gini identity across operators") {
    // with the flag as the outcome and the value as the score, Cliff's
    // delta IS Somers' D = 2·AUC(midrank) − 1 — two independently
    // implemented operators must agree up to their own floors (≤ 2 ppm)
    val df = Seq((true, 10L), (true, 40L), (true, 40L), (true, 90L),
      (false, 20L), (false, 40L), (false, 70L), (false, 70L),
      (false, 95L)).toDF("f", "v")
    val auc = Stats.aucPpm(df.select(col("v"), col("f")), "v", "f")
      .select("auc_ppm").as[Long].collect().head
    val delta = RankTests.cliffsDeltaPpm(df, "f", "v")
      .as[(Long, Long, Option[Long])].collect().head._3.get
    assert(math.abs(delta - (2 * auc - 1000000L)) <= 2,
      s"identity broken: delta=$delta auc=$auc")
  }

  // --------------------------------------------------------- Yuen
  test("yuenTrimmedMilli: hand trimmed/winsorized values, floors, robustness") {
    // A{1,2,3,4,100} γ=0.2 → g=1: trimmed {2,3,4} Ts=9 h=3; winsorized
    // {2,2,3,4,4}: A-term = 49·5−225 = 20 → d = ⌊20·10⁶/30⌋ = 666666
    // B{10..14}: trimmed {11,12,13}, same A-term 20 by construction
    // Δ_micro = ⌊10⁶·81/9⌋ = 9·10⁶ → t²·10³ = ⌊8.1e16/1.333332e12⌋
    val df = (Seq(1L, 2L, 3L, 4L, 100L).map((true, _)) ++
      Seq(10L, 11L, 12L, 13L, 14L).map((false, _))).toDF("f", "v")
    val r = RankTests.yuenTrimmedMilli(df, "f", "v", trimPm = 200)
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().head
    assert(r == ((5L, 5L, 3L, 3L, -1L, Some(60750L))), s"got $r")
    // the whole point: one whale moves Welch, not Yuen — equal trimmed
    // means give sign 0, t² = 0 even with a 10⁶ outlier in play
    val whale = (Seq(1L, 2L, 3L, 4L, 5L).map((true, _)) ++
      Seq(1L, 2L, 3L, 4L, 1000000L).map((false, _))).toDF("f", "v")
    val rw = RankTests.yuenTrimmedMilli(whale, "f", "v", trimPm = 200)
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().head
    assert(rw._5 == 0L && rw._6.contains(0L), s"got $rw")
    // both groups' retained values fully tied → variance 0 → NULL
    val flat = (Seq.fill(5)((true, 7L)) ++ Seq.fill(5)((false, 3L)))
      .toDF("f", "v")
    assert(RankTests.yuenTrimmedMilli(flat, "f", "v", 200)
      .as[(Long, Long, Long, Long, Long, Option[Long])]
      .collect().head._6.isEmpty)
    // trim 0 degenerates to the Welch shape: h = n, full-sample sums
    val r0 = RankTests.yuenTrimmedMilli(df, "f", "v", trimPm = 0)
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().head
    assert(r0._3 == 5L && r0._4 == 5L, s"got $r0")
    // one-sided input → NULL; bad trim rejected
    assert(RankTests.yuenTrimmedMilli(
        Seq((true, 1L), (true, 2L)).toDF("f", "v"), "f", "v", 200)
      .as[(Long, Long, Long, Long, Long, Option[Long])]
      .collect().head._6.isEmpty)
    intercept[IllegalArgumentException](
      RankTests.yuenTrimmedMilli(df, "f", "v", trimPm = 500))
  }

  // --------------------------------------------------- Brown–Forsythe
  test("brownForsytheMilli: hand value with pinned floors; constant NULL") {
    // a{1,2,3,100}: lower median 2, Z={1,0,1,98}, S=100, SS=9606
    // b{5,5,5,5}: Z=0. between=2500−1250=1250, within=7106
    // W·10³ = 1000·6·1250 div 7106 = 1055
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 100L),
      ("b", 5L), ("b", 5L), ("b", 5L), ("b", 5L)).toDF("g", "v")
    val r = RankTests.brownForsytheMilli(df, "g", "v")
      .as[(Long, Long, Option[Long])].collect().head
    assert(r == ((8L, 2L, Some(1055L))), s"got $r")
    // every group constant → all Z = 0 → within = 0 → NULL
    val flat = Seq(("a", 3L), ("a", 3L), ("b", 9L), ("b", 9L))
      .toDF("g", "v")
    assert(RankTests.brownForsytheMilli(flat, "g", "v")
      .as[(Long, Long, Option[Long])].collect().head._3.isEmpty)
    // equal spreads → W ≈ 0 (identical |deviation| profiles)
    val same = Seq(("a", 0L), ("a", 10L), ("b", 100L), ("b", 110L))
      .toDF("g", "v")
    assert(RankTests.brownForsytheMilli(same, "g", "v")
      .as[(Long, Long, Option[Long])].collect().head._3.contains(0L))
  }

  // -------------------------------------------------------------- MCC
  test("matthewsCorrPpm: hand confusion matrix; degenerate NULL") {
    // tp=4 tn=2 fp=1 fn=1: num=7, den=5·5·3·3=225 → mcc²=49/225
    val df = (Seq.fill(4)((true, true)) ++ Seq.fill(2)((false, false)) ++
      Seq((true, false)) ++ Seq((false, true))).toDF("p", "y")
    val r = Stats.matthewsCorrPpm(df, "p", "y")
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().head
    assert(r == ((4L, 2L, 1L, 1L, 1L, Some(217777L))), s"got $r")
    // inverse classifier → sign −1, same magnitude
    val inv = Stats.matthewsCorrPpm(
      df.select(not(col("p")).as("p"), col("y")), "p", "y")
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().head
    assert(inv._5 == -1L && inv._6.contains(217777L), s"got $inv")
    // all predictions positive → a zero marginal → NULL
    val one = Seq((true, true), (true, false)).toDF("p", "y")
    assert(Stats.matthewsCorrPpm(one, "p", "y")
      .as[(Long, Long, Long, Long, Long, Option[Long])]
      .collect().head._6.isEmpty)
  }

  // --------------------------------------------------- link prediction
  test("linkPredictionPpm: drawn toy graph, adjacency excluded, hub guard") {
    // edges 1-2 1-3 2-3 2-4 3-5; deg 1:2 2:3 3:3 4:1 5:1
    // candidates: (1,4)cn1 j=½ ra=⌊10⁶/3⌋; (1,5) same; (3,4) j=⅓;
    // (2,5) j=⅓; pair (2,3) has common neighbor 1 but IS an edge
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 5L))
      .toDF("s", "d")
    val got = GraphOps.linkPredictionPpm(e, "s", "d")
      .orderBy("node_a", "node_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 1L, 500000L, 333333L),
      (1L, 5L, 1L, 500000L, 333333L),
      (2L, 5L, 1L, 333333L, 333333L),
      (3L, 4L, 1L, 333333L, 333333L)), s"got $got")
    // hub guard: cap below the wedge hubs' degree → no candidates
    assert(GraphOps.linkPredictionPpm(e, "s", "d", maxHubDegree = 2)
      .count() == 0L)
  }

  // --------------------------------------------------- weighted kappa
  test("weightedKappaPpm: hand ordinal table, perfect, reversal, degenerate") {
    // cells (0,0):2 (1,1):1 (2,2):1 (0,1):1 (0,2):1 — n=6, wo=3,
    // we = 4·6 + 1·4 + 1·6 = 34 → κw = 10⁶ − ⌊18·10⁶/34⌋ = 470589
    val df = Seq((0L, 0L), (0L, 0L), (1L, 1L), (2L, 2L), (0L, 1L),
      (0L, 2L)).toDF("a", "b")
    val r = Agreement.weightedKappaPpm(df, "a", "b")
      .as[(Long, Option[Long])].collect().head
    assert(r == ((6L, Some(470589L))), s"got $r")
    // perfect agreement → wo = 0 → exactly 10⁶
    val perfect = Seq((0L, 0L), (1L, 1L), (2L, 2L)).toDF("a", "b")
    assert(Agreement.weightedKappaPpm(perfect, "a", "b")
      .as[(Long, Option[Long])].collect().head._2.contains(1000000L))
    // complete two-band reversal → κw = −10⁶ exactly
    val rev = Seq((0L, 1L), (1L, 0L)).toDF("a", "b")
    assert(Agreement.weightedKappaPpm(rev, "a", "b")
      .as[(Long, Option[Long])].collect().head._2.contains(-1000000L))
    // both raters constant on the same band → expected disagreement 0
    val const = Seq((1L, 1L), (1L, 1L)).toDF("a", "b")
    assert(Agreement.weightedKappaPpm(const, "a", "b")
      .as[(Long, Option[Long])].collect().head._2.isEmpty)
    // distance sensitivity: a 2-band miss hurts more than a 1-band miss
    def kw(pairs: Seq[(Long, Long)]): Long =
      Agreement.weightedKappaPpm(pairs.toDF("a", "b"), "a", "b")
        .as[(Long, Option[Long])].collect().head._2.get
    val base = Seq((0L, 0L), (1L, 1L), (2L, 2L), (0L, 0L), (2L, 2L))
    assert(kw(base :+ (0L, 1L)) > kw(base :+ (0L, 2L)),
      "near-miss must score above far-miss")
  }

  test("weightedKappaPpm power=2: quadratic hand value; squared far-miss cost") {
    // same table as the linear hand case: wo_q = 1+4 = 5,
    // we_q = 4·10 + 1·4 + 1·10 = 54 → κq = 1 − 30/54 → 444445 ppm
    val df = Seq((0L, 0L), (0L, 0L), (1L, 1L), (2L, 2L), (0L, 1L),
      (0L, 2L)).toDF("a", "b")
    val r = Agreement.weightedKappaPpm(df, "a", "b", power = 2)
      .as[(Long, Option[Long])].collect().head
    assert(r == ((6L, Some(444445L))), s"got $r")
    // a 2-band miss costs 4× a 1-band miss under power=2 (vs 2× linear)
    def kw(p: Int, miss: (Long, Long)): Long =
      Agreement.weightedKappaPpm(
        (Seq((0L, 0L), (1L, 1L), (2L, 2L), (0L, 0L), (2L, 2L)) :+ miss)
          .toDF("a", "b"), "a", "b", p)
        .as[(Long, Option[Long])].collect().head._2.get
    val linGap = kw(1, (0L, 1L)) - kw(1, (0L, 2L))
    val quadGap = kw(2, (0L, 1L)) - kw(2, (0L, 2L))
    assert(quadGap > linGap,
      s"quadratic must widen the far-miss gap: lin=$linGap quad=$quadGap")
    intercept[IllegalArgumentException](
      Agreement.weightedKappaPpm(df, "a", "b", power = 3))
  }

  test("specificAgreementPpm: hand PA/NA, one-sided NULL lanes") {
    // a=3 d=2 discordant=1: PA = 6/7 → 857142, NA = 4/5 → 800000
    val df = (Seq.fill(3)((true, true)) ++ Seq.fill(2)((false, false)) ++
      Seq((true, false))).toDF("a", "b")
    val r = Agreement.specificAgreementPpm(df, "a", "b")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().head
    assert(r == ((6L, 3L, 2L, 1L, Some(857142L), Some(800000L))),
      s"got $r")
    // both raters all-negative: PA undefined (no positive calls), NA = 1
    val neg = Seq((false, false), (false, false)).toDF("a", "b")
    val rn = Agreement.specificAgreementPpm(neg, "a", "b")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().head
    assert(rn._5.isEmpty && rn._6.contains(1000000L), s"got $rn")
  }

  // ------------------------------------------- partition agreement
  test("partitionAgreementPpm: identical, orthogonal, degenerate") {
    // identical partitions → ARI = 1, FM² = 1
    val same = Seq((1L, "x", "p"), (2L, "x", "p"), (3L, "y", "q"),
      (4L, "y", "q")).toDF("id", "a", "b")
    val r1 = Agreement.partitionAgreementPpm(same, "a", "b")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().head
    assert(r1 == ((4L, 2L, 2L, Some(1000000L), Some(1000000L))), s"got $r1")
    // orthogonal 2×2: P=0, E=2/3, M=2 → ARI = −1/2; FM² = 0
    val orth = Seq((1L, "x", "p"), (2L, "x", "q"), (3L, "y", "p"),
      (4L, "y", "q")).toDF("id", "a", "b")
    val r2 = Agreement.partitionAgreementPpm(orth, "a", "b")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().head
    assert(r2 == ((4L, 2L, 2L, Some(-500000L), Some(0L))), s"got $r2")
    // all-singleton partitions on both sides → qa2 = qb2 = 0 → NULLs
    val single = Seq((1L, "x", "p"), (2L, "y", "q")).toDF("id", "a", "b")
    val r3 = Agreement.partitionAgreementPpm(single, "a", "b")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().head
    assert(r3._4.isEmpty && r3._5.isEmpty, s"got $r3")
  }

  test("partitionAgreementPpm: shatter cannot fake agreement the way purity can") {
    // B shatters every item into its own cluster: purity would read 1,
    // ARI reads ~0 (≤ 0 actually — no co-clustered pair is recovered)
    val shatter = (1 to 8).map(i => (i.toLong, if (i <= 4) "x" else "y",
      s"s$i")).toDF("id", "a", "b")
    val r = Agreement.partitionAgreementPpm(shatter, "a", "b")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().head
    assert(r._4.exists(_ <= 0L), s"shattered ARI should be <= 0: $r")
  }

  // ------------------------------------------ Goodman–Kruskal lambda
  test("gkLambdaPpm: hand table, both directions, constant-B NULL") {
    // contingency a1:(3,1) a2:(1,3): row maxima 6, col totals (4,4)
    // λ both ways = (6−4)/(8−4) = 0.5
    val rows = Seq.fill(3)(("a1", "b1")) ++ Seq(("a1", "b2")) ++
      Seq(("a2", "b1")) ++ Seq.fill(3)(("a2", "b2"))
    val df = rows.toDF("a", "b")
    val r = Agreement.gkLambdaPpm(df, "a", "b")
      .as[(Long, Option[Long], Option[Long])].collect().head
    assert(r == ((8L, Some(500000L), Some(500000L))), s"got $r")
    // B constant → predicting B is degenerate (NULL); and knowing the
    // constant B buys nothing about A → λ_A|B = 0 exactly
    val const = Seq(("a1", "b1"), ("a2", "b1")).toDF("a", "b")
    val r2 = Agreement.gkLambdaPpm(const, "a", "b")
      .as[(Long, Option[Long], Option[Long])].collect().head
    assert(r2._2.isEmpty && r2._3.contains(0L), s"got $r2")
    // perfect prediction → λ = 1 both ways
    val perfect = Seq(("a1", "b1"), ("a1", "b1"), ("a2", "b2"))
      .toDF("a", "b")
    val r3 = Agreement.gkLambdaPpm(perfect, "a", "b")
      .as[(Long, Option[Long], Option[Long])].collect().head
    assert(r3 == ((3L, Some(1000000L), Some(1000000L))), s"got $r3")
  }

  // ------------------------------- single-aggregate contingency kernels
  /** Random (a, b) rating pairs: K_a, K_b ∈ [1, 5] codes starting
    * anywhere in [−3, 2], 0-40 rows, some NULL on either side. */
  private def randomPairs(rnd: scala.util.Random): Seq[(Option[Long], Option[Long])] = {
    val (ka, kb) = (1 + rnd.nextInt(5), 1 + rnd.nextInt(5))
    val (a0, b0) = (rnd.nextInt(6) - 3L, rnd.nextInt(6) - 3L)
    def code(k: Int, base: Long) =
      if (rnd.nextInt(10) == 0) None else Some(base + rnd.nextInt(k))
    Seq.fill(rnd.nextInt(41))((code(ka, a0), code(kb, b0)))
  }

  /** The messages of an exception and all its causes, one string. */
  private def causeMessages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")

  test("weightedKappaPpm equals the multi-pass reference on random " +
       "tables: negative codes, one category, empty input, power 2") {
    val rnd = new scala.util.Random(380)
    val fixed = Seq(
      Seq.empty[(Option[Long], Option[Long])],            // empty input
      Seq((None, Some(1L)), (Some(2L), None)),            // no full pair
      Seq.fill(3)((Some(-2L), Some(-2L))),                // one category
      Seq((Some(-5L), Some(3L)), (Some(3L), Some(-5L)))) // wide reversal
    (fixed ++ Seq.fill(14)(randomPairs(rnd))).zipWithIndex.foreach {
      case (pairs, t) =>
        val df = pairs.toDF("a", "b")
        Seq(1, 2).foreach { p =>
          val got = Agreement.weightedKappaPpm(df, "a", "b", p)
            .as[(Long, Option[Long])].collect().toSeq
          val want = AgreementReference.weightedKappaPpm(df, "a", "b", p)
            .as[(Long, Option[Long])].collect().toSeq
          assert(got == want, s"table $t power $p: $pairs")
        }
    }
  }

  test("gkLambdaPpm equals the multi-pass reference on random tables: " +
       "one category, empty input") {
    val rnd = new scala.util.Random(353)
    val fixed = Seq(
      Seq.empty[(Option[Long], Option[Long])],
      Seq.fill(4)((Some(0L), Some(0L))),
      Seq((Some(1L), Some(7L)), (Some(2L), Some(7L)), (Some(2L), None)))
    (fixed ++ Seq.fill(14)(randomPairs(rnd))).zipWithIndex.foreach {
      case (pairs, t) =>
        val df = pairs.map { case (a, b) =>
          (a.map(x => s"a$x"), b.map(x => s"b$x")) }.toDF("a", "b")
        val got = Agreement.gkLambdaPpm(df, "a", "b")
          .as[(Long, Option[Long], Option[Long])].collect().toSeq
        val want = AgreementReference.gkLambdaPpm(df, "a", "b")
          .as[(Long, Option[Long], Option[Long])].collect().toSeq
        assert(got == want, s"table $t: $pairs")
    }
  }

  test("weightedKappaPpm and gkLambdaPpm reject an alphabet product " +
       "above MaxContingencyCells with a named error") {
    // 65 × 65 = 4225 > 4096 cells; 64 × 64 = 4096 is still accepted
    def square(k: Int) = spark.range(k.toLong * k)
      .selectExpr(s"id div $k AS a", s"id % $k AS b")
    assert(Agreement.MaxContingencyCells == 4096L)
    val kappa = causeMessages(intercept[Exception](
      Agreement.weightedKappaPpm(square(65), "a", "b").collect()))
    assert(kappa.contains("GRAFT_CONTINGENCY_ALPHABET") &&
      kappa.contains("K_a=65, K_b=65"), kappa)
    val lambda = causeMessages(intercept[Exception](
      Agreement.gkLambdaPpm(square(65), "a", "b").collect()))
    assert(lambda.contains("GRAFT_CONTINGENCY_ALPHABET"), lambda)
    assert(Agreement.weightedKappaPpm(square(64), "a", "b")
      .as[(Long, Option[Long])].collect().head._1 == 4096L)
    assert(Agreement.gkLambdaPpm(square(64), "a", "b")
      .as[(Long, Option[Long], Option[Long])].collect().head._1 == 4096L)
  }

  test("linkPredictionPpm plan: wedge join keys on the hub, never a cartesian") {
    val e = spark.range(2, 2000).selectExpr("id AS s", "id / 2 AS d")
    val p = GraphOps.linkPredictionPpm(e, "s", "d")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must ride the hub key:\n${p.take(600)}")
  }

  // ---------------------------------------------- semantic decontam
  test("semanticDecontam: planted near-dup flagged, orthogonal not; guard") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)),   // exact test match
      (2L, Seq(0.0f, 1.0f)),   // orthogonal
      (3L, Seq(0.9f, 0.1f))    // cos ≈ 0.9939 vs test
    ).toDF("vec_id", "embedding")
    val test0 = Seq((99L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    for (det <- Seq(true, false)) {
      val r = graft.llm.Dedup.semanticDecontam(corpus, test0,
          "vec_id", "embedding", minCosine = 0.95, deterministic = det)
        .orderBy("vec_id").as[(Long, Long, Int)].collect().toSeq
      assert(r == Seq((1L, 1L, 1), (2L, 0L, 0), (3L, 1L, 1)),
        s"det=$det got $r")
    }
    // broadcast-admission contract fails loud, never a silent truncate
    intercept[IllegalArgumentException] {
      graft.llm.Dedup.semanticDecontam(corpus, corpus, "vec_id",
        "embedding", minCosine = 0.5, maxTestRows = 2)
    }
    // and the rows × dims (cells) ceiling binds independently of rows:
    // 3 rows × 2 dims = 6 cells > 5
    intercept[IllegalArgumentException] {
      graft.llm.Dedup.semanticDecontam(corpus, corpus, "vec_id",
        "embedding", minCosine = 0.5, maxTestCells = 5)
    }
  }

  test("semanticDecontam plan: test side broadcast, corpus never hash-shuffled") {
    // the 100 TB contract — the corpus scan is map-only: the test side
    // arrives via BroadcastExchange (cross + left join both broadcast),
    // and no hashpartitioning exchange ever touches the corpus
    val corpus = spark.range(0, 200).selectExpr("id AS vec_id",
      "array(CAST(id % 7 AS FLOAT), CAST(id % 5 AS FLOAT)) AS embedding")
    val test0 = spark.range(0, 4).selectExpr("id AS vec_id",
      "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)) AS embedding")
    val p = graft.llm.Dedup.semanticDecontam(corpus, test0, "vec_id",
        "embedding", minCosine = 0.9)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"),
      s"test side must broadcast:\n${p.take(800)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus must stay map-only — no hash shuffle:\n${p.take(800)}")
  }

  // ------------------------------------- streaming drift monitor (q365)
  test("stream drift monitor: one summary row per micro-batch; a " +
       "planted category shift spikes max_delta_pm in ITS batch only") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // batch 0 (6 docs, 5 en / 1 de) sits near the pooled baseline
    // (5 en / 3 de); batch 1 (2 docs, ALL de) is the planted shift —
    // unequal batch sizes, so the two batches drift ASYMMETRICALLY
    // from the pooled mix and the canary must fire harder on batch 1
    val en = "the cat and the dog sat of it in that house it is"
    val de = "der hund und die katze ist nicht ein zu haus und der"
    val b0 = Seq((0L, en), (2L, en), (4L, en), (6L, en), (8L, en),
      (10L, de)).toDF("doc_id", "text")
    val b1 = Seq((1L, de), (3L, de)).toDF("doc_id", "text")
    val baselineDocs = b0.unionByName(b1)
    val baseline = baselineDocs.select(
      graft.llm.TextAnalysis.langId(col("text")).as("la"))
    val tmp = java.nio.file.Files.createTempDirectory("driftmon").toFile
    Seq(b0, b1).zipWithIndex.foreach { case (p, i) =>
      val sub = new java.io.File(tmp, s"__p$i")
      p.coalesce(1).write.mode("overwrite").parquet(sub.getAbsolutePath)
      val src = sub.listFiles.find(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".")).get
      java.nio.file.Files.move(src.toPath,
        new java.io.File(tmp, s"batch$i.parquet").toPath)
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    graft.streaming.EventStream.runStreamForeachBatch(
      spark, tmp.getAbsolutePath, { (batch, _) =>
        val mix = batch.select(
          graft.llm.TextAnalysis.langId(col("text")).as("la"))
        val r = graft.ops.Stats.categoryDrift(mix, baseline, "la")
          .agg(max(col("delta_pm")).cast("long"))
          .crossJoin(batch.agg(min(col("doc_id") % 2).cast("long")))
          .as[(Long, Long)].collect().head
        rows += ((r._2, r._1)); ()
      }, options = Map("maxFilesPerTrigger" -> "1"))
    // one summary per micro-batch — the monitor's bounded-state shape
    assert(rows.size == 2, s"expected 2 micro-batches, got $rows")
    val byBatch = rows.toMap
    // baseline 5 en / 3 de: batch 0 drifts ~209 pm, the all-de batch
    // |1000 - 375| = 625 pm — the planted shift must dominate
    assert(byBatch(1L) > byBatch(0L),
      s"planted shift must dominate: $byBatch")
    assert(byBatch(1L) >= 300L,
      s"all-de batch vs 3/8-de baseline is a ≥300 per-mille shift: $byBatch")
  }

  test("q365 drift monitor runs the frozen langid baseline in ONE job " +
       "total (round-12 ask #1 — not once per micro-batch)") {
    // the round-11 verdict flagged q365 re-running the full-corpus
    // langid scan inside every foreachBatch (4 batches -> 4 corpus
    // passes). The fix aggregates the frozen mix to per-category
    // counts and collects them ONCE — so across the whole gate there
    // must be exactly one `collect at AgreementGates` job (the
    // LazyBuilderSpec listener pattern, applied to run-time jobs).
    val (out, jobs) = JobProbe.jobs(spark) {
      SparkEntry.queries("q365_stream_drift_monitor")(
        spark, sf("sf0.001")).collect()
    }
    assert(out.length == 4, s"expected 4 micro-batch rows, got " +
      s"${out.length}")
    // AQE stage submission can lose the action call site in stage
    // names; the job-level property keeps it
    val pre = jobs.map(j => j.callSite + " ;; " + j.stages)
    // the baseline collect is an AQE action: its call site is lost
    // (withThreadLocalCaptured), so pin it structurally — the ONLY
    // driver-collect jobs in the whole gate are the frozen
    // baseline's (1 collect = 1-4 AQE sub-jobs), and they ALL land
    // BEFORE the first micro-batch job. A reintroduced per-batch
    // recompute would surface as collect/AQE jobs after the stream
    // starts (or as 4x the pre-stream count).
    def isCollect(s2: String) =
      s2.contains("withThreadLocalCaptured") ||
        s2.contains("collect at AgreementGates")
    val firstStream = pre.indexWhere(_.contains("start at EventStream"))
    assert(firstStream >= 0, "stream never started")
    val preStream = pre.take(firstStream).count(isCollect)
    val postStream = pre.drop(firstStream).count(isCollect)
    // upper bound raised 4 → 5 in round 12: the scan-fanout exchange
    // on the baseline's langid pass adds one AQE shuffle sub-job; the
    // guard's teeth are unchanged (a per-batch recompute shows as
    // post-stream collects, or ~4x this count)
    assert(preStream >= 1 && preStream <= 5,
      s"frozen baseline must cost exactly ONE pre-stream collect " +
        s"(1-5 AQE sub-jobs), saw $preStream — " +
        s"[${pre.take(firstStream).mkString(" | ")}]")
    assert(postStream == 0,
      s"NO collect/AQE-driver job may run once the stream starts " +
        s"(the baseline is frozen), saw $postStream — " +
        s"[${pre.drop(firstStream).filter(isCollect).mkString(" | ")}]")
  }

  test("q380 runs at most 3 Spark jobs per micro-batch") {
    // one cell-grain shuffle, one global-aggregate shuffle, one write;
    // the batch is not pinned and the kappa reads no pinned cells
    val (_, jobs) = JobProbe.jobs(spark) {
      SparkEntry.queries("q380_stream_kappa_canary")(
        spark, sf("sf0.001")).collect()
    }
    val perBatch = jobs.flatMap { j =>
      "(?m)^batch = (\\d+)$".r.findFirstMatchIn(j.description).map(_.group(1)) }
      .groupBy(identity).map { case (b, js) => b -> js.size }
    assert(perBatch.size == 4, s"expected 4 micro-batches: $perBatch " +
      s"[${jobs.map(_.description.replace('\n', ' ')).mkString(" | ")}]")
    assert(perBatch.values.forall(_ <= 3),
      s"jobs per micro-batch: $perBatch")
  }

  test("q353, q356, q361 and q380 leave no persistent RDD behind") {
    Seq("q353_gk_lambda", "q356_weighted_kappa", "q361_quadratic_kappa",
        "q380_stream_kappa_canary").foreach { q =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      SparkEntry.queries(q)(spark, sf("sf0.001")).collect()
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$q left persistent RDDs $left")
    }
  }

  test("q365 rejects a repeated doc_id with a named error") {
    // two rows under one doc_id would join 2×2 against the trained
    // classifier's per-row answer and inflate the drift counts
    val dir = tmpDir("q365dup")
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    docs.unionByName(docs.where("doc_id % 50 = 7"))
      .write.parquet(s"$dir/documents.parquet")
    val msgs = causeMessages(intercept[Exception](
      SparkEntry.queries("q365_stream_drift_monitor")(spark, dir).collect()))
    assert(msgs.contains("GRAFT_DUPLICATE_DOC_ID"), msgs)
  }

  // -------------------------------------------------------- ICC(2,1)
  test("iccPpm: Shrout-Fleiss 1979 table, incomplete items drop") {
    // The canonical 6-target × 4-judge table. Hand sums: T=127,
    // S=841, P=ΣR²=2913, Q=ΣC²=4617 →
    //   u = 6·2913−127² = 1349, c = 4·4617−127² = 2339,
    //   e = 24·841−127²−u−c = 367
    //   num = 6·(1349·3−367) = 22080
    //   den = 1716·18 + 2339·20 − 367·4 = 76200
    // ICC(2,1) = 22080/76200 = 0.2897 (the published 0.29) → 289763
    val sf = Seq(
      (1L, 9L, 2L, 5L, 8L), (2L, 6L, 1L, 3L, 2L), (3L, 8L, 4L, 6L, 8L),
      (4L, 7L, 1L, 2L, 6L), (5L, 10L, 5L, 6L, 9L), (6L, 6L, 2L, 4L, 7L))
    val long = sf.flatMap { case (i, a, b, c, d) =>
      Seq((i, "j1", a), (i, "j2", b), (i, "j3", c), (i, "j4", d))
    } :+ ((7L, "j1", 5L)) // one rating only → dropped
    val r = Agreement.iccPpm(long.toDF("item", "rater", "x"),
        "item", "rater", "x", raters = 4)
      .as[(Long, Long, Long, Option[Long])].collect().head
    assert(r == ((6L, 1L, 4L, Some(289763L))), s"got $r")
  }

  test("iccPpm: identical raters = 10^6; constant table NULL") {
    val perfect = Seq((1L, "a", 10L), (1L, "b", 10L),
      (2L, "a", 20L), (2L, "b", 20L), (3L, "a", 35L), (3L, "b", 35L))
      .toDF("item", "rater", "x")
    assert(Agreement.iccPpm(perfect, "item", "rater", "x", 2)
      .as[(Long, Long, Long, Option[Long])].collect().head
      == ((3L, 0L, 2L, Some(1000000L))))
    // every rating the same value → den = 0 → NULL
    val const = Seq((1L, "a", 5L), (1L, "b", 5L), (2L, "a", 5L),
      (2L, "b", 5L)).toDF("item", "rater", "x")
    assert(Agreement.iccPpm(const, "item", "rater", "x", 2)
      .as[(Long, Long, Long, Option[Long])].collect().head._4.isEmpty)
  }

  test("iccPpm: a systematic rater offset is penalized (vs Pearson)") {
    // rater b = rater a + 100: Pearson r = 1, but absolute agreement
    // must price the shift — ICC strictly below 10^6
    val shifted = Seq((1L, "a", 10L), (1L, "b", 110L),
      (2L, "a", 20L), (2L, "b", 120L), (3L, "a", 30L), (3L, "b", 130L))
      .toDF("item", "rater", "x")
    val icc = Agreement.iccPpm(shifted, "item", "rater", "x", 2)
      .as[(Long, Long, Long, Option[Long])].collect().head._4.get
    assert(icc < 100000L, s"offset must crush absolute agreement: $icc")
  }

  // ------------------------------------------------------- Lin's CCC
  test("cccPpm: identity = 10^6, shift penalized, inversion negative") {
    val id = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("x", "y")
    assert(Agreement.cccPpm(id, "x", "y")
      .as[(Long, Option[Long])].collect().head == ((3L, Some(1000000L))))
    // y = x + 2: num = 2·(3·26−72) = 12, den = 6 + 6 + 36 = 48 → 1/4
    val shift = Seq((1L, 3L), (2L, 4L), (3L, 5L)).toDF("x", "y")
    assert(Agreement.cccPpm(shift, "x", "y")
      .as[(Long, Option[Long])].collect().head._2 == Some(250000L))
    // y = −x: num = 2·(−42+36) = −12, den = 6+6+144 = 156 →
    // sign-magnitude −(12·10⁶/2 ... 2000000·6 div 156) = −76923
    val inv = Seq((1L, -1L), (2L, -2L), (3L, -3L)).toDF("x", "y")
    assert(Agreement.cccPpm(inv, "x", "y")
      .as[(Long, Option[Long])].collect().head._2 == Some(-76923L))
    // both sides one identical constant → den = 0 → NULL
    val const = Seq((5L, 5L), (5L, 5L)).toDF("x", "y")
    assert(Agreement.cccPpm(const, "x", "y")
      .as[(Long, Option[Long])].collect().head._2.isEmpty)
  }

  // -------------------------------------------------- Cronbach alpha
  test("cronbachAlphaPpm: hand two-item battery; perfect; negative") {
    // x0=(1,2,3,4), x1=(1,3,2,4): V0=V1=20, s=(2,5,5,8) → Vt=72
    // α = 2·(72−40)/72 = 64/72 → 888888 ppm
    val hand = Seq((1L, 1L), (2L, 3L), (3L, 2L), (4L, 4L))
      .toDF("x0", "x1")
    val r = Agreement.cronbachAlphaPpm(hand, Seq("x0", "x1"))
      .as[(Long, Long, Option[Long])].collect().head
    assert(r == ((4L, 2L, Some(888888L))), s"got $r")
    // three identical items → α = 1 exactly
    val perfect = Seq((1L, 1L, 1L), (2L, 2L, 2L), (3L, 3L, 3L))
      .toDF("a", "b", "c")
    assert(Agreement.cronbachAlphaPpm(perfect, Seq("a", "b", "c"))
      .as[(Long, Long, Option[Long])].collect().head._3
      == Some(1000000L))
    // anti-correlated pair: Vt=6 < ΣVi=12 → α = −2 (sign-magnitude)
    val anti = Seq((1L, 3L), (2L, 1L), (3L, 2L)).toDF("a", "b")
    assert(Agreement.cronbachAlphaPpm(anti, Seq("a", "b"))
      .as[(Long, Long, Option[Long])].collect().head._3
      == Some(-2000000L))
    // constant row totals → Vt = 0 → NULL
    val zero = Seq((1L, 2L), (2L, 1L)).toDF("a", "b")
    assert(Agreement.cronbachAlphaPpm(zero, Seq("a", "b"))
      .as[(Long, Long, Option[Long])].collect().head._3.isEmpty)
  }

  // --------------------------------------- Krippendorff interval α
  test("krippendorffAlphaIntervalPpm: hand −0.5; perfect; unpairable") {
    // A(1,2) B(1,2): per-item Σpairs(Δ²) = 2·(2·5−9) = 2, /(n_i−1) →
    // dom = 4·10⁶; pooled 2(4·10−36) = 8 → α = 1 − 4·3/8 = −1/2
    val hand = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
      .toDF("item", "x")
    val r = Agreement.krippendorffAlphaIntervalPpm(hand, "item", "x")
      .as[(Long, Long, Option[Long])].collect().head
    assert(r == ((4L, 0L, Some(-500000L))), s"got $r")
    // within-item exact agreement, across-item spread → α = 10⁶;
    // the single-rating item is unpairable and EXCLUDED from pooled
    val perfect = Seq((1L, 1L), (1L, 1L), (2L, 2L), (2L, 2L),
      (3L, 99L)).toDF("item", "x")
    assert(Agreement.krippendorffAlphaIntervalPpm(perfect, "item", "x")
      .as[(Long, Long, Option[Long])].collect().head
      == ((4L, 1L, Some(1000000L))))
    // all pooled values identical → expected disagreement 0 → NULL
    val const = Seq((1L, 5L), (1L, 5L), (2L, 5L), (2L, 5L))
      .toDF("item", "x")
    assert(Agreement.krippendorffAlphaIntervalPpm(const, "item", "x")
      .as[(Long, Long, Option[Long])].collect().head._3.isEmpty)
  }

  // ---------------------------------------------------- Bland–Altman
  test("blandAltmanMilli: hand bias/variance/within-2sd; NULL under 2") {
    // diffs (0×9, 100): T=100, Q=10⁴, V = 10·10⁴−10⁴ = 9·10⁴
    // bias = 1000·100 div 10 = 10000; var = 1000·9·10⁴ div 90 = 10⁶
    // within: (10d−100)²·9 ≤ 40·9·10⁴ keeps the nine zeros, drops the
    // outlier → 900000 ppm
    val df = ((1 to 9).map(_ => (0L, 0L)) :+ ((100L, 0L)))
      .toDF("x", "y")
    val r = Agreement.blandAltmanMilli(df, "x", "y")
      .as[(Long, Option[Long], Option[Long], Option[Long])]
      .collect().head
    assert(r == ((10L, Some(10000L), Some(1000000L), Some(900000L))),
      s"got $r")
    // identical methods: bias 0, var 0, everything within
    val same = Seq((5L, 5L), (7L, 7L), (9L, 9L)).toDF("x", "y")
    assert(Agreement.blandAltmanMilli(same, "x", "y")
      .as[(Long, Option[Long], Option[Long], Option[Long])]
      .collect().head
      == ((3L, Some(0L), Some(0L), Some(1000000L))))
    // n = 1 → all lanes NULL
    val one = Seq((5L, 3L)).toDF("x", "y")
    val o = Agreement.blandAltmanMilli(one, "x", "y")
      .as[(Long, Option[Long], Option[Long], Option[Long])]
      .collect().head
    assert(o._1 == 1L && o._2.isEmpty && o._3.isEmpty && o._4.isEmpty)
  }

  test("blandAltmanMilli: negative bias goes sign-magnitude") {
    // d = (−10, −20): T = −30 → bias = −(1000·30 div 2) = −15000
    val df = Seq((0L, 10L), (0L, 20L)).toDF("x", "y")
    assert(Agreement.blandAltmanMilli(df, "x", "y")
      .as[(Long, Option[Long], Option[Long], Option[Long])]
      .collect().head._2 == Some(-15000L))
  }

  test("krippendorffAlphaIntervalPpm: magnitude-sensitive where nominal is not") {
    // two items, each with one 2-unit miss vs one 2000-unit miss:
    // nominal alpha scores both frames identically (all values
    // distinct → both "disagreements"), interval alpha must score the
    // small-miss frame far higher
    val small = Seq((1L, 100L), (1L, 102L), (2L, 200L), (2L, 202L))
      .toDF("item", "x")
    val big = Seq((1L, 100L), (1L, 2100L), (2L, 200L), (2L, 2200L))
      .toDF("item", "x")
    val as = Agreement.krippendorffAlphaIntervalPpm(small, "item", "x")
      .as[(Long, Long, Option[Long])].collect().head._3.get
    val ab = Agreement.krippendorffAlphaIntervalPpm(big, "item", "x")
      .as[(Long, Long, Option[Long])].collect().head._3.get
    assert(as > 900000L && ab < 0L,
      s"interval metric must separate miss magnitudes: $as vs $ab")
  }

  // --------------------------------------- pair-counting battery
  private def pairRow(df: org.apache.spark.sql.DataFrame) =
    Agreement.pairCountingPpm(df, "a", "b")
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long],
        Option[Long], Option[Long])].collect().head

  test("pairCountingPpm: identical, orthogonal, singleton, shatter") {
    // identical partitions {12}{34} both sides: cells (x,p)=2,(y,q)=2
    // s2=2+2=4, qa2=qb2=4, t2=12, tn2=12−4−4+4=8
    // rand=(12−8+8)/12… = (t2−qa2−qb2+2s2)/t2 = 12/12 = 1; jac=4/4=1
    // wallace both 4/4=1; mirkin=(4+4−8)/12=0
    val same = Seq((1L, "x", "p"), (2L, "x", "p"), (3L, "y", "q"),
      (4L, "y", "q")).toDF("id", "a", "b")
    assert(pairRow(same) == ((4L, 2L, 2L, Some(1000000L), Some(1000000L),
      Some(1000000L), Some(1000000L), Some(0L))))
    // orthogonal 2×2 (every cell 1): s2=0, qa2=qb2=4, t2=12
    // rand=(12−8)/12=⌊10⁶·4/12⌋=333333; jac=0/8=0; wallace=0
    // mirkin=8/12=666666
    val orth = Seq((1L, "x", "p"), (2L, "x", "q"), (3L, "y", "p"),
      (4L, "y", "q")).toDF("id", "a", "b")
    assert(pairRow(orth) == ((4L, 2L, 2L, Some(333333L), Some(0L),
      Some(0L), Some(0L), Some(666666L))))
    // singletons both sides: qa2=qb2=s2=0 → jaccard/wallace NULL;
    // the one pair is different-both → rand=1, mirkin=0
    val single = Seq((1L, "x", "p"), (2L, "y", "q")).toDF("id", "a", "b")
    assert(pairRow(single) == ((2L, 2L, 2L, Some(1000000L), None,
      None, None, Some(0L))))
    // B shatters: s2=0, qa2=2·(4·3)=24, qb2=0, t2=56
    // rand=(56−24)/56=571428 reads HIGH, wallace_ab=0 exposes it,
    // wallace_ba NULL (no B pair), jac=0/24=0, mirkin=24/56=428571
    val shatter = (1 to 8).map(i => (i.toLong, if (i <= 4) "x" else "y",
      s"s$i")).toDF("id", "a", "b")
    assert(pairRow(shatter) == ((8L, 2L, 8L, Some(571428L), Some(0L),
      Some(0L), None, Some(428571L))))
  }

  // ------------------------------------------- purity + BCubed
  private def bcRow(df: org.apache.spark.sql.DataFrame) =
    Agreement.bcubedPpm(df, "a", "b")
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long],
        Option[Long], Option[Long], Option[Long])].collect().head

  test("bcubedPpm: identical, shatter asymmetry, mixed cluster, empty") {
    // identical {12}{34} both sides → every statistic 10⁶
    val same = Seq((1L, "x", "p"), (2L, "x", "p"), (3L, "y", "q"),
      (4L, "y", "q")).toDF("id", "a", "b")
    assert(bcRow(same) == ((4L, 2L, 2L, Some(1000000L), Some(1000000L),
      Some(1000000L), Some(1000000L), Some(1000000L), Some(1000000L))))
    // label shatter: clusters {1–4}{5–8}, labels all singleton.
    // purity = 2/8 = 250000 (modal 1 per cluster), inv purity = 1.
    // BCubed P: per cluster sq=Σn²=4, m=4 → ⌊10⁶·4/4⌋ = 10⁶;
    // Σ 2·10⁶ div n=8 → 250000. R = 10⁶ (singleton labels).
    // F both = 2·¼·1/(¼+1) = 2/5 = 400000.
    val shatter = (1 to 8).map(i => (i.toLong, if (i <= 4) "x" else "y",
      s"s$i")).toDF("id", "a", "b")
    assert(bcRow(shatter) == ((8L, 2L, 8L, Some(250000L), Some(1000000L),
      Some(400000L), Some(250000L), Some(1000000L), Some(400000L))))
    // one mixed cluster over two pure labels: purity ½, inverse 1,
    // BCubed P = ⌊10⁶·(4+4)/4⌋ div 4 = 500000, R = 1, F = ⅔
    val mixed = Seq((1L, "x", "p"), (2L, "x", "p"), (3L, "x", "q"),
      (4L, "x", "q")).toDF("id", "a", "b")
    assert(bcRow(mixed) == ((4L, 1L, 2L, Some(500000L), Some(1000000L),
      Some(666666L), Some(500000L), Some(1000000L), Some(666666L))))
    // empty input → one NULL report row, not an empty frame
    val empty = Seq.empty[(Long, String, String)].toDF("id", "a", "b")
    val e = bcRow(empty)
    assert(e._1 == 0L && e._4.isEmpty && e._9.isEmpty, s"got $e")
  }
}

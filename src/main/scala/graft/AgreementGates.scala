package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 gates — inter-rater/inter-ranker agreement, ordinal effect
  * sizes, variance-equality, link prediction, and embedding-space
  * decontamination (q342+). The round-9 EvalGates split carried
  * forward: one domain file per batch, `SparkEntry` unions the maps.
  *
  * Shared conventions (the CoreQueries contract): exact integer /
  * decimal arithmetic with `div` ↔ DuckDB HUGEINT `//` (both truncate
  * toward zero on non-negative quantities; anything signed goes
  * sign-magnitude), cents = `floor(value*100)` on both engines,
  * surfaced aggregates BIGINT.
  */
object AgreementGates {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    CoreQueries.tRead(s, dir, name)

  /** The three deterministic "raters" shared by q344/q351 (and, with
    * drop rules, q345): a value-bucket rule, an id-parity rule, and a
    * user-mix rule — three rules that genuinely disagree, so the
    * chance-corrected statistics have something to correct. */
  private[graft] def eventRatings(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").where(col("value").isNotNull)
      .select(col("event_id"), col("user_id"),
        floor(col("value") * 100).cast("long").as("cents"))
    e.select(col("event_id").as("item"),
        least(expr("greatest(cents, 0L) div 3500"), lit(2L)).as("cat"))
      .unionByName(e.select(col("event_id").as("item"),
        (col("event_id") % 3).as("cat")))
      .unionByName(e.where(col("event_id") % 13 =!= 0)
        .select(col("event_id").as("item"),
          ((col("user_id") + col("event_id")) % 3).as("cat")))
  }

  // SEMANTIC DECONTAMINATION (llm/Dedup.semanticDecontam): flag corpus
  // vectors within cosine 0.25 of a FIXED absolute-id test set
  // (vec_id < 32 — the make_sf1 rehearsal convention: query sets stay
  // constant, the corpus side grows, so the broadcast map-only scan is
  // provably linear). Exact decimal kernel for the oracle; production
  // uses the fused double cosine.
  def q342_semantic_decontam(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.llm.Dedup.semanticDecontam(
      corpus = emb, test = emb.where(col("vec_id") < 32),
      idCol = "vec_id", vecCol = "embedding",
      minCosine = 0.25, deterministic = true)
  }

  // LINK PREDICTION (ops/GraphOps.linkPredictionPpm): candidate
  // missing edges of the q134 document graph scored by common
  // neighbors, set Jaccard, and the resource-allocation index — the
  // exact (no-ln) member of the Adamic–Adar family.
  def q343_link_prediction(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nFrame = docs.agg(count(lit(1)).as("__n"))
    val e = docs.select(col("doc_id").as("src"),
        expr("doc_id div 2").as("dst"))
      .unionByName(docs.crossJoin(broadcast(nFrame))
        .select(col("doc_id").as("src"),
          expr("(doc_id * doc_id + 1) % __n").as("dst")))
    graft.ops.GraphOps.linkPredictionPpm(e, "src", "dst")
  }

  // FLEISS' KAPPA (ops/Agreement.fleissKappaPpm): three deterministic
  // raters per event; events with event_id % 13 = 0 lose rater 3 and
  // exercise the incomplete-assignment drop path (n_dropped > 0).
  def q344_fleiss_kappa(s: SparkSession, dir: String): DataFrame =
    graft.ops.Agreement.fleissKappaPpm(eventRatings(s, dir),
      "item", "cat", raters = 3)

  // KRIPPENDORFF'S ALPHA (ops/Agreement.krippendorffAlphaPpm): the
  // UNEQUAL-raters case Fleiss can't express — rater 2 skips
  // event_id % 11 = 0, rater 3 skips event_id % 5 = 0, so items carry
  // 1–3 ratings and the single-rating unpairable path is exercised
  // (% 55 items).
  def q345_krippendorff(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").where(col("value").isNotNull)
      .select(col("event_id"), col("user_id"),
        floor(col("value") * 100).cast("long").as("cents"))
    val ratings = e.select(col("event_id").as("item"),
        least(expr("greatest(cents, 0L) div 3500"), lit(2L)).as("cat"))
      .unionByName(e.where(col("event_id") % 11 =!= 0)
        .select(col("event_id").as("item"),
          (col("event_id") % 3).as("cat")))
      .unionByName(e.where(col("event_id") % 5 =!= 0)
        .select(col("event_id").as("item"),
          ((col("user_id") + col("event_id")) % 3).as("cat")))
    graft.ops.Agreement.krippendorffAlphaPpm(ratings, "item", "cat")
  }

  // CLIFF'S DELTA (ops/RankTests.cliffsDeltaPpm): how often a purchase
  // event's value-cents beats a non-purchase event's — the effect size
  // next to q291's Mann–Whitney significance on the same comparison.
  def q346_cliffs_delta(s: SparkSession, dir: String): DataFrame =
    graft.ops.RankTests.cliffsDeltaPpm(
      t(s, dir, "events").where(col("value").isNotNull).select(
        (col("event_type") === "purchase").as("flag"),
        floor(col("value") * 100).cast("long").as("cents")),
      "flag", "cents")

  // KENDALL'S W (ops/Agreement.kendallsWPpm): concordance of three
  // complete document rankings — by length, by a hash scramble, and by
  // REVERSE length — built as strict total orders via the window-free
  // global row number (ties broken by doc_id on both engines).
  def q347_kendalls_w(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    def ranked(name: String, sort: Seq[Column]): DataFrame =
      graft.ops.GlobalRank.globalRowNumber(d, sort, "rank")
        .select(lit(name).as("ranker"), col("doc_id"), col("rank"))
    val u = ranked("len", Seq(col("n_chars").asc, col("doc_id").asc))
      .unionByName(ranked("hash",
        Seq(expr("(doc_id * 2654435761L) % 1000003L").asc,
          col("doc_id").asc)))
      .unionByName(ranked("rev", Seq(col("n_chars").desc,
        col("doc_id").asc)))
    graft.ops.Agreement.kendallsWPpm(u, "ranker", "doc_id", "rank")
  }

  // MATTHEWS CORRELATION (ops/Stats.matthewsCorrPpm): the q288 rule-A
  // classifier (cents ≥ 3500) against the purchase label — the
  // imbalance-honest single number next to q274's per-class report.
  def q348_mcc(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.matthewsCorrPpm(
      t(s, dir, "events")
        .where(col("value").isNotNull && col("event_type").isNotNull)
        .select(
          (floor(col("value") * 100).cast("long") >= 3500L).as("pred"),
          (col("event_type") === "purchase").as("label")),
      "pred", "label")

  // BROWN–FORSYTHE (ops/RankTests.brownForsytheMilli): do the five
  // event types have the same value-cents SPREAD? The robust
  // variance-equality check that belongs before q247's ANOVA read.
  def q349_brown_forsythe(s: SparkSession, dir: String): DataFrame =
    graft.ops.RankTests.brownForsytheMilli(
      t(s, dir, "events")
        .where(col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"),
          floor(col("value") * 100).cast("long").as("cents")),
      "event_type", "cents")

  // COCHRAN'S Q (ops/Agreement.cochranQMilli): three deterministic
  // binary rules on the same events — the k-classifier McNemar
  // extension next to q288's pairwise form.
  def q350_cochran_q(s: SparkSession, dir: String): DataFrame =
    graft.ops.Agreement.cochranQMilli(
      t(s, dir, "events").where(col("value").isNotNull &&
          col("event_id").isNotNull && col("user_id").isNotNull)
        .select(
          (floor(col("value") * 100).cast("long") >= 3500L).as("pred_a"),
          (col("event_id") % 3 === 0).as("pred_b"),
          ((col("user_id") + col("event_id")) % 2 === 0).as("pred_c")),
      Seq("pred_a", "pred_b", "pred_c"))

  // GWET'S AC1 (ops/Agreement.gwetAc1Ppm): the prevalence-robust twin
  // of q344 on the identical rating frame — same raters, same drops,
  // different chance model; the pair quantifies the kappa paradox on
  // real marginals.
  def q351_gwet_ac1(s: SparkSession, dir: String): DataFrame =
    graft.ops.Agreement.gwetAc1Ppm(eventRatings(s, dir),
      "item", "cat", raters = 3)

  // PARTITION AGREEMENT (ops/Agreement.partitionAgreementPpm): did the
  // first-16 deterministic centroid assignment (the q339 machinery)
  // recover the fixture's 10 gold labels? Chance-corrected ARI +
  // Fowlkes–Mallows² — the evaluation step after every clustering /
  // semantic-dedup stage. Assignment is n·nlist map-side work; the
  // agreement statistic shuffles contingency CELLS only.
  def q352_cluster_ari(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = graft.llm.Similarity.ivfCentroids(
      emb, "vec_id", "embedding", nlist = 16, iters = 0)
    val assign = graft.llm.Similarity.assignToCentroids(emb, cents,
        "vec_id", "embedding", "cid", "cv")
      .select(col("vec_id"), col("centroid_id"))
    graft.ops.Agreement.partitionAgreementPpm(
      assign.join(emb.select(col("vec_id"), col("label")), Seq("vec_id")),
      "centroid_id", "label")
  }

  // GOODMAN–KRUSKAL LAMBDA (ops/Agreement.gkLambdaPpm): does a
  // document's language predict its source (and the reverse)? The
  // division-exact association measure next to q252's Cramér's V.
  def q353_gk_lambda(s: SparkSession, dir: String): DataFrame =
    graft.ops.Agreement.gkLambdaPpm(
      t(s, dir, "documents")
        .where(col("lang").isNotNull && col("source").isNotNull)
        .select(col("lang"), col("source")),
      "lang", "source")

  // T-CLOSENESS (ops/DataQuality.tClosenessReport): the distributional
  // privacy check next to q312's k-anonymity on the SAME quasi key —
  // exact 1-D EMD between each (nation, segment) group's balance-bucket
  // distribution and the corpus's, unit ground distance, ppm.
  def q354_t_closeness(s: SparkSession, dir: String): DataFrame =
    graft.ops.DataQuality.tClosenessReport(
      t(s, dir, "customer").select(col("c_nationkey"),
        col("c_mktsegment"),
        expr("(CAST(floor(c_acctbal) AS BIGINT) + 1000) div 2000")
          .as("bal_bucket")),
      Seq("c_nationkey", "c_mktsegment"), "bal_bucket", tPpm = 250000)

  // YOUDEN'S J OPTIMAL THRESHOLD (ops/Stats.youdenOptimalPpm): where
  // should the q288 value-cents rule actually cut? The operating-point
  // pick on the q306 ROC — max(TPR − FPR), ties to the lowest
  // threshold.
  def q355_youden(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.youdenOptimalPpm(
      t(s, dir, "events")
        .where(col("value").isNotNull && col("event_type").isNotNull)
        .select(floor(col("value") * 100).cast("long").as("cents"),
          (col("event_type") === "purchase").as("label")),
      "cents", "label")

  // WEIGHTED KAPPA (ops/Agreement.weightedKappaPpm): the q288 rule
  // pair as ORDINAL raters — band distance |i−j| priced in, the
  // ordinal companion to q200's unweighted Cohen kappa.
  def q356_weighted_kappa(s: SparkSession, dir: String): DataFrame =
    graft.ops.Agreement.weightedKappaPpm(
      t(s, dir, "events")
        .where(col("value").isNotNull && col("event_id").isNotNull)
        .select(
          least(expr("greatest(CAST(floor(value*100) AS BIGINT), 0L) div 3500"),
            lit(2L)).as("band_a"),
          (col("event_id") % 3).as("band_b")),
      "band_a", "band_b")

  // COHEN'S D (ops/Stats.cohensD2Milli): the effect size next to
  // q304's Welch significance and q346's ordinal Cliff delta on the
  // same purchase-vs-rest cents comparison.
  def q357_cohens_d(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.cohensD2Milli(
      t(s, dir, "events")
        .where(col("value").isNotNull && col("event_type").isNotNull)
        .select((col("event_type") === "purchase").as("flag"),
          floor(col("value") * 100).cast("long").as("cents")),
      "flag", "cents")

  // LUHN-VALIDATED CARD PII (llm/TextAnalysis.luhnCardCounts): the
  // checksum precision stage over q41's pattern recall — planted valid
  // test PANs count, an off-by-one forgery and wrong-length runs don't.
  def q358_luhn_pii(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionByName(s.range(1).select(lit(9000001L).as("doc_id"),
        lit("pay with 4111111111111111 or 5500005555555559 today")
          .as("text")))
      .unionByName(s.range(1).select(lit(9000002L).as("doc_id"),
        lit("invalid 4111111111111112 next to order " +
          "12345678901234567890 and id 123456789012").as("text")))
      .unionByName(s.range(1).select(lit(9000003L).as("doc_id"),
        lit("mixed 4012888888881881 ok and 79927398714 short")
          .as("text")))
    val (nc, nv) = graft.llm.TextAnalysis.luhnCardCounts(col("text"))
    planted.select(col("doc_id"), nc.as("n_candidates"), nv.as("n_valid"))
  }

  // LANGUAGE-ID AGREEMENT (integration): the q30 stopword-marker rule
  // and the q149 trained trigram-profile classifier partition the SAME
  // corpus — chance-corrected ARI between the two methods, the
  // model-vs-heuristic drift monitor a labeling pipeline actually runs.
  def q359_langid_agreement(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val a = docs.select(col("doc_id"),
      graft.llm.TextAnalysis.langId(col("text")).as("pred_rule"))
    val profiles = graft.llm.TextAnalysis.trainLangProfiles(
      docs, "lang", "text", n = 3, topM = 100)
    val b = graft.llm.TextAnalysis.classifyByProfile(
        docs, "doc_id", "text", profiles, n = 3, topM = 100)
      .select(col("doc_id"), col("lang_pred").as("pred_trained"))
    graft.ops.Agreement.partitionAgreementPpm(a.join(b, "doc_id"),
      "pred_rule", "pred_trained")
  }

  // STREAMING DRIFT MONITOR (round-11 verdict ask #5, the builder's
  // own idea list): ops/Stats.categoryDrift PAIRED WITH the q359
  // rule-vs-trained langid agreement, per REAL micro-batch — the
  // quality canary a live ingest runs: for every arriving batch,
  // (a) how far has the rule-langid category mix drifted from the
  // frozen full-corpus baseline (max |Δshare| per-mille), and (b) do
  // the heuristic and the trained classifier still agree
  // (chance-corrected ARI)? The corpus streams as four files (one per
  // doc_id%4 bucket) under maxFilesPerTrigger=1, so each bucket is one
  // micro-batch; the trained trigram model and the baseline mix are
  // FROZEN up front (the production shape — the monitor never
  // retrains mid-stream). Output rows are keyed by the bucket value
  // carried in the data, so the result is micro-batch-order-free and
  // oracle-checkable. Bounded state: each batch appends ONE summary
  // row; nothing driver-sized collects.
  def q365_stream_drift_monitor(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val profiles = graft.llm.TextAnalysis.trainLangProfiles(
        docs, "lang", "text", n = 3, topM = 100)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the FROZEN baseline mix, aggregated to per-category counts ONCE
    // and collected to a local frame (≤ #langs rows — bounded
    // metadata): the round-11 verdict flagged that passing the raw
    // frame to categoryDrift re-ran the full-corpus langid scan inside
    // EVERY foreachBatch (4 batches → 4 corpus passes on the single
    // most expensive gate). The frozen counts are byte-identical, so
    // the gate result is unchanged; per batch the baseline side is now
    // a LocalTableScan.
    val baselineAgg = graft.ops.ScanFanout(docs)
      .groupBy(graft.llm.TextAnalysis.langId(col("text")).as("la"))
      .agg(count(lit(1)).as("n_b"))
    val baselineCounts = s.createDataFrame(
      java.util.Arrays.asList(baselineAgg.collect(): _*),
      baselineAgg.schema)
    val tmp = CoreQueries.fixtureDir("q365_docs")
    CoreQueries.rewritePartFilesOnePass(tmp, docs,
      pmod(col("doc_id"), lit(4)), 4)
    val store = new graft.io.ParquetTableStore(s,
      java.nio.file.Files.createTempDirectory("q365mon").toString)
    graft.streaming.EventStream.runStreamForeachBatch(
      s, tmp.getAbsolutePath, { (batch0, _) =>
        // a maxFilesPerTrigger=1 micro-batch is single-file BY
        // CONSTRUCTION at any scale — fan the trigram/regex classify
        // work out to the session's cores (per-batch logic is
        // aggregate-only, row-order-free). `force`: a streaming batch
        // frame exposes no inputFiles for the metadata guard.
        // localCheckpoint: the batch feeds the rule-langid pass AND the
        // trigram classify — pinned, the file is read and fanned once.
        val batch = graft.ops.ScanFanout.force(batch0).localCheckpoint()
        // doc_id must key the batch: classifyByProfile answers once
        // per INPUT row, so a repeated doc_id would join n×n below and
        // inflate every count. One row per doc_id, or a named error.
        val ba = batch.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("__rows"),
            max(graft.llm.TextAnalysis.langId(col("text"))).as("__rule"))
          .select(col("doc_id"), when(col("__rows") > 1,
              raise_error(concat(lit("GRAFT_DUPLICATE_DOC_ID: " +
                "q365_stream_drift_monitor needs one row per doc_id in " +
                "a micro-batch, doc_id "), col("doc_id").cast("string"),
                lit(" has "), col("__rows").cast("string"), lit(" rows"))))
            .otherwise(col("__rule")).as("pred_rule"))
        val bb = graft.llm.TextAnalysis.classifyByProfile(
            batch, "doc_id", "text", profiles, n = 3, topM = 100)
          .select(col("doc_id"), col("lang_pred").as("pred_trained"))
        // ONE batch-grain aggregate (r12 verdict ask #2: the old form ran
        // three independent aggregates — agreement, drift marginals, and
        // the bucket min — each re-deriving rule/trained predictions over
        // the batch). classifyByProfile emits exactly one row per input
        // doc (left join + fallback) and both prediction columns are
        // non-null by construction, so with doc_id a key (asserted in
        // `ba`) the inner join is a bijection onto the batch and every
        // downstream statistic derives EXACTLY from this one
        // (pred_rule, pred_trained) contingency:
        //  - agreement: the same cells partitionAgreementPpm would build
        //  - drift marginals: n_a(la) = Σ_b nij(la, b)
        //  - bucket: min over cells of the per-cell min
        val cells = ba.join(bb, "doc_id")
          .select(col("pred_rule").cast("string").as("__a"),
            col("pred_trained").cast("string").as("__b"),
            pmod(col("doc_id"), lit(4)).as("__bucket"))
          .where(col("__a").isNotNull && col("__b").isNotNull)
          .groupBy(col("__a"), col("__b"))
          .agg(count(lit(1)).as("__nij"), min(col("__bucket")).as("__bmin"))
          .localCheckpoint() // ≤ |langs|² rows; consumed by all three stats
        val agree = graft.ops.Agreement.partitionAgreementPpmFromCells(
            cells.select(col("__a"), col("__b"), col("__nij")))
          .select(col("n"), col("ari_ppm"))
        val drift = graft.ops.Stats.categoryDriftFromCounts(
            cells.groupBy(col("__a").as("la"))
              .agg(sum(col("__nij")).as("n_a")),
            baselineCounts, "la")
          .agg(max(col("delta_pm")).as("max_delta_pm"))
        val meta = cells.agg(min(col("__bmin")).as("bucket"))
        val row = meta.crossJoin(agree).crossJoin(drift)
        if (store.exists("mon.drift")) store.append("mon.drift", row)
        else store.overwrite("mon.drift", row)
      }, options = Map("maxFilesPerTrigger" -> "1"))
    profiles.unpersist(false)
    store.read("mon.drift")
      .select(col("bucket"), col("n"), col("ari_ppm"),
        col("max_delta_pm"))
  }

  // STREAMING WEIGHTED-KAPPA CANARY (round-12 verdict ask #7): q365
  // monitors whether the rule and trained langid classifiers still
  // AGREE per micro-batch; this is its ORDINAL companion — per
  // arriving batch, Cohen's linear-weighted kappa between two FROZEN
  // quality banders (char-length bands vs whitespace-token bands,
  // both clamped to 5 ordinal levels — the q356/q361 machinery on
  // streaming data). A labeling pipeline runs exactly this: when new
  // data drifts to a regime where the cheap banders stop agreeing,
  // kappa drops in THAT batch and the canary fires before a model
  // retrains on mislabeled bands. Same harness as q365: 4 doc_id%4
  // bucket files under maxFilesPerTrigger=1, one summary row per
  // micro-batch keyed by the bucket value carried in the data
  // (order-free, oracle-checkable), bounded state.
  def q380_stream_kappa_canary(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val tmp = CoreQueries.fixtureDir("q380_docs")
    CoreQueries.rewritePartFilesOnePass(tmp, docs,
      pmod(col("doc_id"), lit(4)), 4)
    val store = new graft.io.ParquetTableStore(s,
      java.nio.file.Files.createTempDirectory("q380mon").toString)
    graft.streaming.EventStream.runStreamForeachBatch(
      s, tmp.getAbsolutePath, { (batch, _) =>
        // ONE plan per micro-batch, nothing pinned: group the batch at
        // (band_len, band_tok) cell grain, carrying each cell's bucket
        // minimum, then fold the cells into (bucket, n, kappa_w_ppm) in
        // one global aggregate. A NULL band keeps a cell of its own, so
        // the bucket is still the minimum over every batch row while
        // the kappa skips that cell.
        val row = batch.select(
            least(expr("length(text) div 200"), lit(4L)).as("__i"),
            least(expr("size(split(text, ' ')) div 40"), lit(4L))
              .as("__j"),
            pmod(col("doc_id"), lit(4)).as("__bucket"))
          .groupBy(col("__i"), col("__j"))
          .agg(count(lit(1)).as("__nij"),
            min(col("__bucket")).as("__bmin"))
          .agg(min(col("__bmin")).as("bucket"),
            graft.ops.Agreement.cellList(col("__i"), col("__j"),
              col("__nij")).as("__cells"))
          .transform(graft.ops.Agreement.weightedKappaOfCells(power = 1))
        if (store.exists("mon.kappa")) store.append("mon.kappa", row)
        else store.overwrite("mon.kappa", row)
      }, options = Map("maxFilesPerTrigger" -> "1"))
    store.read("mon.kappa")
      .select(col("bucket"), col("n"), col("kappa_w_ppm"))
  }

  // YUEN'S TRIMMED-MEANS TEST (ops/RankTests.yuenTrimmedMilli): the
  // robust companion to q304's Welch on the same purchase-vs-rest
  // comparison — 20% trim per tail, winsorized variance, so the spend
  // whales can't own the answer.
  def q360_yuen(s: SparkSession, dir: String): DataFrame =
    graft.ops.RankTests.yuenTrimmedMilli(
      t(s, dir, "events")
        .where(col("value").isNotNull && col("event_type").isNotNull)
        .select((col("event_type") === "purchase").as("flag"),
          floor(col("value") * 100).cast("long").as("cents")),
      "flag", "cents", trimPm = 200)

  // QUADRATIC KAPPA (ops/Agreement.weightedKappaPpm power=2): the
  // ordinal-leaderboard scoring standard on the same band-rater pair
  // as q356 — far misses priced quadratically.
  def q361_quadratic_kappa(s: SparkSession, dir: String): DataFrame =
    graft.ops.Agreement.weightedKappaPpm(
      t(s, dir, "events")
        .where(col("value").isNotNull && col("event_id").isNotNull)
        .select(
          least(expr("greatest(CAST(floor(value*100) AS BIGINT), 0L) div 3500"),
            lit(2L)).as("band_a"),
          (col("event_id") % 3).as("band_b")),
      "band_a", "band_b", power = 2)

  // SPECIFIC AGREEMENT (ops/Agreement.specificAgreementPpm): positive/
  // negative percent agreement of the q288 rule pair — the per-class
  // read kappa alone can't give.
  def q362_specific_agreement(s: SparkSession, dir: String): DataFrame =
    graft.ops.Agreement.specificAgreementPpm(
      t(s, dir, "events").where(col("value").isNotNull &&
          col("event_id").isNotNull)
        .select(
          (floor(col("value") * 100).cast("long") >= 3500L).as("pred_a"),
          (col("event_id") % 3 === 0).as("pred_b")),
      "pred_a", "pred_b")

  /** The three deterministic CONTINUOUS raters shared by q367: the
    * exact reading, a heavy-noise reading (±15,000 cents — ~30% of
    * the value spread, so the statistic reads well away from 1), and
    * a coarse 2,000-cent-grid instrument with a +5,000 systematic
    * offset — real disagreement AND a bias for absolute agreement to
    * penalize. */
  private def continuousRatings(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").where(col("value").isNotNull)
      .select(col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
    e.select(col("event_id").as("item"), lit("a").as("rater"),
        col("cents").as("x"))
      .unionByName(e.select(col("event_id").as("item"),
        lit("b").as("rater"),
        (col("cents") + (col("event_id") % 1000) * 30 - 15000).as("x")))
      .unionByName(e.where(col("event_id") % 13 =!= 0)
        .select(col("event_id").as("item"), lit("c").as("rater"),
          (expr("cents div 2000") * 2000 + 5000).as("x")))
  }

  // ICC(2,1) (ops/Agreement.iccPpm): absolute-agreement reliability of
  // three continuous value readings per event — the exact cents, a
  // ±15,000 deterministic-noise reading, and a coarse 2,000-cent-grid
  // instrument biased +5,000; events with event_id % 13 = 0 lose
  // rater c and exercise the incomplete-design drop path.
  def q367_icc(s: SparkSession, dir: String): DataFrame =
    graft.ops.Agreement.iccPpm(continuousRatings(s, dir),
      "item", "rater", "x", raters = 3)

  // LIN'S CCC (ops/Agreement.cccPpm): the exact cents reading vs a
  // HALF-SCALE instrument re-centered at +12,000 — Pearson calls the
  // pair a perfect 1; concordance prices BOTH the scale compression
  // AND the location shift: at sf0.01 the mean gap (x̄ ≈ 2·(ȳ−12000))
  // dominates den's (Σx−Σy)² term and drags the gate to ~0.200, far
  // below the shift-free 2s²/(s²+s²/4) = 0.8 bound.
  def q368_ccc(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").where(col("value").isNotNull)
      .select(floor(col("value") * 100).cast("long").as("cents"))
    graft.ops.Agreement.cccPpm(
      e.select(col("cents").as("x"),
        (expr("cents div 2") + 12000).as("y")),
      "x", "y")
  }

  // CRONBACH'S ALPHA (ops/Agreement.cronbachAlphaPpm): are the three
  // noisy cents-derived sub-scores one consistent "spend scale"? The
  // internal-consistency pre-check before summing them into a
  // composite quality score — each item is the shared cents signal
  // plus its own deterministic noise, so α sits in the real-battery
  // 0.9 band rather than at a degenerate 1.
  def q369_cronbach(s: SparkSession, dir: String): DataFrame =
    graft.ops.Agreement.cronbachAlphaPpm(
      t(s, dir, "events")
        .where(col("value").isNotNull && col("event_id").isNotNull &&
          col("user_id").isNotNull)
        .select(floor(col("value") * 100).cast("long").as("cents"),
          col("event_id"), col("user_id"))
        .select(expr("cents div 1000").as("s1"),
          expr("(cents + event_id % 20000) div 1000").as("s2"),
          expr("(cents + (user_id * 7) % 30000) div 1000").as("s3")),
      Seq("s1", "s2", "s3"))

  // KRIPPENDORFF'S ALPHA, INTERVAL (ops/Agreement
  // .krippendorffAlphaIntervalPpm): the q345 unequal-raters shape with
  // CONTINUOUS cents readings — rater 2 (±20,000 noise) skips
  // event_id % 11 = 0, rater 3 (systematic 0..20,000 under-read)
  // skips % 5 = 0, items at % 55 carry one rating and exercise the
  // unpairable path; squared-difference metric, so the heavy misses
  // dominate and α reads in the interior, not at 1.
  def q370_krippendorff_interval(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").where(col("value").isNotNull)
      .select(col("event_id"), col("user_id"),
        floor(col("value") * 100).cast("long").as("cents"))
    val r = e.select(col("event_id").as("item"), col("cents").as("x"))
      .unionByName(e.where(col("event_id") % 11 =!= 0)
        .select(col("event_id").as("item"),
          (col("cents") + (col("event_id") % 1000) * 40 - 20000).as("x")))
      .unionByName(e.where(col("event_id") % 5 =!= 0)
        .select(col("event_id").as("item"),
          (col("cents") - (col("user_id") % 500) * 40).as("x")))
    graft.ops.Agreement.krippendorffAlphaIntervalPpm(r, "item", "x")
  }

  // MDE² POWER PROBE (ops/Stats.mdeProbeMicro): is the user-parity
  // split big enough to detect its own observed cents gap at 5%/80%?
  // The planning readout next to q304's Welch significance and
  // q364/q366's sequential stopping rules.
  def q371_mde_probe(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.mdeProbeMicro(
      t(s, dir, "events")
        .where(col("value").isNotNull && col("user_id").isNotNull)
        .select((col("user_id") % 2 === 0).as("flag"),
          floor(col("value") * 100).cast("long").as("cents")),
      "flag", "cents")

  // BLAND–ALTMAN (ops/Agreement.blandAltmanMilli): the method-
  // comparison read on the q368 instrument pair — systematic bias,
  // limits-of-agreement variance, and the fraction of differences
  // actually inside ±2sd (the skewed cents tail drags it off the
  // normal 954k ppm).
  def q372_bland_altman(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").where(col("value").isNotNull)
      .select(floor(col("value") * 100).cast("long").as("cents"))
    graft.ops.Agreement.blandAltmanMilli(
      e.select(col("cents").as("x"),
        (expr("cents div 2") + 12000).as("y")),
      "x", "y")
  }

  // CALINSKI–HARABASZ (llm/Similarity.calinskiHarabaszMilli): internal
  // clustering quality of the q352 first-16 centroid assignment — the
  // between/within variance ratio next to q352's label-referenced ARI;
  // micro-quantized coordinate lane, per-cluster floor schedule.
  def q373_calinski_harabasz(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = graft.llm.Similarity.ivfCentroids(
      emb, "vec_id", "embedding", nlist = 16, iters = 0)
    val assign = graft.llm.Similarity.assignToCentroids(emb, cents,
        "vec_id", "embedding", "cid", "cv")
      .select(col("vec_id"), col("centroid_id"))
    graft.llm.Similarity.calinskiHarabaszMilli(
      assign.join(emb.select(col("vec_id"), col("embedding")),
        Seq("vec_id")),
      "centroid_id", "embedding")
  }

  // SIMPLIFIED SILHOUETTE (llm/Similarity.simplifiedSilhouetteMilli):
  // the per-point clustering-quality read next to q373's CH on the
  // SAME first-16 assignment — centroid-based O(n·k), squared-distance
  // metric, micro-quantized lane.
  def q374_silhouette(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cents = graft.llm.Similarity.ivfCentroids(
      emb, "vec_id", "embedding", nlist = 16, iters = 0)
    val assign = graft.llm.Similarity.assignToCentroids(emb, cents,
        "vec_id", "embedding", "cid", "cv")
      .select(col("vec_id"), col("centroid_id"))
    graft.llm.Similarity.simplifiedSilhouetteMilli(
      assign.join(emb.select(col("vec_id"), col("embedding")),
        Seq("vec_id")),
      "vec_id", "centroid_id", "embedding")
  }

  // PAIR-COUNTING PARTITION BATTERY (ops/Agreement.pairCountingPpm):
  // the uncorrected pair statistics — plain Rand, Jaccard, both
  // Wallace conditionals, Mirkin distance — on q353's exact
  // (lang, source) frame, so the battery reads next to the lambda
  // association pair: Wallace lang→source is the pair-precision of
  // "same language ⇒ same source", and ARI (q352's machinery) is what
  // chance-corrects these into one number.
  def q383_pair_counting(s: SparkSession, dir: String): DataFrame =
    graft.ops.Agreement.pairCountingPpm(
      t(s, dir, "documents")
        .where(col("lang").isNotNull && col("source").isNotNull)
        .select(col("lang"), col("source")),
      "lang", "source")

  // PURITY + BCUBED (ops/Agreement.bcubedPpm): the item-weighted
  // partition battery on the SAME (lang, source) frame as q383/q353 —
  // purity/inverse-purity by modal counts, BCubed P/R/F per Amigó's
  // extrinsic-eval standard (size-skew-honest where pair counting
  // is not). Three exact floor levels, all pinned.
  def q386_bcubed(s: SparkSession, dir: String): DataFrame =
    graft.ops.Agreement.bcubedPpm(
      t(s, dir, "documents")
        .where(col("lang").isNotNull && col("source").isNotNull)
        .select(col("lang"), col("source")),
      "lang", "source")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q386_bcubed"            -> q386_bcubed _,
    "q383_pair_counting"     -> q383_pair_counting _,
    "q374_silhouette"        -> q374_silhouette _,
    "q372_bland_altman"      -> q372_bland_altman _,
    "q373_calinski_harabasz" -> q373_calinski_harabasz _,
    "q367_icc"               -> q367_icc _,
    "q368_ccc"               -> q368_ccc _,
    "q369_cronbach"          -> q369_cronbach _,
    "q370_krippendorff_interval" -> q370_krippendorff_interval _,
    "q371_mde_probe"         -> q371_mde_probe _,
    "q360_yuen"              -> q360_yuen _,
    "q361_quadratic_kappa"   -> q361_quadratic_kappa _,
    "q362_specific_agreement" -> q362_specific_agreement _,
    "q358_luhn_pii"          -> q358_luhn_pii _,
    "q359_langid_agreement"  -> q359_langid_agreement _,
    "q365_stream_drift_monitor" -> q365_stream_drift_monitor _,
    "q380_stream_kappa_canary" -> q380_stream_kappa_canary _,
    "q352_cluster_ari"       -> q352_cluster_ari _,
    "q353_gk_lambda"         -> q353_gk_lambda _,
    "q354_t_closeness"       -> q354_t_closeness _,
    "q355_youden"            -> q355_youden _,
    "q356_weighted_kappa"    -> q356_weighted_kappa _,
    "q357_cohens_d"          -> q357_cohens_d _,
    "q342_semantic_decontam" -> q342_semantic_decontam _,
    "q343_link_prediction"   -> q343_link_prediction _,
    "q344_fleiss_kappa"      -> q344_fleiss_kappa _,
    "q345_krippendorff"      -> q345_krippendorff _,
    "q346_cliffs_delta"      -> q346_cliffs_delta _,
    "q347_kendalls_w"        -> q347_kendalls_w _,
    "q348_mcc"               -> q348_mcc _,
    "q349_brown_forsythe"    -> q349_brown_forsythe _,
    "q350_cochran_q"         -> q350_cochran_q _,
    "q351_gwet_ac1"          -> q351_gwet_ac1 _,
  )

  /** DuckDB oracles — independent SQL recomputations (HUGEINT lanes,
    * `//` floors mirroring the documented pinned-floor schedules). */
  val oracleSql: Map[String, String] = Map(
    "q386_bcubed" ->
      """WITH e AS (SELECT CAST(lang AS VARCHAR) AS a,
        |    CAST(source AS VARCHAR) AS b
        |  FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL),
        |cells AS (SELECT a, b, count(*) AS nij FROM e GROUP BY 1, 2),
        |n1 AS (SELECT CAST(coalesce(sum(nij), 0) AS HUGEINT) AS n
        |       FROM cells),
        |sa AS (SELECT count(*) AS ka, sum(mx) AS moda,
        |         sum((1000000 * sq) // m) AS bca
        |       FROM (SELECT a, sum(nij) AS m, max(nij) AS mx,
        |               sum(CAST(nij AS HUGEINT) * nij) AS sq
        |             FROM cells GROUP BY 1)),
        |sb AS (SELECT count(*) AS kb, sum(mx) AS modb,
        |         sum((1000000 * sq) // m) AS bcb
        |       FROM (SELECT b, sum(nij) AS m, max(nij) AS mx,
        |               sum(CAST(nij AS HUGEINT) * nij) AS sq
        |             FROM cells GROUP BY 1)),
        |f AS (SELECT n, ka, kb,
        |        CASE WHEN n = 0 THEN NULL
        |             ELSE (1000000 * moda) // n END AS pur,
        |        CASE WHEN n = 0 THEN NULL
        |             ELSE (1000000 * modb) // n END AS ipur,
        |        CASE WHEN n = 0 THEN NULL ELSE bca // n END AS bp,
        |        CASE WHEN n = 0 THEN NULL ELSE bcb // n END AS br
        |      FROM n1, sa, sb)
        |SELECT CAST(n AS BIGINT) AS n, CAST(ka AS BIGINT) AS k_a,
        |  CAST(kb AS BIGINT) AS k_b,
        |  CAST(pur AS BIGINT) AS purity_ppm,
        |  CAST(ipur AS BIGINT) AS inv_purity_ppm,
        |  CAST(CASE WHEN pur IS NULL OR ipur IS NULL
        |              OR pur + ipur = 0 THEN NULL
        |       ELSE (2 * pur * ipur) // (pur + ipur)
        |       END AS BIGINT) AS purity_f_ppm,
        |  CAST(bp AS BIGINT) AS bcubed_p_ppm,
        |  CAST(br AS BIGINT) AS bcubed_r_ppm,
        |  CAST(CASE WHEN bp IS NULL OR br IS NULL
        |              OR bp + br = 0 THEN NULL
        |       ELSE (2 * bp * br) // (bp + br)
        |       END AS BIGINT) AS bcubed_f_ppm
        |FROM f""".stripMargin,
    "q383_pair_counting" ->
      """WITH e AS (SELECT CAST(lang AS VARCHAR) AS a,
        |    CAST(source AS VARCHAR) AS b
        |  FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL),
        |cells AS (SELECT a, b, count(*) AS nij FROM e GROUP BY 1, 2),
        |cell AS (SELECT CAST(sum(nij) AS HUGEINT) AS n,
        |                sum(CAST(nij AS HUGEINT)*(nij - 1)) AS s2
        |         FROM cells),
        |ma AS (SELECT count(*) AS ka,
        |              sum(CAST(m AS HUGEINT)*(m - 1)) AS qa2
        |       FROM (SELECT a, sum(nij) AS m FROM cells GROUP BY 1)),
        |mb AS (SELECT count(*) AS kb,
        |              sum(CAST(m AS HUGEINT)*(m - 1)) AS qb2
        |       FROM (SELECT b, sum(nij) AS m FROM cells GROUP BY 1))
        |SELECT CAST(n AS BIGINT) AS n, CAST(ka AS BIGINT) AS k_a,
        |  CAST(kb AS BIGINT) AS k_b,
        |  CAST(CASE WHEN n < 2 THEN NULL
        |       ELSE (1000000 * (n*(n-1) - qa2 - qb2 + 2*s2))
        |            // (n*(n-1)) END AS BIGINT) AS rand_ppm,
        |  CAST(CASE WHEN qa2 + qb2 - s2 = 0 THEN NULL
        |       ELSE (1000000 * s2) // (qa2 + qb2 - s2)
        |       END AS BIGINT) AS jaccard_ppm,
        |  CAST(CASE WHEN qa2 = 0 THEN NULL
        |       ELSE (1000000 * s2) // qa2 END AS BIGINT) AS wallace_ab_ppm,
        |  CAST(CASE WHEN qb2 = 0 THEN NULL
        |       ELSE (1000000 * s2) // qb2 END AS BIGINT) AS wallace_ba_ppm,
        |  CAST(CASE WHEN n < 2 THEN NULL
        |       ELSE (1000000 * (qa2 + qb2 - 2*s2))
        |            // (n*(n-1)) END AS BIGINT) AS mirkin_ppm
        |FROM cell, ma, mb""".stripMargin,
    "q374_silhouette" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, vv,
        |    list_sum(list_transform(vv,
        |      x -> CAST(x*x AS DECIMAL(38,15)))) AS vn
        |  FROM v),
        |c AS (
        |  SELECT rn - 1 AS cid, vv AS cv, vn AS cn FROM
        |    (SELECT vv, vn,
        |       row_number() OVER (ORDER BY vec_id) AS rn FROM n)
        |  WHERE rn <= 16),
        |d AS (
        |  SELECT n.vec_id, c.cid,
        |    CAST(n.vn AS DOUBLE) + CAST(c.cn AS DOUBLE) -
        |    2.0 * CAST(list_sum(list_transform(list_zip(n.vv, c.cv),
        |      p -> CAST(p[1]*p[2] AS DECIMAL(38,15)))) AS DOUBLE) AS dist2
        |  FROM n, c),
        |a AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number()
        |      OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |    FROM d) WHERE rn = 1),
        |e2 AS (
        |  SELECT n.vec_id, a.cid AS own,
        |    generate_subscripts(n.vv, 1) AS dim,
        |    CAST(floor(unnest(n.vv) * 1000000) AS BIGINT) AS x
        |  FROM a JOIN n USING (vec_id)),
        |cd AS (SELECT own AS cc, dim, count(*) AS m,
        |         sum(CAST(x AS HUGEINT)) AS s
        |       FROM e2 GROUP BY 1, 2),
        |pc AS (SELECT e2.vec_id, e2.own, cd.cc, cd.m,
        |         sum((cd.m*CAST(e2.x AS HUGEINT) - cd.s)
        |             * (cd.m*CAST(e2.x AS HUGEINT) - cd.s)) AS anum
        |       FROM e2 JOIN cd USING (dim)
        |       GROUP BY 1, 2, 3, 4),
        |f AS (SELECT vec_id, own, cc, m,
        |        anum // (CAST(m AS HUGEINT) * m) AS fv FROM pc),
        |per AS (SELECT vec_id,
        |          max(CASE WHEN own = cc THEN fv END) AS a,
        |          min(CASE WHEN own <> cc THEN fv END) AS b,
        |          max(CASE WHEN own = cc THEN m END) AS mo,
        |          count(DISTINCT cc) AS k
        |        FROM f GROUP BY 1),
        |sm AS (SELECT k,
        |         CASE WHEN mo = 1 OR b IS NULL
        |                OR greatest(a, b) = 0 THEN 0
        |              ELSE CAST(sign(b - a) AS HUGEINT)
        |                   * ((1000 * abs(b - a)) // greatest(a, b))
        |         END AS s
        |       FROM per),
        |agg AS (SELECT count(*) AS n, max(k) AS kk, sum(s) AS ss
        |        FROM sm)
        |SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n,
        |  CAST(COALESCE(kk, 0) AS BIGINT) AS k,
        |  CAST(CASE WHEN COALESCE(n, 0) = 0 OR kk < 2 THEN NULL
        |       ELSE CAST(sign(ss) AS HUGEINT) * (abs(ss) // n)
        |       END AS BIGINT) AS silhouette_milli
        |FROM agg""".stripMargin,
    "q372_bland_altman" ->
      """WITH e AS (SELECT CAST(floor(value*100) AS BIGINT)
        |    - (CAST(floor(value*100) AS BIGINT) // 2 + 12000) AS d
        |  FROM events WHERE value IS NOT NULL),
        |st AS (SELECT count(*) AS n, sum(CAST(d AS HUGEINT)) AS t,
        |         sum(CAST(d AS HUGEINT)*d) AS q FROM e),
        |w AS (SELECT count(*) AS wn FROM e, st
        |      WHERE n >= 2
        |        AND (n*CAST(d AS HUGEINT) - t)*(n*CAST(d AS HUGEINT) - t)
        |              * (n - 1)
        |            <= 4 * n * (n*q - t*t))
        |SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n,
        |  CAST(CASE WHEN n < 2 THEN NULL
        |       ELSE CAST(sign(t) AS HUGEINT) * ((1000 * abs(t)) // n)
        |       END AS BIGINT) AS bias_milli,
        |  CAST(CASE WHEN n < 2 THEN NULL
        |       ELSE (1000 * (n*q - t*t)) // (CAST(n AS HUGEINT) * (n - 1))
        |       END AS BIGINT) AS var_milli,
        |  CAST(CASE WHEN n < 2 THEN NULL
        |       ELSE (1000000 * CAST(wn AS HUGEINT)) // n
        |       END AS BIGINT) AS within2sd_ppm
        |FROM st, w""".stripMargin,
    "q373_calinski_harabasz" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, vv,
        |    list_sum(list_transform(vv,
        |      x -> CAST(x*x AS DECIMAL(38,15)))) AS vn
        |  FROM v),
        |c AS (
        |  SELECT rn - 1 AS cid, vv AS cv, vn AS cn FROM
        |    (SELECT vv, vn,
        |       row_number() OVER (ORDER BY vec_id) AS rn FROM n)
        |  WHERE rn <= 16),
        |d AS (
        |  SELECT n.vec_id, c.cid,
        |    CAST(n.vn AS DOUBLE) + CAST(c.cn AS DOUBLE) -
        |    2.0 * CAST(list_sum(list_transform(list_zip(n.vv, c.cv),
        |      p -> CAST(p[1]*p[2] AS DECIMAL(38,15)))) AS DOUBLE) AS dist2
        |  FROM n, c),
        |a AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number()
        |      OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |    FROM d) WHERE rn = 1),
        |e2 AS (
        |  SELECT a.cid AS cc, generate_subscripts(n.vv, 1) AS dim,
        |    CAST(floor(unnest(n.vv) * 1000000) AS BIGINT) AS x
        |  FROM a JOIN n USING (vec_id)),
        |cd AS (SELECT cc, dim, count(*) AS m,
        |         sum(CAST(x AS HUGEINT)) AS s,
        |         sum(CAST(x AS HUGEINT)*x) AS q
        |       FROM e2 GROUP BY 1, 2),
        |g2 AS (SELECT dim, sum(s) AS gg, sum(m) AS nn
        |       FROM cd GROUP BY 1),
        |w AS (SELECT cc, (max(m)*sum(q) - sum(s*s))
        |               // (CAST(max(m) AS HUGEINT) * 1000000000)
        |               AS wmilli
        |      FROM cd GROUP BY 1),
        |bc AS (SELECT cd.cc, max(cd.m) AS mb, max(g2.nn) AS nn,
        |         sum((g2.nn*cd.s - cd.m*g2.gg)*(g2.nn*cd.s - cd.m*g2.gg))
        |           AS bnum
        |       FROM cd JOIN g2 USING (dim) GROUP BY 1),
        |b AS (SELECT cc, nn,
        |        bnum // (CAST(mb AS HUGEINT) * nn * nn * 1000000000)
        |          AS bmilli
        |      FROM bc),
        |f AS (SELECT count(*) AS k, max(b.nn) AS ntot,
        |        sum(w.wmilli) AS wm, sum(b.bmilli) AS bm
        |      FROM w JOIN b USING (cc))
        |SELECT CAST(COALESCE(ntot, 0) AS BIGINT) AS n,
        |  CAST(COALESCE(k, 0) AS BIGINT) AS k,
        |  CAST(wm AS BIGINT) AS w_milli,
        |  CAST(bm AS BIGINT) AS b_milli,
        |  CAST(CASE WHEN k < 2 OR ntot <= k OR wm = 0 THEN NULL
        |       ELSE (1000 * bm * (ntot - k)) // (wm * (k - 1))
        |       END AS BIGINT) AS ch_milli
        |FROM f""".stripMargin,
    "q367_icc" ->
      """WITH e AS (SELECT event_id,
        |             CAST(floor(value*100) AS BIGINT) AS cents
        |           FROM events WHERE value IS NOT NULL),
        |r0 AS (SELECT event_id AS i, 'a' AS j, cents AS x FROM e
        |      UNION ALL SELECT event_id, 'b',
        |        cents + (event_id % 1000) * 30 - 15000 FROM e
        |      UNION ALL SELECT event_id, 'c',
        |        (cents // 2000) * 2000 + 5000
        |        FROM e WHERE event_id % 13 <> 0),
        |r AS (SELECT * FROM r0
        |      WHERE i IS NOT NULL AND x IS NOT NULL),
        |pi AS (SELECT i, count(*) AS ni, sum(x) AS ri FROM r GROUP BY 1),
        |drp AS (SELECT count(*) AS nd FROM pi WHERE ni <> 3),
        |kid AS (SELECT i, ri FROM pi WHERE ni = 3),
        |ia AS (SELECT count(*) AS n, sum(CAST(ri AS HUGEINT)) AS t,
        |              sum(CAST(ri AS HUGEINT)*ri) AS p FROM kid),
        |kr AS (SELECT r.j, r.x FROM r JOIN kid ON r.i = kid.i),
        |va AS (SELECT sum(CAST(x AS HUGEINT)*x) AS s FROM kr),
        |ra AS (SELECT sum(CAST(cj AS HUGEINT)*cj) AS q FROM
        |         (SELECT j, sum(x) AS cj FROM kr GROUP BY 1)),
        |m AS (SELECT n, nd,
        |        n*p - t*t AS u, 3*q - t*t AS c,
        |        n*3*s - t*t - (n*p - t*t) - (3*q - t*t) AS e2
        |      FROM ia, va, ra, drp)
        |SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n_items,
        |  CAST(nd AS BIGINT) AS n_dropped,
        |  CAST(3 AS BIGINT) AS raters,
        |  CAST(CASE WHEN COALESCE(n, 0) < 2
        |              OR (u+e2)*n*2 + c*3*(n-1) - e2*3 = 0 THEN NULL
        |       ELSE CAST(sign(u*2 - e2) AS HUGEINT) *
        |            ((1000000 * n * abs(u*2 - e2))
        |             // ((u+e2)*n*2 + c*3*(n-1) - e2*3))
        |       END AS BIGINT) AS icc_ppm
        |FROM m""".stripMargin,
    "q368_ccc" ->
      """WITH e AS (SELECT CAST(floor(value*100) AS BIGINT) AS x,
        |    CAST(floor(value*100) AS BIGINT) // 2 + 12000 AS y
        |  FROM events WHERE value IS NOT NULL),
        |a AS (SELECT count(*) AS n,
        |        sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |        sum(CAST(x AS HUGEINT)*x) AS sxx,
        |        sum(CAST(y AS HUGEINT)*y) AS syy,
        |        sum(CAST(x AS HUGEINT)*y) AS sxy FROM e)
        |SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n,
        |  CAST(CASE WHEN COALESCE(n, 0) = 0
        |       OR n*sxx - sx*sx + n*syy - sy*sy + (sx-sy)*(sx-sy) = 0
        |       THEN NULL
        |       ELSE CAST(sign(n*sxy - sx*sy) AS HUGEINT) *
        |            ((2000000 * abs(n*sxy - sx*sy))
        |             // (n*sxx - sx*sx + n*syy - sy*sy
        |                 + (sx-sy)*(sx-sy)))
        |       END AS BIGINT) AS ccc_ppm
        |FROM a""".stripMargin,
    "q369_cronbach" ->
      """WITH e AS (SELECT CAST(floor(value*100) AS BIGINT) AS cents,
        |             event_id, user_id
        |           FROM events
        |           WHERE value IS NOT NULL AND event_id IS NOT NULL
        |             AND user_id IS NOT NULL),
        |w AS (SELECT cents // 1000 AS x0,
        |        (cents + event_id % 20000) // 1000 AS x1,
        |        (cents + (user_id * 7) % 30000) // 1000 AS x2 FROM e),
        |a AS (SELECT count(*) AS n,
        |        sum(CAST(x0+x1+x2 AS HUGEINT)) AS st,
        |        sum(CAST(x0+x1+x2 AS HUGEINT)*(x0+x1+x2)) AS stt,
        |        sum(CAST(x0 AS HUGEINT)) AS s0,
        |        sum(CAST(x0 AS HUGEINT)*x0) AS q0,
        |        sum(CAST(x1 AS HUGEINT)) AS s1,
        |        sum(CAST(x1 AS HUGEINT)*x1) AS q1,
        |        sum(CAST(x2 AS HUGEINT)) AS s2,
        |        sum(CAST(x2 AS HUGEINT)*x2) AS q2 FROM w),
        |m AS (SELECT n, n*stt - st*st AS vt,
        |        (n*q0 - s0*s0) + (n*q1 - s1*s1) + (n*q2 - s2*s2) AS vi
        |      FROM a)
        |SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n_rows,
        |  CAST(3 AS BIGINT) AS k,
        |  CAST(CASE WHEN COALESCE(n, 0) < 2 OR vt = 0 THEN NULL
        |       ELSE CAST(sign(vt - vi) AS HUGEINT) *
        |            ((1000000 * 3 * abs(vt - vi)) // (2 * vt))
        |       END AS BIGINT) AS alpha_ppm
        |FROM m""".stripMargin,
    "q370_krippendorff_interval" ->
      """WITH e AS (SELECT event_id, user_id,
        |             CAST(floor(value*100) AS BIGINT) AS cents
        |           FROM events WHERE value IS NOT NULL),
        |r0 AS (SELECT event_id AS i, cents AS x FROM e
        |      UNION ALL SELECT event_id,
        |        cents + (event_id % 1000) * 40 - 20000
        |        FROM e WHERE event_id % 11 <> 0
        |      UNION ALL SELECT event_id,
        |        cents - (user_id % 500) * 40
        |        FROM e WHERE event_id % 5 <> 0),
        |r AS (SELECT * FROM r0
        |      WHERE i IS NOT NULL AND x IS NOT NULL),
        |pi AS (SELECT i, count(*) AS ni, sum(CAST(x AS HUGEINT)) AS ti,
        |              sum(CAST(x AS HUGEINT)*x) AS si FROM r GROUP BY 1),
        |unp AS (SELECT count(*) AS nu FROM pi WHERE ni < 2),
        |kept AS (SELECT * FROM pi WHERE ni >= 2),
        |do_ AS (SELECT sum(ni) AS n,
        |          sum((1000000 * 2 * (ni * si - ti*ti)) // (ni - 1)) AS dom,
        |          sum(ti) AS t, sum(si) AS s FROM kept)
        |SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n_values,
        |  CAST(nu AS BIGINT) AS n_unpairable,
        |  CAST(CASE WHEN COALESCE(n, 0) = 0
        |              OR CAST(n AS HUGEINT)*s = t*t THEN NULL
        |       ELSE 1000000 - (dom * (n - 1))
        |            // (2 * (CAST(n AS HUGEINT)*s - t*t))
        |       END AS BIGINT) AS alpha_ppm
        |FROM do_, unp""".stripMargin,
    "q371_mde_probe" ->
      """WITH e AS (SELECT user_id % 2 = 0 AS f,
        |             CAST(floor(value*100) AS BIGINT) AS x
        |           FROM events
        |           WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |a AS (SELECT
        |        sum(CASE WHEN f THEN 1 ELSE 0 END) AS na,
        |        sum(CASE WHEN NOT f THEN 1 ELSE 0 END) AS nb,
        |        sum(CASE WHEN f THEN CAST(x AS HUGEINT) ELSE 0 END) AS sa,
        |        sum(CASE WHEN NOT f THEN CAST(x AS HUGEINT) ELSE 0 END) AS sb,
        |        sum(CASE WHEN f THEN CAST(x AS HUGEINT)*x ELSE 0 END) AS qa,
        |        sum(CASE WHEN NOT f THEN CAST(x AS HUGEINT)*x ELSE 0 END) AS qb
        |      FROM e),
        |m AS (SELECT na, nb,
        |        CASE WHEN na < 2 OR nb < 2 THEN NULL ELSE
        |          (7849 * ((1000000 * (na*qa - sa*sa)) // (na*na*(na-1))
        |                 + (1000000 * (nb*qb - sb*sb)) // (nb*nb*(nb-1))))
        |          // 1000 END AS mde2,
        |        CASE WHEN na < 2 OR nb < 2 THEN NULL ELSE
        |          (1000 * abs(sa*nb - sb*na)) // (na*nb) END AS d
        |      FROM a)
        |SELECT CAST(COALESCE(na, 0) AS BIGINT) AS n_a,
        |  CAST(COALESCE(nb, 0) AS BIGINT) AS n_b,
        |  CAST(mde2 AS BIGINT) AS mde2_micro,
        |  CAST(d*d AS BIGINT) AS diff2_micro,
        |  CAST(CASE WHEN mde2 IS NULL THEN NULL
        |            WHEN d*d >= mde2 THEN 1 ELSE 0
        |       END AS BIGINT) AS powered
        |FROM m""".stripMargin,
    "q361_quadratic_kappa" ->
      """WITH e AS (SELECT
        |    least(greatest(CAST(floor(value*100) AS BIGINT), 0) // 3500,
        |          2) AS i,
        |    event_id % 3 AS j
        |  FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |cells AS (SELECT i, j, count(*) AS nij FROM e GROUP BY 1, 2),
        |obs AS (SELECT sum(nij) AS n,
        |          sum(CAST((i - j)*(i - j) AS HUGEINT) * nij) AS wo
        |        FROM cells),
        |ma AS (SELECT i, sum(nij) AS r FROM cells GROUP BY 1),
        |mb AS (SELECT j, sum(nij) AS c FROM cells GROUP BY 1),
        |ex AS (SELECT sum(CAST((ma.i - mb.j)*(ma.i - mb.j) AS HUGEINT)
        |                  * ma.r * mb.c) AS we
        |       FROM ma, mb)
        |SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n,
        |  CAST(CASE WHEN we IS NULL OR we = 0 THEN NULL
        |       ELSE 1000000 - (1000000 * CAST(n AS HUGEINT) * wo) // we
        |       END AS BIGINT) AS kappa_w_ppm
        |FROM obs, ex""".stripMargin,
    "q362_specific_agreement" ->
      """WITH e AS (SELECT
        |    CAST(floor(value*100) AS BIGINT) >= 3500 AS a,
        |    event_id % 3 = 0 AS b
        |  FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |agg AS (SELECT count(*) AS n,
        |  sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS bp,
        |  sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS bn,
        |  sum(CASE WHEN a <> b THEN 1 ELSE 0 END) AS dc FROM e)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(bp AS BIGINT) AS both_pos, CAST(bn AS BIGINT) AS both_neg,
        |  CAST(dc AS BIGINT) AS discordant,
        |  CAST(CASE WHEN 2*bp + dc = 0 THEN NULL
        |       ELSE (1000000 * 2 * bp) // (2*bp + dc)
        |       END AS BIGINT) AS pa_ppm,
        |  CAST(CASE WHEN 2*bn + dc = 0 THEN NULL
        |       ELSE (1000000 * 2 * bn) // (2*bn + dc)
        |       END AS BIGINT) AS na_ppm
        |FROM agg""".stripMargin,
    "q360_yuen" ->
      """WITH e AS (SELECT event_type = 'purchase' AS f,
        |             CAST(floor(value*100) AS BIGINT) AS v
        |           FROM events
        |           WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |h AS (SELECT f, v, count(*) AS c FROM e GROUP BY 1, 2),
        |tot AS (SELECT f, sum(c) AS n, (sum(c)*200) // 1000 AS g
        |        FROM h GROUP BY 1),
        |cu AS (SELECT h.f, h.v, h.c,
        |         sum(h.c) OVER (PARTITION BY h.f ORDER BY h.v) AS cum,
        |         tot.n, tot.g
        |       FROM h JOIN tot USING (f)),
        |r AS (SELECT f, v, c, n, g, cum,
        |        greatest(0, least(cum, n - g) - greatest(cum - c, g))
        |          AS ret
        |      FROM cu),
        |agg AS (SELECT f, max(n) AS n, max(g) AS g,
        |          sum(CAST(ret AS HUGEINT) * v) AS ts,
        |          sum(CAST(ret AS HUGEINT) * v * v) AS tq,
        |          min(CASE WHEN cum >= g + 1 THEN v END) AS vlo,
        |          min(CASE WHEN cum >= n - g THEN v END) AS vhi
        |        FROM r GROUP BY 1),
        |k AS (SELECT f, n, n - 2*g AS h2, ts,
        |        ((tq + g*(CAST(vlo AS HUGEINT)*vlo + CAST(vhi AS HUGEINT)*vhi)) * n
        |         - (ts + g*(CAST(vlo AS HUGEINT) + vhi))
        |           * (ts + g*(CAST(vlo AS HUGEINT) + vhi))) AS a
        |      FROM agg),
        |p AS (SELECT
        |  max(CASE WHEN f THEN n END) AS na,
        |  max(CASE WHEN NOT f THEN n END) AS nb,
        |  max(CASE WHEN f THEN h2 END) AS ha,
        |  max(CASE WHEN NOT f THEN h2 END) AS hb,
        |  max(CASE WHEN f THEN ts END) AS tsa,
        |  max(CASE WHEN NOT f THEN ts END) AS tsb,
        |  max(CASE WHEN f THEN a END) AS aa,
        |  max(CASE WHEN NOT f THEN a END) AS ab
        |  FROM k)
        |SELECT CAST(COALESCE(na, 0) AS BIGINT) AS n_a,
        |  CAST(COALESCE(nb, 0) AS BIGINT) AS n_b,
        |  CAST(COALESCE(ha, 0) AS BIGINT) AS h_a,
        |  CAST(COALESCE(hb, 0) AS BIGINT) AS h_b,
        |  CAST(CASE WHEN na IS NULL OR nb IS NULL THEN 0
        |       ELSE sign(tsa*hb - tsb*ha) END AS BIGINT) AS sign,
        |  CAST(CASE WHEN na IS NULL OR nb IS NULL OR ha < 2 OR hb < 2
        |            THEN NULL
        |       WHEN (1000000*aa) // (CAST(na AS HUGEINT)*ha*(ha-1))
        |          + (1000000*ab) // (CAST(nb AS HUGEINT)*hb*(hb-1)) = 0
        |            THEN NULL
        |       ELSE (1000
        |             * ((1000000*abs(tsa*hb - tsb*ha)) // (CAST(ha AS HUGEINT)*hb))
        |             * ((1000000*abs(tsa*hb - tsb*ha)) // (CAST(ha AS HUGEINT)*hb)))
        |            // (1000000 *
        |               ((1000000*aa) // (CAST(na AS HUGEINT)*ha*(ha-1))
        |                + (1000000*ab) // (CAST(nb AS HUGEINT)*hb*(hb-1))))
        |       END AS BIGINT) AS t2_milli
        |FROM p""".stripMargin,
    "q358_luhn_pii" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT 9000001,
        |    'pay with 4111111111111111 or 5500005555555559 today'
        |  UNION ALL SELECT 9000002,
        |    'invalid 4111111111111112 next to order 12345678901234567890 and id 123456789012'
        |  UNION ALL SELECT 9000003,
        |    'mixed 4012888888881881 ok and 79927398714 short'),
        |c AS (SELECT doc_id,
        |        list_filter(regexp_extract_all(text, '[0-9]+'),
        |          x -> len(x) BETWEEN 13 AND 19) AS cand
        |      FROM corpus)
        |SELECT doc_id, CAST(len(cand) AS BIGINT) AS n_candidates,
        |  CAST(len(list_filter(cand, x ->
        |    list_sum(list_transform(range(1, len(x)+1), i ->
        |      CASE WHEN i % 2 = 1
        |           THEN CAST(substring(reverse(x), i, 1) AS INT)
        |           ELSE CASE
        |             WHEN CAST(substring(reverse(x), i, 1) AS INT)*2 > 9
        |             THEN CAST(substring(reverse(x), i, 1) AS INT)*2 - 9
        |             ELSE CAST(substring(reverse(x), i, 1) AS INT)*2 END
        |      END)) % 10 = 0)) AS BIGINT) AS n_valid
        |FROM c""".stripMargin,
    "q380_stream_kappa_canary" ->
      """WITH e AS (SELECT doc_id % 4 AS bucket,
        |    least(length(text) // 200, 4) AS i,
        |    least(len(string_split(text, ' ')) // 40, 4) AS j
        |  FROM documents),
        |cells AS (SELECT bucket, i, j, count(*) AS nij
        |          FROM e GROUP BY 1, 2, 3),
        |obs AS (SELECT bucket, sum(nij) AS n,
        |          sum(CAST(abs(i - j) AS HUGEINT) * nij) AS wo
        |        FROM cells GROUP BY 1),
        |ma AS (SELECT bucket, i, sum(nij) AS r FROM cells GROUP BY 1, 2),
        |mb AS (SELECT bucket, j, sum(nij) AS c FROM cells GROUP BY 1, 2),
        |ex AS (SELECT ma.bucket,
        |         sum(CAST(abs(ma.i - mb.j) AS HUGEINT) * ma.r * mb.c)
        |           AS we
        |       FROM ma JOIN mb ON ma.bucket = mb.bucket GROUP BY 1)
        |SELECT CAST(obs.bucket AS BIGINT) AS bucket,
        |  CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN we IS NULL OR we = 0 THEN NULL
        |       ELSE 1000000 - (1000000 * CAST(n AS HUGEINT) * wo) // we
        |       END AS BIGINT) AS kappa_w_ppm
        |FROM obs JOIN ex ON obs.bucket = ex.bucket""".stripMargin,
    "q365_stream_drift_monitor" ->
      """WITH ra AS (
        |  SELECT doc_id,
        |    CASE WHEN mx.h > 0 THEN mx.lang ELSE 'und' END AS la
        |  FROM (SELECT doc_id, max(struct_pack(h := h, lang := lang)) AS mx
        |        FROM (
        |    SELECT doc_id, 'en' AS lang,
        |      CAST(len(regexp_extract_all(text, '(?i)\b(the|and|of|to|is|in|that|it)\b')) AS INT) AS h FROM documents
        |    UNION ALL SELECT doc_id, 'de',
        |      CAST(len(regexp_extract_all(text, '(?i)\b(der|die|das|und|ist|nicht|ein|zu)\b')) AS INT) FROM documents
        |    UNION ALL SELECT doc_id, 'fr',
        |      CAST(len(regexp_extract_all(text, '(?i)\b(le|la|les|et|est|une|que|dans)\b')) AS INT) FROM documents
        |    UNION ALL SELECT doc_id, 'es',
        |      CAST(len(regexp_extract_all(text, '(?i)\b(el|los|las|es|una|que|por|con)\b')) AS INT) FROM documents
        |    UNION ALL SELECT doc_id, 'zh',
        |      CAST(len(regexp_extract_all(text, '(的|是|了|在|我|有|他|不)')) AS INT) FROM documents)
        |        GROUP BY doc_id)),
        |lt AS (SELECT doc_id, lang, lower(text) AS lt FROM documents),
        |g AS (SELECT doc_id, lang, substring(lt, i, 3) AS gram
        |      FROM (SELECT doc_id, lang, lt,
        |              unnest(generate_series(1, greatest(len(lt)-2, 0))) AS i
        |            FROM lt)),
        |prof AS (SELECT label, gram, rank FROM (
        |    SELECT lang AS label, gram, row_number()
        |      OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rank
        |    FROM (SELECT lang, gram, count(*) AS cnt FROM g GROUP BY 1,2))
        |  WHERE rank <= 100),
        |dg AS (SELECT doc_id, gram, count(*) AS dc FROM g GROUP BY 1,2),
        |sc AS (SELECT doc_id, label, sum(dc * (101 - rank)) AS score
        |       FROM dg JOIN prof USING (gram) GROUP BY 1,2),
        |best AS (SELECT doc_id, label FROM (
        |    SELECT doc_id, label, row_number()
        |      OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rn
        |    FROM sc) WHERE rn = 1),
        |rb AS (SELECT d.doc_id, coalesce(b.label, 'und') AS lb
        |       FROM documents d LEFT JOIN best b USING (doc_id)),
        |bk AS (SELECT ra.doc_id, ra.doc_id % 4 AS bucket, ra.la, rb.lb
        |       FROM ra JOIN rb USING (doc_id)),
        |cells AS (SELECT bucket, la, lb, count(*) AS nij
        |          FROM bk GROUP BY 1, 2, 3),
        |cell AS (SELECT bucket, CAST(sum(nij) AS HUGEINT) AS n,
        |                sum(CAST(nij AS HUGEINT)*(nij - 1)) AS p2
        |         FROM cells GROUP BY 1),
        |ma AS (SELECT bucket, sum(CAST(m AS HUGEINT)*(m - 1)) AS qa2
        |       FROM (SELECT bucket, la, sum(nij) AS m FROM cells
        |             GROUP BY 1, 2) GROUP BY 1),
        |mb AS (SELECT bucket, sum(CAST(m AS HUGEINT)*(m - 1)) AS qb2
        |       FROM (SELECT bucket, lb, sum(nij) AS m FROM cells
        |             GROUP BY 1, 2) GROUP BY 1),
        |ari AS (SELECT cell.bucket, cell.n,
        |          CASE WHEN cell.n < 2
        |                 OR cell.n*(cell.n-1)*(qa2 + qb2) - 2*qa2*qb2 = 0
        |               THEN NULL
        |          ELSE CAST(sign(2*p2*(cell.n*(cell.n-1)) - 2*qa2*qb2)
        |                    AS HUGEINT)
        |            * ((1000000 * abs(2*p2*(cell.n*(cell.n-1)) - 2*qa2*qb2))
        |               // (cell.n*(cell.n-1)*(qa2 + qb2) - 2*qa2*qb2))
        |          END AS ari
        |        FROM cell JOIN ma USING (bucket) JOIN mb USING (bucket)),
        |bm AS (SELECT bucket, la, count(*) AS c FROM bk GROUP BY 1, 2),
        |bt AS (SELECT bucket, sum(c) AS w FROM bm GROUP BY 1),
        |fm AS (SELECT la, count(*) AS c FROM ra GROUP BY 1),
        |ft AS (SELECT sum(c) AS w FROM fm),
        |grid AS (SELECT DISTINCT bt.bucket, fm.la FROM bt, fm),
        |dr AS (SELECT grid.bucket,
        |         max(abs((1000 * coalesce(bm.c, 0)) // bt.w
        |                 - (1000 * fm.c) // ft.w)) AS mx
        |       FROM grid
        |         JOIN fm ON grid.la = fm.la
        |         JOIN bt ON bt.bucket = grid.bucket
        |         LEFT JOIN bm ON bm.bucket = grid.bucket
        |                     AND bm.la = grid.la, ft
        |       GROUP BY 1)
        |SELECT CAST(ari.bucket AS BIGINT) AS bucket,
        |  CAST(ari.n AS BIGINT) AS n,
        |  CAST(ari.ari AS BIGINT) AS ari_ppm,
        |  CAST(dr.mx AS BIGINT) AS max_delta_pm
        |FROM ari JOIN dr ON dr.bucket = ari.bucket""".stripMargin,
    "q359_langid_agreement" ->
      """WITH ra AS (
        |  SELECT doc_id,
        |    CASE WHEN mx.h > 0 THEN mx.lang ELSE 'und' END AS la
        |  FROM (SELECT doc_id, max(struct_pack(h := h, lang := lang)) AS mx
        |        FROM (
        |    SELECT doc_id, 'en' AS lang,
        |      CAST(len(regexp_extract_all(text, '(?i)\b(the|and|of|to|is|in|that|it)\b')) AS INT) AS h FROM documents
        |    UNION ALL SELECT doc_id, 'de',
        |      CAST(len(regexp_extract_all(text, '(?i)\b(der|die|das|und|ist|nicht|ein|zu)\b')) AS INT) FROM documents
        |    UNION ALL SELECT doc_id, 'fr',
        |      CAST(len(regexp_extract_all(text, '(?i)\b(le|la|les|et|est|une|que|dans)\b')) AS INT) FROM documents
        |    UNION ALL SELECT doc_id, 'es',
        |      CAST(len(regexp_extract_all(text, '(?i)\b(el|los|las|es|una|que|por|con)\b')) AS INT) FROM documents
        |    UNION ALL SELECT doc_id, 'zh',
        |      CAST(len(regexp_extract_all(text, '(的|是|了|在|我|有|他|不)')) AS INT) FROM documents)
        |        GROUP BY doc_id)),
        |lt AS (SELECT doc_id, lang, lower(text) AS lt FROM documents),
        |g AS (SELECT doc_id, lang, substring(lt, i, 3) AS gram
        |      FROM (SELECT doc_id, lang, lt,
        |              unnest(generate_series(1, greatest(len(lt)-2, 0))) AS i
        |            FROM lt)),
        |prof AS (SELECT label, gram, rank FROM (
        |    SELECT lang AS label, gram, row_number()
        |      OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rank
        |    FROM (SELECT lang, gram, count(*) AS cnt FROM g GROUP BY 1,2))
        |  WHERE rank <= 100),
        |dg AS (SELECT doc_id, gram, count(*) AS dc FROM g GROUP BY 1,2),
        |sc AS (SELECT doc_id, label, sum(dc * (101 - rank)) AS score
        |       FROM dg JOIN prof USING (gram) GROUP BY 1,2),
        |best AS (SELECT doc_id, label FROM (
        |    SELECT doc_id, label, row_number()
        |      OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rn
        |    FROM sc) WHERE rn = 1),
        |rb AS (SELECT d.doc_id, coalesce(b.label, 'und') AS lb
        |       FROM documents d LEFT JOIN best b USING (doc_id)),
        |cells AS (SELECT ra.la, rb.lb, count(*) AS nij
        |          FROM ra JOIN rb USING (doc_id) GROUP BY 1, 2),
        |cell AS (SELECT CAST(sum(nij) AS HUGEINT) AS n,
        |                sum(CAST(nij AS HUGEINT)*(nij - 1)) AS p2
        |         FROM cells),
        |ma AS (SELECT count(*) AS ka,
        |              sum(CAST(m AS HUGEINT)*(m - 1)) AS qa2
        |       FROM (SELECT la, sum(nij) AS m FROM cells GROUP BY 1)),
        |mb AS (SELECT count(*) AS kb,
        |              sum(CAST(m AS HUGEINT)*(m - 1)) AS qb2
        |       FROM (SELECT lb, sum(nij) AS m FROM cells GROUP BY 1))
        |SELECT CAST(n AS BIGINT) AS n, CAST(ka AS BIGINT) AS k_a,
        |  CAST(kb AS BIGINT) AS k_b,
        |  CAST(CASE WHEN n < 2
        |              OR n*(n-1)*(qa2 + qb2) - 2*qa2*qb2 = 0 THEN NULL
        |       ELSE CAST(sign(2*p2*(n*(n-1)) - 2*qa2*qb2) AS HUGEINT)
        |            * ((1000000 * abs(2*p2*(n*(n-1)) - 2*qa2*qb2))
        |               // (n*(n-1)*(qa2 + qb2) - 2*qa2*qb2))
        |       END AS BIGINT) AS ari_ppm,
        |  CAST(CASE WHEN qa2 = 0 OR qb2 = 0 THEN NULL
        |       ELSE (1000000 * p2 * p2) // (qa2 * qb2)
        |       END AS BIGINT) AS fm2_ppm
        |FROM cell, ma, mb""".stripMargin,
    "q356_weighted_kappa" ->
      """WITH e AS (SELECT
        |    least(greatest(CAST(floor(value*100) AS BIGINT), 0) // 3500,
        |          2) AS i,
        |    event_id % 3 AS j
        |  FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |cells AS (SELECT i, j, count(*) AS nij FROM e GROUP BY 1, 2),
        |obs AS (SELECT sum(nij) AS n,
        |          sum(CAST(abs(i - j) AS HUGEINT) * nij) AS wo
        |        FROM cells),
        |ma AS (SELECT i, sum(nij) AS r FROM cells GROUP BY 1),
        |mb AS (SELECT j, sum(nij) AS c FROM cells GROUP BY 1),
        |ex AS (SELECT sum(CAST(abs(ma.i - mb.j) AS HUGEINT)
        |                  * ma.r * mb.c) AS we
        |       FROM ma, mb)
        |SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n,
        |  CAST(CASE WHEN we IS NULL OR we = 0 THEN NULL
        |       ELSE 1000000 - (1000000 * CAST(n AS HUGEINT) * wo) // we
        |       END AS BIGINT) AS kappa_w_ppm
        |FROM obs, ex""".stripMargin,
    "q357_cohens_d" ->
      """WITH e AS (SELECT event_type = 'purchase' AS f,
        |             CAST(floor(value*100) AS BIGINT) AS v
        |           FROM events
        |           WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |a AS (SELECT
        |  sum(CASE WHEN f THEN 1 ELSE 0 END) AS na,
        |  sum(CASE WHEN NOT f THEN 1 ELSE 0 END) AS nb,
        |  sum(CASE WHEN f THEN CAST(v AS HUGEINT) ELSE 0 END) AS sa,
        |  sum(CASE WHEN NOT f THEN CAST(v AS HUGEINT) ELSE 0 END) AS sb,
        |  sum(CASE WHEN f THEN CAST(v AS HUGEINT)*v ELSE 0 END) AS qa,
        |  sum(CASE WHEN NOT f THEN CAST(v AS HUGEINT)*v ELSE 0 END) AS qb
        |  FROM e)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(CASE WHEN na = 0 OR nb = 0 THEN 0
        |       ELSE sign(sa*nb - sb*na) END AS BIGINT) AS sign,
        |  CAST(CASE WHEN na = 0 OR nb = 0 OR na + nb < 3
        |              OR (qa*na - sa*sa)*nb + (qb*nb - sb*sb)*na = 0
        |            THEN NULL
        |       ELSE (1000 * (sa*nb - sb*na) * (sa*nb - sb*na)
        |             * (na + nb - 2))
        |            // (CAST(na AS HUGEINT) * nb
        |               * ((qa*na - sa*sa)*nb + (qb*nb - sb*sb)*na))
        |       END AS BIGINT) AS d2_milli
        |FROM a""".stripMargin,
    "q354_t_closeness" ->
      """WITH cells AS (
        |  SELECT c_nationkey AS q1, c_mktsegment AS q2,
        |    (CAST(floor(c_acctbal) AS BIGINT) + 1000) // 2000 AS b,
        |    count(*) AS c
        |  FROM customer
        |  WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
        |    AND c_acctbal IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |gl AS (SELECT b, sum(c) AS gc FROM cells GROUP BY 1),
        |gcum AS (SELECT b, sum(gc) OVER (ORDER BY b) AS gcum FROM gl),
        |tot AS (SELECT sum(gc) AS nn, count(*) AS bb FROM gl),
        |grp AS (SELECT q1, q2, sum(c) AS n FROM cells GROUP BY 1, 2),
        |grid AS (SELECT grp.q1, grp.q2, grp.n, gcum.b, gcum.gcum
        |         FROM grp, gcum),
        |gc2 AS (SELECT grid.q1, grid.q2, grid.n, grid.b, grid.gcum,
        |          COALESCE(cells.c, 0) AS c
        |        FROM grid LEFT JOIN cells
        |          ON cells.q1 = grid.q1 AND cells.q2 = grid.q2
        |         AND cells.b = grid.b),
        |cum AS (SELECT q1, q2, n, b, gcum,
        |          sum(c) OVER (PARTITION BY q1, q2 ORDER BY b) AS cum
        |        FROM gc2),
        |per AS (SELECT q1, q2, max(n) AS n,
        |          sum(abs(CAST(cum AS HUGEINT)*tot.nn
        |                  - CAST(gcum AS HUGEINT)*n)) AS s,
        |          max(tot.nn) AS nn, max(tot.bb) AS bb
        |        FROM cum, tot GROUP BY 1, 2),
        |pt AS (SELECT n,
        |         CASE WHEN bb < 2 THEN 0
        |         ELSE (1000000 * s) // (CAST(n AS HUGEINT)*nn*(bb - 1))
        |         END AS t, bb
        |       FROM per),
        |ex AS (SELECT count(*) AS nex FROM customer
        |       WHERE c_nationkey IS NULL OR c_mktsegment IS NULL
        |          OR c_acctbal IS NULL)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(max(ex.nex) AS BIGINT) AS n_excluded,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(max(bb) AS BIGINT) AS n_buckets,
        |  CAST(max(t) AS BIGINT) AS max_t_ppm,
        |  CAST(sum(CASE WHEN t > 250000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS viol_groups
        |FROM pt, ex""".stripMargin,
    "q355_youden" ->
      """WITH e AS (SELECT CAST(floor(value*100) AS BIGINT) AS s,
        |             event_type = 'purchase' AS y
        |           FROM events
        |           WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |h AS (SELECT s, count(*) AS w,
        |             sum(CASE WHEN y THEN 1 ELSE 0 END) AS p
        |      FROM e GROUP BY 1),
        |c AS (SELECT s, sum(w) OVER (ORDER BY s DESC) AS cw,
        |             sum(p) OVER (ORDER BY s DESC) AS cp FROM h),
        |tot AS (SELECT sum(w) AS n, sum(p) AS pos FROM h),
        |pts AS (SELECT s AS threshold, cp AS tp, cw - cp AS fp,
        |          (1000000*cp) // pos AS tpr,
        |          (1000000*(cw - cp)) // (n - pos) AS fpr
        |        FROM c, tot WHERE pos > 0 AND n > pos)
        |, best AS (SELECT threshold, tp, fp, tpr, fpr, tpr - fpr AS j
        |           FROM pts ORDER BY tpr - fpr DESC, threshold ASC
        |           LIMIT 1)
        |SELECT CAST(max(threshold) AS BIGINT) AS threshold,
        |  CAST(max(tp) AS BIGINT) AS tp, CAST(max(fp) AS BIGINT) AS fp,
        |  CAST(max(tpr) AS BIGINT) AS tpr_ppm,
        |  CAST(max(fpr) AS BIGINT) AS fpr_ppm,
        |  CAST(max(j) AS BIGINT) AS j_ppm
        |FROM best""".stripMargin,
    "q352_cluster_ari" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, label, vv,
        |    list_sum(list_transform(vv,
        |      x -> CAST(x*x AS DECIMAL(38,15)))) AS vn
        |  FROM v),
        |c AS (
        |  SELECT rn - 1 AS cid, vv AS cv, vn AS cn FROM
        |    (SELECT vv, vn,
        |       row_number() OVER (ORDER BY vec_id) AS rn FROM n)
        |  WHERE rn <= 16),
        |d AS (
        |  SELECT n.vec_id, c.cid,
        |    CAST(n.vn AS DOUBLE) + CAST(c.cn AS DOUBLE) -
        |    2.0 * CAST(list_sum(list_transform(list_zip(n.vv, c.cv),
        |      p -> CAST(p[1]*p[2] AS DECIMAL(38,15)))) AS DOUBLE) AS dist2
        |  FROM n, c),
        |a AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number()
        |      OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |    FROM d) WHERE rn = 1),
        |cells AS (SELECT a.cid, n.label, count(*) AS nij
        |          FROM a JOIN n USING (vec_id) GROUP BY 1, 2),
        |cell AS (SELECT CAST(sum(nij) AS HUGEINT) AS n,
        |                sum(CAST(nij AS HUGEINT)*(nij - 1)) AS p2
        |         FROM cells),
        |ma AS (SELECT count(*) AS ka,
        |              sum(CAST(m AS HUGEINT)*(m - 1)) AS qa2
        |       FROM (SELECT cid, sum(nij) AS m FROM cells GROUP BY 1)),
        |mb AS (SELECT count(*) AS kb,
        |              sum(CAST(m AS HUGEINT)*(m - 1)) AS qb2
        |       FROM (SELECT label, sum(nij) AS m FROM cells GROUP BY 1))
        |SELECT CAST(n AS BIGINT) AS n, CAST(ka AS BIGINT) AS k_a,
        |  CAST(kb AS BIGINT) AS k_b,
        |  CAST(CASE WHEN n < 2
        |              OR n*(n-1)*(qa2 + qb2) - 2*qa2*qb2 = 0 THEN NULL
        |       ELSE CAST(sign(2*p2*(n*(n-1)) - 2*qa2*qb2) AS HUGEINT)
        |            * ((1000000 * abs(2*p2*(n*(n-1)) - 2*qa2*qb2))
        |               // (n*(n-1)*(qa2 + qb2) - 2*qa2*qb2))
        |       END AS BIGINT) AS ari_ppm,
        |  CAST(CASE WHEN qa2 = 0 OR qb2 = 0 THEN NULL
        |       ELSE (1000000 * p2 * p2) // (qa2 * qb2)
        |       END AS BIGINT) AS fm2_ppm
        |FROM cell, ma, mb""".stripMargin,
    "q353_gk_lambda" ->
      """WITH cells AS (SELECT lang AS a, source AS b, count(*) AS nij
        |               FROM documents
        |               WHERE lang IS NOT NULL AND source IS NOT NULL
        |               GROUP BY 1, 2),
        |rm AS (SELECT sum(m) AS rowmax FROM
        |         (SELECT a, max(nij) AS m FROM cells GROUP BY 1)),
        |cm AS (SELECT sum(m) AS colmax FROM
        |         (SELECT b, max(nij) AS m FROM cells GROUP BY 1)),
        |mga AS (SELECT max(m) AS maxa FROM
        |          (SELECT a, sum(nij) AS m FROM cells GROUP BY 1)),
        |mgb AS (SELECT max(m) AS maxb FROM
        |          (SELECT b, sum(nij) AS m FROM cells GROUP BY 1)),
        |nn AS (SELECT sum(nij) AS n FROM cells)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN n = maxb THEN NULL
        |       ELSE (1000000 * (rowmax - maxb)) // (n - maxb)
        |       END AS BIGINT) AS lambda_ab_ppm,
        |  CAST(CASE WHEN n = maxa THEN NULL
        |       ELSE (1000000 * (colmax - maxa)) // (n - maxa)
        |       END AS BIGINT) AS lambda_ba_ppm
        |FROM nn, rm, cm, mga, mgb""".stripMargin,
    "q342_semantic_decontam" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, vv,
        |    list_sum(list_transform(vv,
        |      x -> CAST(x*x AS DECIMAL(38,15)))) AS vn
        |  FROM v),
        |q AS (SELECT vv AS tv, vn AS tn FROM n WHERE vec_id < 32),
        |hits AS (
        |  SELECT c.vec_id, count(*) AS m
        |  FROM n c, q
        |  WHERE CAST(list_sum(list_transform(list_zip(c.vv, q.tv),
        |      p -> CAST(p[1]*p[2] AS DECIMAL(38,15)))) AS DOUBLE)
        |    / sqrt(CAST(c.vn AS DOUBLE) * CAST(q.tn AS DOUBLE)) >= 0.25
        |  GROUP BY 1)
        |SELECT n.vec_id,
        |  CAST(COALESCE(hits.m, 0) AS BIGINT) AS n_matches,
        |  CAST(CASE WHEN hits.m IS NOT NULL THEN 1 ELSE 0 END AS INT)
        |    AS contaminated
        |FROM n LEFT JOIN hits USING (vec_id)""".stripMargin,
    "q343_link_prediction" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |e0 AS (SELECT doc_id AS s, doc_id // 2 AS d FROM documents
        |       UNION ALL
        |       SELECT doc_id, (doc_id*doc_id + 1) % nn.n
        |       FROM documents, nn),
        |und AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        |        FROM e0 WHERE s <> d),
        |deg AS (SELECT node, count(*) AS degree FROM
        |          (SELECT a AS node FROM und
        |           UNION ALL SELECT b FROM und)
        |        GROUP BY 1),
        |adj AS (SELECT j.hub, j.nb, deg.degree AS dh
        |        FROM (SELECT a AS hub, b AS nb FROM und
        |              UNION ALL SELECT b, a FROM und) j
        |        JOIN deg ON deg.node = j.hub
        |        WHERE deg.degree <= 10000),
        |p AS (SELECT x.nb AS u, y.nb AS v, count(*) AS cn,
        |             sum(1000000 // x.dh) AS ra
        |      FROM adj x JOIN adj y ON x.hub = y.hub AND x.nb < y.nb
        |      GROUP BY 1, 2),
        |sc AS (SELECT u, v, cn,
        |         (1000000 * cn) // (du.degree + dv.degree - cn) AS j, ra
        |       FROM p
        |       JOIN deg du ON du.node = p.u
        |       JOIN deg dv ON dv.node = p.v)
        |SELECT CAST(u AS BIGINT) AS node_a, CAST(v AS BIGINT) AS node_b,
        |       CAST(cn AS BIGINT) AS common_neighbors,
        |       CAST(j AS BIGINT) AS jaccard_ppm,
        |       CAST(ra AS BIGINT) AS ra_micro
        |FROM sc
        |WHERE NOT EXISTS (SELECT 1 FROM und
        |                  WHERE und.a = sc.u AND und.b = sc.v)"""
        .stripMargin,
    "q344_fleiss_kappa" ->
      """WITH e AS (SELECT event_id, user_id,
        |             CAST(floor(value*100) AS BIGINT) AS cents
        |           FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_id AS i,
        |        least(greatest(cents, 0) // 3500, 2) AS c FROM e
        |      UNION ALL SELECT event_id, event_id % 3 FROM e
        |      UNION ALL SELECT event_id, (user_id + event_id) % 3
        |        FROM e WHERE event_id % 13 <> 0),
        |nic AS (SELECT i, c, count(*) AS nic FROM r GROUP BY 1, 2),
        |ni AS (SELECT i, sum(nic) AS ni FROM nic GROUP BY 1),
        |drp AS (SELECT count(*) AS nd FROM ni WHERE ni <> 3),
        |kept AS (SELECT nic.i, nic.c, nic.nic
        |         FROM nic JOIN ni USING (i) WHERE ni.ni = 3),
        |cat AS (SELECT c, CAST(sum(nic) AS HUGEINT) AS cc,
        |               CAST(sum(CAST(nic AS HUGEINT)*nic) AS HUGEINT) AS a
        |        FROM kept GROUP BY 1),
        |agg AS (SELECT sum(cc) // 3 AS n, sum(a) AS aa,
        |               sum(cc*cc) AS b FROM cat)
        |SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n_items,
        |  CAST(nd AS BIGINT) AS n_dropped,
        |  CAST(3 AS BIGINT) AS raters,
        |  CAST(CASE WHEN COALESCE(n, 0) = 0
        |              OR n*n*9*2 - b*2 = 0 THEN NULL
        |       ELSE CAST(sign((aa - n*3)*n*3 - b*2) AS HUGEINT)
        |            * ((1000000 * abs((aa - n*3)*n*3 - b*2))
        |               // (n*n*9*2 - b*2))
        |       END AS BIGINT) AS kappa_ppm
        |FROM agg, drp""".stripMargin,
    "q345_krippendorff" ->
      """WITH e AS (SELECT event_id, user_id,
        |             CAST(floor(value*100) AS BIGINT) AS cents
        |           FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_id AS i,
        |        least(greatest(cents, 0) // 3500, 2) AS c FROM e
        |      UNION ALL SELECT event_id, event_id % 3
        |        FROM e WHERE event_id % 11 <> 0
        |      UNION ALL SELECT event_id, (user_id + event_id) % 3
        |        FROM e WHERE event_id % 5 <> 0),
        |nic AS (SELECT i, c, count(*) AS nic FROM r GROUP BY 1, 2),
        |ni AS (SELECT i, sum(nic) AS ni FROM nic GROUP BY 1),
        |unp AS (SELECT count(*) AS nu FROM ni WHERE ni < 2),
        |kept AS (SELECT nic.i, nic.c, nic.nic, ni.ni
        |         FROM nic JOIN ni USING (i) WHERE ni.ni >= 2),
        |item AS (SELECT i, ni,
        |           sum(CAST(nic AS HUGEINT) * (ni - nic)) AS dis
        |         FROM kept GROUP BY 1, 2),
        |do_ AS (SELECT sum(ni) AS n,
        |               sum((1000000 * dis) // (ni - 1)) AS dom
        |        FROM item),
        |cat AS (SELECT sum(CAST(cc AS HUGEINT) * cc) AS b FROM
        |          (SELECT c, sum(nic) AS cc FROM kept GROUP BY 1))
        |SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n_values,
        |  CAST(nu AS BIGINT) AS n_unpairable,
        |  CAST(CASE WHEN COALESCE(n, 0) = 0
        |              OR CAST(n AS HUGEINT)*n = b THEN NULL
        |       ELSE 1000000 - (dom * (n - 1)) // (CAST(n AS HUGEINT)*n - b)
        |       END AS BIGINT) AS alpha_ppm
        |FROM do_, cat, unp""".stripMargin,
    "q346_cliffs_delta" ->
      """WITH e AS (SELECT event_type = 'purchase' AS f,
        |             CAST(floor(value*100) AS BIGINT) AS v
        |           FROM events WHERE value IS NOT NULL),
        |h AS (SELECT v, count(*) AS t,
        |             sum(CASE WHEN f THEN 1 ELSE 0 END) AS a
        |      FROM e WHERE f IS NOT NULL GROUP BY 1),
        |r AS (SELECT v, t, a, sum(t) OVER (ORDER BY v) AS cum FROM h),
        |agg AS (SELECT sum(a) AS na, sum(t - a) AS nb,
        |          sum(CAST(a AS HUGEINT) * (2*(cum - t) + t + 1)) AS ra2
        |        FROM r)
        |SELECT CAST(COALESCE(na, 0) AS BIGINT) AS n_a,
        |  CAST(COALESCE(nb, 0) AS BIGINT) AS n_b,
        |  CAST(CASE WHEN COALESCE(na, 0) = 0 OR COALESCE(nb, 0) = 0
        |            THEN NULL
        |       ELSE CAST(sign(ra2 - na*(CAST(na AS HUGEINT) + 1)
        |                      - CAST(na AS HUGEINT)*nb) AS HUGEINT)
        |            * ((1000000 * abs(ra2 - na*(CAST(na AS HUGEINT) + 1)
        |                              - CAST(na AS HUGEINT)*nb))
        |               // (CAST(na AS HUGEINT) * nb))
        |       END AS BIGINT) AS delta_ppm
        |FROM agg""".stripMargin,
    "q347_kendalls_w" ->
      """WITH d AS (SELECT doc_id, n_chars FROM documents),
        |r1 AS (SELECT doc_id, row_number()
        |         OVER (ORDER BY n_chars, doc_id) AS rnk FROM d),
        |r2 AS (SELECT doc_id, row_number()
        |         OVER (ORDER BY (doc_id*2654435761) % 1000003, doc_id)
        |         AS rnk FROM d),
        |r3 AS (SELECT doc_id, row_number()
        |         OVER (ORDER BY n_chars DESC, doc_id) AS rnk FROM d),
        |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |      UNION ALL SELECT * FROM r3),
        |pi AS (SELECT doc_id, count(*) AS m, sum(rnk) AS ri
        |       FROM u GROUP BY 1),
        |agg AS (SELECT count(*) AS n, max(m) AS m,
        |          sum(CAST(ri AS HUGEINT) * ri) AS sq,
        |          sum(CAST(ri AS HUGEINT)) AS lin
        |        FROM pi)
        |SELECT CAST(n AS BIGINT) AS n_items,
        |  CAST(m AS BIGINT) AS m_rankers,
        |  CAST(CASE WHEN n < 2 THEN NULL
        |       ELSE (3000000 * (4*sq
        |               - 4*CAST(m AS HUGEINT)*(n + 1)*lin
        |               + CAST(n AS HUGEINT)*m*m*(n + 1)*(n + 1)))
        |            // (CAST(m AS HUGEINT)*m
        |               * (CAST(n AS HUGEINT)*n*n - n))
        |       END AS BIGINT) AS w_ppm
        |FROM agg""".stripMargin,
    "q348_mcc" ->
      """WITH e AS (SELECT CAST(floor(value*100) AS BIGINT) >= 3500 AS p,
        |             event_type = 'purchase' AS y
        |           FROM events
        |           WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |a AS (SELECT
        |  sum(CASE WHEN p AND y THEN 1 ELSE 0 END) AS tp,
        |  sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END) AS tn,
        |  sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END) AS fp,
        |  sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END) AS fn FROM e)
        |SELECT CAST(COALESCE(tp,0) AS BIGINT) AS tp,
        |  CAST(COALESCE(tn,0) AS BIGINT) AS tn,
        |  CAST(COALESCE(fp,0) AS BIGINT) AS fp,
        |  CAST(COALESCE(fn,0) AS BIGINT) AS fn,
        |  CAST(sign(CAST(tp AS HUGEINT)*tn - CAST(fp AS HUGEINT)*fn)
        |    AS BIGINT) AS sign,
        |  CAST(CASE WHEN tp+fp = 0 OR tp+fn = 0 OR tn+fp = 0
        |              OR tn+fn = 0 THEN NULL
        |       ELSE (1000000
        |             * (CAST(tp AS HUGEINT)*tn - CAST(fp AS HUGEINT)*fn)
        |             * (CAST(tp AS HUGEINT)*tn - CAST(fp AS HUGEINT)*fn))
        |            // ((CAST(tp AS HUGEINT)+fp) * (CAST(tp AS HUGEINT)+fn)
        |                * (CAST(tn AS HUGEINT)+fp) * (CAST(tn AS HUGEINT)+fn))
        |       END AS BIGINT) AS mcc2_ppm
        |FROM a""".stripMargin,
    "q349_brown_forsythe" ->
      """WITH e AS (SELECT event_type AS g,
        |             CAST(floor(value*100) AS BIGINT) AS v
        |           FROM events
        |           WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |gv AS (SELECT g, v, count(*) AS c FROM e GROUP BY 1, 2),
        |tot AS (SELECT g, sum(c) AS n FROM gv GROUP BY 1),
        |cums AS (SELECT g, v, c,
        |           sum(c) OVER (PARTITION BY g ORDER BY v) AS cum
        |         FROM gv),
        |med AS (SELECT cums.g, min(v) AS med
        |        FROM cums JOIN tot USING (g)
        |        WHERE 2*cum >= n GROUP BY 1),
        |z AS (SELECT gv.g, gv.c, abs(gv.v - med.med) AS z
        |      FROM gv JOIN med USING (g)),
        |pg AS (SELECT g, sum(c) AS ng,
        |         sum(CAST(c AS HUGEINT)*z) AS s,
        |         sum(CAST(c AS HUGEINT)*z*z) AS ss
        |       FROM z GROUP BY 1),
        |agg AS (SELECT sum(ng) AS n, count(*) AS k, sum(s) AS t,
        |          sum((s*s) // CAST(ng AS HUGEINT)) AS gq,
        |          sum(ss) AS w2
        |        FROM pg)
        |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |  CAST(CASE WHEN k < 2 OR (w2 - gq) <= 0 THEN NULL
        |       ELSE (1000 * (n - k)
        |             * greatest(gq - (t*t) // CAST(n AS HUGEINT), 0))
        |            // ((k - 1) * (w2 - gq))
        |       END AS BIGINT) AS w_milli
        |FROM agg""".stripMargin,
    "q350_cochran_q" ->
      """WITH e AS (SELECT
        |    CAST(floor(value*100) AS BIGINT) >= 3500 AS a,
        |    event_id % 3 = 0 AS b,
        |    (user_id + event_id) % 2 = 0 AS c
        |  FROM events WHERE value IS NOT NULL
        |    AND event_id IS NOT NULL AND user_id IS NOT NULL),
        |r AS (SELECT (CASE WHEN a THEN 1 ELSE 0 END
        |            + CASE WHEN b THEN 1 ELSE 0 END
        |            + CASE WHEN c THEN 1 ELSE 0 END) AS ri, a, b, c
        |      FROM e),
        |agg AS (SELECT count(*) AS n, sum(ri) AS t,
        |          sum(CAST(ri AS HUGEINT)*ri) AS r2,
        |          sum(CASE WHEN a THEN 1 ELSE 0 END) AS c0,
        |          sum(CASE WHEN b THEN 1 ELSE 0 END) AS c1,
        |          sum(CASE WHEN c THEN 1 ELSE 0 END) AS c2
        |        FROM r)
        |SELECT CAST(n AS BIGINT) AS n_items, CAST(3 AS BIGINT) AS k,
        |  CAST(CASE WHEN 3*CAST(t AS HUGEINT) - r2 = 0 THEN NULL
        |       ELSE (1000 * 2 * (3*(CAST(c0 AS HUGEINT)*c0
        |               + CAST(c1 AS HUGEINT)*c1 + CAST(c2 AS HUGEINT)*c2)
        |             - CAST(t AS HUGEINT)*t))
        |            // (3*CAST(t AS HUGEINT) - r2)
        |       END AS BIGINT) AS q_milli
        |FROM agg""".stripMargin,
    "q351_gwet_ac1" ->
      """WITH e AS (SELECT event_id, user_id,
        |             CAST(floor(value*100) AS BIGINT) AS cents
        |           FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_id AS i,
        |        least(greatest(cents, 0) // 3500, 2) AS c FROM e
        |      UNION ALL SELECT event_id, event_id % 3 FROM e
        |      UNION ALL SELECT event_id, (user_id + event_id) % 3
        |        FROM e WHERE event_id % 13 <> 0),
        |nic AS (SELECT i, c, count(*) AS nic FROM r GROUP BY 1, 2),
        |ni AS (SELECT i, sum(nic) AS ni FROM nic GROUP BY 1),
        |kept AS (SELECT nic.i, nic.c, nic.nic
        |         FROM nic JOIN ni USING (i) WHERE ni.ni = 3),
        |cat AS (SELECT c, CAST(sum(nic) AS HUGEINT) AS cc,
        |               CAST(sum(CAST(nic AS HUGEINT)*nic) AS HUGEINT) AS a
        |        FROM kept GROUP BY 1),
        |agg AS (SELECT sum(cc) // 3 AS n, count(*) AS kk,
        |               sum(a) AS aa, sum(cc*cc) AS b FROM cat)
        |SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n_items,
        |  CAST(3 AS BIGINT) AS raters,
        |  CAST(COALESCE(kk, 0) AS BIGINT) AS k_categories,
        |  CAST(CASE WHEN COALESCE(n, 0) = 0 OR kk < 2 THEN NULL
        |       ELSE CAST(sign((aa - n*3)*(kk - 1)*n*3
        |                      - (n*3*n*3 - b)*2) AS HUGEINT)
        |            * ((1000000 * abs((aa - n*3)*(kk - 1)*n*3
        |                              - (n*3*n*3 - b)*2))
        |               // ((kk - 1)*n*n*9*2 - (n*3*n*3 - b)*2))
        |       END AS BIGINT) AS ac1_ppm
        |FROM agg""".stripMargin,
  )
}

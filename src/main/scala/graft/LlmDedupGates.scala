package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.LlmGateUtil._

/** Deduplication & decontamination gates (exact / paragraph / span /
  * MinHash-LSH / SimHash / semantic dedup, n-gram containment, winnow
  * overlap, cross-corpus + streaming decontamination, connected
  * components, snapshot diff). Split from LlmQueries by domain
  * (round-6 verdict ask #5) — pure code motion, zero behavior change.
  */
object LlmDedupGates {

  // Exact dedup: group by content fingerprint, keep lowest doc_id
  // (deterministic survivor), count the duplicate cluster.
  def q20_dedup_exact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
           count(lit(1)).as("n_copies"))

  // Document fingerprinting: content hash (md5 — bit-identical across
  // engines) + a positional prefix fingerprint.
  def q23_fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      md5(col("text").cast("binary")).as("content_fp"),
      md5(substring(col("text"), 1, 64).cast("binary")).as("prefix_fp"))

  // N-gram (word-bigram) Jaccard near-dup candidates via inverted-index
  // self-join — NOT a cross join: explode bigrams, join on bigram, count
  // shared, Jaccard from exact integer counts. `maxDf` drops stop-grams
  // (a gram shared by f docs contributes f² join rows — the cap is what
  // keeps the posting-list join partition-safe at corpus scale).
  def q25_ngram_jaccard(s: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text", minJaccard = 0.10, ngram = 2, maxDf = 150)
      // threshold compared on the exact decimal; surfaced as double (gate)
      .withColumn("jaccard", col("jaccard").cast("double"))

  // PREFIX-FILTERED Jaccard self-join (Dedup.ngramJaccardPairsPrefix,
  // the PPJoin/All-Pairs principle): lossless near-dup pairs with the
  // inverted index holding only each doc's rarest |d|−⌈t·|d|⌉+1 grams
  // under the global (df, gram) order — the exact-semantics scale
  // alternative to q25's maxDf cap (hot grams rank last and fall out of
  // every prefix). Same pair set as the uncapped full-index join, by
  // the pigeonhole completeness proof; the oracle IS that full join.
  def q197_prefix_jaccard(s: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.ngramJaccardPairsPrefix(
        corpusWithNearDups(s, dir).filter(col("doc_id") % 1000000L < 200),
        "doc_id", "text", minJaccard = 0.5, ngram = 2)
      .withColumn("jaccard", col("jaccard").cast("double"))

  // MinHash+LSH candidates → EXACT bigram-Jaccard verification — the
  // production candidates→verify shape. The verified output is
  // engine-independent (exact Jaccard ≥ 0.8 is SQL-expressible) and the
  // fixture has a wide J gap (nothing between 0.35 and 0.88), so LSH
  // recall over the verified set is total and the DuckDB oracle matches
  // exactly. Planted dups (first word dropped, id+1e6) guarantee rows.
  def q27_minhash_pairs(s: SparkSession, dir: String): DataFrame = {
    val corpus = corpusWithNearDups(s, dir).filter(col("doc_id") % 1000000L < 250)
    val cands = graft.llm.Dedup.minHashCandidates(
      corpus, "doc_id", "text", k = 32, bands = 8, ngram = 2, threshold = 0.35)
    graft.llm.Dedup.jaccardVerify(
      cands.select(col("id_a"), col("id_b")), corpus, "doc_id", "text",
      minJaccard = 0.8)
  }

  // SimHash near-dup candidates (hamming ≤ 3 over 64-bit fingerprints)
  // → exact token-multiset verification: surviving pairs are exactly the
  // multiset-equal doc pairs (SQL-expressible canonical sorted-token key).
  def q28_simhash_pairs(s: SparkSession, dir: String): DataFrame = {
    val corpus = corpusWithReorderedDups(s, dir).filter(col("doc_id") % 1000000L < 250)
    val cands = graft.llm.Dedup.simHashPairs(corpus, "doc_id", "text", maxDist = 3)
    graft.llm.Dedup.multisetVerify(cands, corpus, "doc_id", "text")
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // Embedding near-dup with planted duplicates (each vector re-appears
  // scaled by 1.001 → cosine ≈ 1): LSH pair-mode buckets + exact verify.
  // Deterministic cosine (decimal sums, double finish) makes the verify
  // threshold and the surfaced value bit-stable cross-engine, so the
  // DuckDB all-pairs oracle matches exactly.
  def q34_embedding_neardup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val planted = emb.unionByName(emb.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.001f)).as("embedding")))
    // bits pinned explicitly: the operator default now derives width
    // from the corpus count; the gate fixture stays bit-for-bit stable
    graft.llm.Dedup.embeddingNearDup(planted, "vec_id", "embedding",
        minCosine = 0.999, bits = 16, deterministic = true)
      .select(col("id_a"), col("id_b"),
              col("cosine").cast(out).cast("double").as("cosine"))
  }

  // Winnowing-fingerprint overlap at the gate (Dedup.winnowingOverlapPairs)
  // — MOSS-style substring-level overlap detection via the sampled
  // fingerprint inverted index. The gate runs the md5-derived 60-bit
  // shingle hash (TextAnalysis.md5Hash60) so DuckDB can reproduce the
  // fingerprints and the whole chain — shingle → sliding-window min →
  // distinct → df cap → self-join — is hash-checked; production default
  // stays xxhash64, with md5/xxhash64 path equivalence pinned in
  // SketchOverlapSpec.
  def q71_winnow_overlap(s: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.winnowingOverlapPairs(
      t(s, dir, "documents"), idCol = "doc_id", textCol = "text",
      minShared = 2, ngram = 3, window = 4, maxDf = 50,
      hashFn = graft.llm.TextAnalysis.md5Hash60)

  // Train/test decontamination at the gate
  // (Dedup.crossCorpusContamination): the corpus split into halves by
  // doc_id parity, test docs reported when they share any exact 5-gram
  // with a train doc — the benchmark-leakage check, inverted-index join,
  // never all-pairs. Exact strings, fully oracle-checkable.
  def q74_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.llm.Dedup.crossCorpusContamination(
      train = docs.where(pmod(col("doc_id"), lit(2)) === 0),
      test  = docs.where(pmod(col("doc_id"), lit(2)) === 1),
      idCol = "doc_id", textCol = "text", ngram = 5, minShared = 1)
  }

  // SEQUENCE-level decontamination at the gate
  // (Dedup.sequenceDecontamination): winnowing fingerprints on both
  // corpus halves + the q74 cross-corpus join shape — catches leaks by
  // shared RUNS, which exact n-gram containment loses after light
  // paraphrase. The fixture PLANTS mutated leaks: every 10th train doc
  // re-enters the test side with its first word dropped (id + 10^6) —
  // each planted doc must flag against its source despite the edit.
  // md5-derived fingerprints (TextAnalysis.md5Hash60) keep the whole
  // chain DuckDB-reproducible; the mutation is pure token arithmetic
  // (drop element 1 of the single-space split) in both engines.
  def q81_seq_decontam(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val train = docs.where(col("doc_id") % 2 === 0)
    val planted = train.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(
          slice(split(col("text"), " "), lit(2), size(split(col("text"), " "))),
          " ").as("text"))
    val test = docs.where(col("doc_id") % 2 === 1).unionByName(planted)
    graft.llm.Dedup.sequenceDecontamination(
      train, test, idCol = "doc_id", textCol = "text",
      minShared = 2, ngram = 3, window = 4, maxDf = 50,
      hashFn = graft.llm.TextAnalysis.md5Hash60)
  }

  // Connected components at the gate (Dedup.connectedComponents): the
  // transitive-closure step every near-dup pipeline ends with (pair
  // lists -> duplicate CLUSTERS -> one survivor per cluster), until now
  // spec-only because its input edges were hash-valued. The q71 winnow
  // edge set (md5 fingerprints) makes the whole chain
  // oracle-reproducible: DuckDB computes the same min-label components
  // with a recursive CTE over the same pairs. Output: (doc_id, comp_id
  // = min doc id reachable), one row per node that appears in a pair.
  def q82_components(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.llm.Dedup.winnowingOverlapPairs(
      t(s, dir, "documents"), idCol = "doc_id", textCol = "text",
      minShared = 2, ngram = 3, window = 4, maxDf = 50,
      hashFn = graft.llm.TextAnalysis.md5Hash60)
    graft.llm.Dedup.connectedComponents(
        pairs.select(col("doc_a").as("id_a"), col("doc_b").as("id_b")))
      .select(col("id").cast("long").as("doc_id"),
              col("comp").cast("long").as("comp_id"))
  }

  // STREAMING decontamination at the gate: the persisted-index probe
  // (sequenceDecontaminationIndexed) applied to a real file-source
  // stream of incoming documents — the continuous-ingest leak filter a
  // production pipeline runs in front of training. Build the train
  // index once (batch), then the stream side only winnows each
  // micro-batch and stream-static-joins the stored postings; the
  // groupBy count runs in Complete mode. Deterministic: finite replay
  // of a stateless transform + aggregation ⇒ output ≡ the batch run,
  // so the oracle is q81's chain minus the planted branch.
  def q85_stream_decontam(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val store = new graft.io.ParquetTableStore(
      s, java.nio.file.Files.createTempDirectory("q85idx").toString)
    graft.llm.Dedup.buildDecontamIndex(store, "dc",
      docs.where(col("doc_id") % 2 === 0), idCol = "doc_id",
      textCol = "text", ngram = 3, window = 4, maxDf = 50,
      hashFn = graft.llm.TextAnalysis.md5Hash60, hashLabel = "md5hash60")
    graft.streaming.EventStream.runBatchOfStream(
      s, s"$dir/documents.parquet", "q85_decontam_mem", df =>
        graft.llm.Dedup.sequenceDecontaminationIndexed(store, "dc",
          df.where(col("doc_id") % 2 === 1).select(col("doc_id"), col("text")),
          idCol = "doc_id", textCol = "text", minShared = 2,
          hashFn = graft.llm.TextAnalysis.md5Hash60,
          hashLabel = "md5hash60"),
      mode = org.apache.spark.sql.streaming.OutputMode.Complete())
  }

  // Paragraph-level dedup at the gate (Dedup.dedupParagraphInstances +
  // reassembleParagraphs): the C4/RefinedWeb sub-document cleaning step
  // — boilerplate paragraphs repeated across the corpus are removed
  // while the documents survive. The corpus has no structural
  // separators, so pseudo-paragraphs are 10-token windows from the
  // gate-checked chunker (q67's machinery); keep-first = the min
  // (doc_id, pos) instance; paragraphs under 10 chars are exempt
  // (exercising the minLen path on short tail chunks). Every original
  // doc_id survives via left join — one fixture doc dedups to the
  // empty string, pinning that contract.
  def q88_para_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val paras = graft.llm.Chunking.chunkByTokens(
        docs.select(col("doc_id"), col("text")),
        idCols = Seq("doc_id"), textCol = "text",
        chunkSize = 10, stride = 10)
      .select(col("doc_id"), col("chunk_id").as("pos"),
        col("chunk_text").as("para"))
    val kept = graft.llm.Dedup.dedupParagraphInstances(
      paras, keepFirst = true, minLen = 10)
    val rebuilt = graft.llm.Dedup.reassembleParagraphs(kept, sep = " ")
    val counts = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept"))
    docs.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  // SENTENCE-level dedup (splitSentences × the paragraph-dedup
  // machinery): the q88 instance-dedup pipeline at sentence granularity
  // — the unit sentence-level boilerplate ("Subscribe to our newsletter
  // today.") actually repeats at. Every 3rd doc gets the planted
  // boilerplate sentence; dedup-to-first keeps only the (min doc, pos)
  // instance, reassembly re-joins each doc's survivors in order.
  def q159_sentence_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(lit("Subscribe to our newsletter today. "), col("text")))
        .otherwise(col("text")).as("text"))
    val inst = docs.select(col("doc_id"),
        posexplode(graft.llm.TextAnalysis.splitSentences(col("text")))
          .as(Seq("pos", "para")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("para"))
    val kept = graft.llm.Dedup.dedupParagraphInstances(
      inst, keepFirst = true, minLen = 1)
    val rebuilt = graft.llm.Dedup.reassembleParagraphs(kept, sep = ". ")
    val counts = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_kept"))
    docs.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  // CCNet-style boilerplate removal at the gate
  // (Dedup.removeBoilerplate): the DOCUMENT-FREQUENCY policy next to
  // q88's dedup-to-first — lines in > maxDf distinct docs drop from
  // ALL of them, everything else survives verbatim. Every doc gets two
  // planted footer lines (df = corpus size ≫ maxDf=2): the footers die
  // everywhere, doc bodies survive unless the fixture repeats them
  // past the threshold — the exact rule the oracle recomputes.
  // hashKeys=false for bit-exact parity (production ships 8-byte
  // xxhash64 keys through the shuffle instead of line text).
  def q133_boilerplate(s: SparkSession, dir: String): DataFrame = {
    val docs2 = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit("|Subscribe to our newsletter|All rights reserved")).as("text"))
    graft.llm.Dedup.removeBoilerplate(docs2, "doc_id", "text",
      sep = "|", maxDf = 2, hashKeys = false)
  }

  // Repeated-span scrubbing at the gate (Dedup.scrubRepeatedSpans): the
  // fixed-width approximation of suffix-array substring dedup — any
  // 10-token run occurring in ≥2 distinct docs is removed from ALL of
  // them at arbitrary alignment (what paragraph dedup q88 misses when
  // the repeat straddles a boundary). Pure string/int ops, so cleaned
  // text and removal counts are cross-engine exact; 24 fixture docs
  // scrub to the empty string, pinning the emptied-doc contract.
  def q91_span_scrub(s: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.scrubRepeatedSpans(
      t(s, dir, "documents"), idCol = "doc_id", textCol = "text",
      n = 10, minDocs = 2, hashGrams = false)

  // SEMANTIC dedup at the gate (Dedup.semanticDedup — SemDeDup):
  // cluster the embedding space on the 8 pinned iters=0 centroids
  // (q61's deterministic "init"), then flag within-cluster cosine
  // near-dups keep-first. Fixture plants a ×1.001-scaled copy of every
  // vector (the q34 corpus): same direction ⇒ same nearest centroid ⇒
  // every planted copy is a within-cluster loser. Deterministic cosine
  // (decimal sums, double finish) makes the ≥ 0.999 threshold
  // bit-stable cross-engine.
  def q93_semantic_dedup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val planted = emb.unionByName(emb.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.001f)).as("embedding")))
    graft.llm.Dedup.semanticDedup(planted, "vec_id", "embedding",
      centroids = emb.filter(col("vec_id") < 8),
      centroidIdCol = "vec_id", centroidVecCol = "embedding",
      minCosine = 0.999, deterministic = true)
  }

  // ASYMMETRIC containment at the gate (Dedup.ngramContainmentPairs):
  // every 5th doc's first 15 tokens re-enter as a sub-document
  // (id + 10^6) — symmetric Jaccard scores them low (the union is the
  // long doc) but containment flags all 100 against their sources.
  // Cross-multiplied integer threshold, df-capped inverted index.
  def q123_containment(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val subs = docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 15), " ").as("text"))
    graft.llm.Dedup.ngramContainmentPairs(
      docs.unionByName(subs), idCol = "doc_id", textCol = "text",
      minContainPerMille = 800, ngram = 3, maxDf = 100)
  }

  // CORPUS SNAPSHOT DIFF at the gate (Dedup.corpusDiff): the
  // incremental-pipeline primitive — classify every doc id across two
  // corpus versions as added/removed/changed/unchanged by content
  // hash (hashes ship, not text; one id-keyed full-outer join). The
  // "next crawl" is simulated in-query: %7 ids dropped, %10 texts
  // mutated, %13 re-enter as new ids.
  def q112_corpus_diff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val next = docs.where(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(" mutated")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    graft.llm.Dedup.corpusDiff(docs, next, "doc_id", "text")
      .select(col("id").as("doc_id"), col("status"))
  }

  // STREAMING dedup INGEST at the gate
  // (EventStream.runStreamForeachBatch + Dedup.updateExactIndex): the
  // even half seeds the persisted content-hash index; the stream then
  // replays the whole corpus with every row PLANTED TWICE (id-shifted
  // clone) through foreachBatch probe-and-admit. Index hits (even
  // originals + their clones) drop, within-batch dups resolve to the
  // min id — exactly the odd originals land in the sink table.
  def q109_stream_dedup_ingest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val store = new graft.io.ParquetTableStore(
      s, java.nio.file.Files.createTempDirectory("q109idx").toString)
    graft.llm.Dedup.buildExactIndex(store, "dd",
      docs.where(col("doc_id") % 2 === 0), idCol = "doc_id", textCol = "text")
    graft.streaming.EventStream.runStreamForeachBatch(
      s, s"$dir/documents.parquet", { (batch, _) =>
        val withDups = batch
          .select(explode(array(
            struct(col("doc_id"), col("text")),
            struct((col("doc_id") + 1000000L).as("doc_id"), col("text"))))
            .as("r"))
          .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
        val novel = graft.llm.Dedup.updateExactIndex(store, "dd", withDups,
          idCol = "doc_id", textCol = "text")
        store.append("dd.novel", novel)
      })
    store.read("dd.novel").select(col("doc_id"), col("text"))
  }

  // INDEX LIFECYCLE at the gate (IndexAdmin.stats/compact, round-6
  // verdict ask #6): build a persisted exact-dedup index on a third of
  // the corpus, admit two more batches (second one fully redundant past
  // its novel slice), compact, and surface the health stats. The index
  // ends holding ONE survivor hash per distinct document content, so
  // both `rows` and `distinct_hash` equal DuckDB's count(DISTINCT text)
  // — an oracle-checkable contract over the whole build→update→update→
  // compact→stats lifecycle (collision stance as Dedup.exact: xxhash64
  // over full content).
  def q129_index_stats(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val root = java.nio.file.Files.createTempDirectory("q129_ix")
    val store = new graft.io.ParquetTableStore(s, root.toString)
    graft.llm.Dedup.buildExactIndex(store, "ex",
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    graft.llm.Dedup.updateExactIndex(store, "ex",
      docs.filter(col("doc_id") % 3 === 1), "doc_id", "text")
    graft.llm.Dedup.updateExactIndex(store, "ex", docs, "doc_id", "text")
    graft.llm.IndexAdmin.compact(store, "ex", targetFiles = 1)
      .filter(col("metric").isin("rows", "distinct_hash"))
  }

  // BLOOM-pre-filtered decontamination at the gate
  // (Dedup.decontaminateBloom): same exact result as the q74 gram join,
  // but the train gram stream probes a test-gram sketch at the scan
  // stage — the shape that survives a 100 TB train corpus against a
  // bounded eval suite. Split differs from q74 (thirds, not halves) so
  // the two gates pin different results.
  def q130_bloom_decontam(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.llm.Dedup.decontaminateBloom(
      train = docs.where(pmod(col("doc_id"), lit(3)) =!= 0),
      test  = docs.where(pmod(col("doc_id"), lit(3)) === 0),
      idCol = "doc_id", textCol = "text", ngram = 5, minShared = 1)
  }

  // Blocked edit-distance near-dup pairs (Dedup
  // .blockedEditDistancePairs): record-linkage blocking on a coarse
  // length bucket (div 16 — most ≤12-edit pairs preserve it), pairwise
  // Levenshtein ≤ 12 WITHIN a block only. Spark's 3-arg levenshtein
  // (early-exit, −1 past bound) and DuckDB's 2-arg + filter compute
  // the identical unit-cost distance. Planted near-dups (first word
  // dropped) land within edit 12 of their source whenever the dropped
  // word is short enough — plus the fixture's own close pairs.
  def q137_edit_pairs(s: SparkSession, dir: String): DataFrame = {
    // cap the gate corpus at 2000 base docs (a no-op at sf≤0.01): the
    // within-block pair count grows quadratically with sf and the gate
    // exists to pin semantics, not to quadratic-scan the bench
    val corpus = corpusWithNearDups(s, dir)
      .filter(col("doc_id") % 1000000L < 2000)
    graft.llm.Dedup.blockedEditDistancePairs(
      corpus, "doc_id", "text",
      blockKey = Seq(expr("length(text) div 16")), maxDist = 12)
  }

  // ENSEMBLE near-dup vote (Dedup.ensembleNearDupPairs): three
  // independent signals — distinct-bigram Jaccard > 0.5, trigram
  // containment ≥ 800‰, winnowing fingerprint overlap ≥ 2 — each
  // nominate pairs; only ≥2-vote agreement survives (precision through
  // signal disagreement). The fixture plants BOTH near-dup classes:
  // first-word-dropped clones (all three signals fire — 3 votes) and
  // 15-token sub-docs (Jaccard's denominator kills it, containment and
  // winnowing fire — exactly 2 votes), so the vote arithmetic is
  // demonstrably doing work, not rubber-stamping one signal.
  def q152_dedup_ensemble(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .where(col("doc_id") < 250)
    val corpus = docs
      .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s*", "").as("text")))
      .unionByName(docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 15), " ").as("text")))
    graft.llm.Dedup.ensembleNearDupPairs(corpus, "doc_id", "text",
      minJaccard = 0.5, jaccardNgram = 2,
      containPerMille = 800, containNgram = 3,
      winnowMinShared = 2, winnowNgram = 3, winnowWindow = 4,
      maxDf = 150, winnowMaxDf = 50, minVotes = 2,
      hashFn = graft.llm.TextAnalysis.md5Hash60)
  }

  // Sorted-neighborhood dedup (Dedup.sortedNeighborhoodPairs →
  // editDistanceVerify): the record-linkage classic — rank by a cheap
  // blocking key (here the 30-char text SUFFIX: the planted clones drop
  // their FIRST word, so they sort adjacent under it), pair within a
  // 4-rank window (w·n candidates, never n²), verify by bounded
  // Levenshtein. Rank = the window-free distributed globalRowNumber;
  // the oracle replays the identical total order (key, doc_id) with a
  // row_number window and DuckDB's levenshtein.
  def q156_snm_dedup(s: SparkSession, dir: String): DataFrame = {
    val corpus = corpusWithNearDups(s, dir)
      .filter(col("doc_id") % 1000000L < 400)
    val pairs = graft.llm.Dedup.sortedNeighborhoodPairs(
      corpus, "doc_id", expr("right(text, 30)"), window = 4)
    graft.llm.Dedup.editDistanceVerify(pairs, corpus, "doc_id", "text",
      maxDist = 30)
  }

  // SEMANTIC DEDUP (llm/Dedup.semanticDedup — SemDeDup, Abbas et al.
  // 2023): cluster the embedding space (deterministic first-nlist
  // centroids, the q86 init), drop any vector whose exact cosine to a
  // lower-id same-cluster vector clears 0.25 — the embedding sibling
  // of the MinHash family (paraphrases share no shingles). The oracle
  // replays centroids, argmin assignment, and the within-cluster pair
  // rule bit-for-bit on the decimal kernel.
  //
  // nlist SCALES with the corpus at the BALANCED √n sizing — the
  // round-10 sf1 rehearsal showed a fixed nlist turns the
  // within-cluster pair product quadratic (occupancy grows with n),
  // while occupancy-pinned sizing turns the n·nlist centroid
  // assignment quadratic instead; √n balances both terms at n^1.5,
  // the exact-SemDeDup floor. The LINEAR scale paths are the banded
  // q341 sibling (approximate) and the LSH-routed constant-cluster
  // q363 sibling (exact within clusters). The gate keeps the exact
  // decimal kernel (deterministic = true) — production passes false
  // for the fused double kernel, ~10× cheaper.
  //
  // LAZY BUILDER (round-11): nlist rides the plan as a broadcast
  // 1-row frame — constructing this query runs ZERO Spark jobs (the
  // q343 nFrame precedent). Centroids are the first-nlist-by-id rows
  // (the iters=0 ivfCentroids init); under the fixture's dense-id
  // contract (vec_id = 0..n-1 — guarded IN-PLAN with raise_error, the
  // ksUniformPpm stance) rank-1 == vec_id, so the selection is the
  // lazy filter vec_id < nlist.
  def q339_semantic_dedup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val nl = emb.agg(
        count(lit(1)).cast("long").as("__n"),
        min(col("vec_id").cast("long")).as("__mn"),
        max(col("vec_id").cast("long")).as("__mx"))
      .select(
        when(col("__mn") === 0L && col("__mx") === col("__n") - 1L,
          greatest(lit(4L), floor(sqrt(col("__n"))).cast("long")))
        .otherwise(raise_error(concat(
          lit("q339 dense-id contract violated: min="),
          col("__mn").cast("string"), lit(" max="),
          col("__mx").cast("string"), lit(" n="),
          col("__n").cast("string"))).cast("long"))
        .as("__nl"))
    val cents = emb.crossJoin(broadcast(nl))
      .where(col("vec_id") < col("__nl"))
      .select(col("vec_id").cast("int").as("cid"),
        col("embedding").cast("array<double>").as("cv"))
    graft.llm.Dedup.semanticDedup(emb, "vec_id", "embedding",
        centroids = cents, centroidIdCol = "cid", centroidVecCol = "cv",
        minCosine = 0.25, deterministic = true)
      .where(col("keep") === 1)
      .select(col("vec_id"), col("centroid_id"))
  }

  // LSH-BANDED SEMANTIC DEDUP (llm/Dedup.semanticDedupLshScaled):
  // q339's linear scale path — candidates from shared md5-parity
  // sign-plane band buckets (the q84 banding, SQL-replayable),
  // exact-cosine verify, keep-the-first. Approximate by design: pairs
  // sharing no band are never scored. Band WIDTH scales with the
  // corpus — smallest w in [4, 15] with 16·2^w ≥ n, the
  // suggestLshBits rule in pure-integer form so the oracle picks the
  // identical width without a cross-engine log2 — pinning bucket
  // occupancy ≤ ~16 at every scale factor (fixed width is the
  // quadratic footgun: occupancy grows with n). The width selection
  // rides the plan (broadcast 1-row count frame, the oracle's own
  // wsel CTE shape) — constructing this query runs ZERO Spark jobs.
  def q341_semantic_dedup_lsh(s: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.semanticDedupLshScaled(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      tau = 0.25, bands = 4, dims = 64)

  // CONSTANT-CLUSTER SemDeDup (llm/Dedup.semanticDedupCc): the LINEAR
  // EXACT-mode production sizing of q339 (round-11 verdict ask #3) —
  // nlist ∝ n/k̄ keeps within-cluster pair cost O(n·k̄), and the flat
  // n·nlist assignment (the sizing's quadratic term) is replaced by
  // LSH-ROUTED assignment: md5-thinned centroids, band-bucket
  // candidate routing at a width scaled to nlist, argmin over
  // candidates only, deterministic md5 fallback buckets for vectors
  // sharing no band with any centroid. Every stage O(n) at fixed k̄;
  // the oracle replays thinning, banding, assignment, fallback, and
  // the exact-decimal pair rule bit-for-bit. Zero build-time jobs —
  // all sizing rides broadcast 1-row frames.
  def q363_semantic_dedup_cc(s: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.semanticDedupCc(t(s, dir, "embeddings"), "vec_id",
        "embedding", minCosine = 0.25, dims = 64,
        targetClusterSize = 16, deterministic = true)
      .where(col("keep") === 1)
      .select(col("vec_id"), col("centroid_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q339_semantic_dedup" -> q339_semantic_dedup _,
    "q341_semantic_dedup_lsh" -> q341_semantic_dedup_lsh _,
    "q363_semantic_dedup_cc" -> q363_semantic_dedup_cc _,
    "q156_snm_dedup" -> q156_snm_dedup _,
    "q159_sentence_dedup" -> q159_sentence_dedup _,
    "q152_dedup_ensemble" -> q152_dedup_ensemble _,
    "q129_index_stats"  -> q129_index_stats _,
    "q130_bloom_decontam" -> q130_bloom_decontam _,
    "q137_edit_pairs"   -> q137_edit_pairs _,
    "q133_boilerplate"  -> q133_boilerplate _,
    "q20_dedup_exact"   -> q20_dedup_exact _,
    "q23_fingerprint"   -> q23_fingerprint _,
    "q25_ngram_jaccard" -> q25_ngram_jaccard _,
    "q197_prefix_jaccard" -> q197_prefix_jaccard _,
    "q27_minhash_pairs" -> q27_minhash_pairs _,
    "q28_simhash_pairs" -> q28_simhash_pairs _,
    "q34_embedding_neardup" -> q34_embedding_neardup _,
    "q71_winnow_overlap" -> q71_winnow_overlap _,
    "q74_decontaminate" -> q74_decontaminate _,
    "q81_seq_decontam"  -> q81_seq_decontam _,
    "q82_components"    -> q82_components _,
    "q85_stream_decontam" -> q85_stream_decontam _,
    "q88_para_dedup"    -> q88_para_dedup _,
    "q91_span_scrub"    -> q91_span_scrub _,
    "q93_semantic_dedup" -> q93_semantic_dedup _,
    "q109_stream_dedup_ingest" -> q109_stream_dedup_ingest _,
    "q112_corpus_diff"  -> q112_corpus_diff _,
    "q123_containment"  -> q123_containment _,
  )

  val oracleSql: Map[String, String] = Map(
    "q363_semantic_dedup_cc" ->
      """WITH sz AS (
        |  SELECT count(*) AS n,
        |         greatest(1, count(*) // 16) AS nl
        |  FROM embeddings),
        |wsel AS (
        |  SELECT coalesce(min(w), 15) AS wd
        |  FROM (VALUES (4),(5),(6),(7),(8),(9),(10),(11),(12),(13),(14),(15)) t(w),
        |       sz
        |  WHERE 16 * (1::BIGINT << w) >= sz.nl),
        |v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, vv,
        |    list_sum(list_transform(vv,
        |      x -> CAST(x*x AS DECIMAL(38,15)))) AS vn
        |  FROM v),
        |sig AS (SELECT vec_id,
        |  CAST(list_sum(list_transform(range(0, 60), p ->
        |    CASE WHEN list_sum(list_transform(range(1, len(vv)+1), i ->
        |      CAST(vv[i] *
        |        (CASE WHEN (('0x'||substring(md5('lsh:' || p || ':' || (i-1)),1,15))::BIGINT) % 2 = 0
        |              THEN 1.0 ELSE -1.0 END) AS DECIMAL(38,15)))) >= 0
        |         THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS sg
        |  FROM v),
        |cent AS (
        |  SELECT vec_id AS cid FROM v
        |  WHERE (('0x'||substring(md5('cent:' || vec_id),1,15))::BIGINT) % 16 = 0),
        |vkeys AS (SELECT vec_id, band,
        |            (sg >> (band*wd)) & ((1::BIGINT << wd) - 1) AS key
        |          FROM (SELECT vec_id, sg, wd,
        |                  unnest(range(0,4)) AS band FROM sig, wsel)),
        |ckeys AS (SELECT cid, band, key
        |          FROM vkeys JOIN cent ON vkeys.vec_id = cent.cid),
        |cand AS (SELECT DISTINCT vk.vec_id, ck.cid
        |         FROM vkeys vk JOIN ckeys ck
        |           ON vk.band = ck.band AND vk.key = ck.key),
        |d AS (
        |  SELECT cand.vec_id, cand.cid,
        |    CAST(x.vn AS DOUBLE) + CAST(c.vn AS DOUBLE) -
        |    2.0 * CAST(list_sum(list_transform(list_zip(x.vv, c.vv),
        |      p -> CAST(p[1]*p[2] AS DECIMAL(38,15)))) AS DOUBLE) AS dist2
        |  FROM cand JOIN n x ON x.vec_id = cand.vec_id
        |            JOIN n c ON c.vec_id = cand.cid),
        |a1 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number()
        |      OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |    FROM d) WHERE rn = 1),
        |fb AS (
        |  SELECT n.vec_id,
        |    -1 - ((('0x'||substring(md5('fb:' || n.vec_id),1,15))::BIGINT) % sz.nl) AS cid
        |  FROM n, sz
        |  WHERE n.vec_id NOT IN (SELECT vec_id FROM a1)),
        |a AS (SELECT * FROM a1 UNION ALL SELECT * FROM fb),
        |m AS (SELECT a.vec_id, a.cid, n.vv, n.vn
        |      FROM a JOIN n USING (vec_id)),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM m x JOIN m b ON x.cid = b.cid AND x.vec_id < b.vec_id
        |  WHERE CAST(list_sum(list_transform(list_zip(x.vv, b.vv),
        |      p -> CAST(p[1]*p[2] AS DECIMAL(38,15)))) AS DOUBLE)
        |    / sqrt(CAST(x.vn AS DOUBLE) * CAST(b.vn AS DOUBLE)) >= 0.25)
        |SELECT m.vec_id, CAST(m.cid AS BIGINT) AS centroid_id
        |FROM m LEFT JOIN dropped ON dropped.vec_id = m.vec_id
        |WHERE dropped.vec_id IS NULL""".stripMargin,
    "q341_semantic_dedup_lsh" ->
      """WITH wsel AS (
        |  SELECT coalesce(min(w), 15) AS wd
        |  FROM (VALUES (4),(5),(6),(7),(8),(9),(10),(11),(12),(13),(14),(15)) t(w),
        |       (SELECT count(*) AS n FROM embeddings) c
        |  WHERE 16 * (1::BIGINT << w) >= c.n),
        |sig AS (SELECT vec_id,
        |  CAST(list_sum(list_transform(range(0, wsel.wd * 4), p ->
        |    CASE WHEN list_sum(list_transform(range(1, len(embedding)+1), i ->
        |      CAST(CAST(embedding[i] AS DOUBLE) *
        |        (CASE WHEN (('0x'||substring(md5('lsh:' || p || ':' || (i-1)),1,15))::BIGINT) % 2 = 0
        |              THEN 1.0 ELSE -1.0 END) AS DECIMAL(38,15)))) >= 0
        |         THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS sig,
        |  wsel.wd AS wd
        |  FROM embeddings, wsel),
        |keys AS (SELECT vec_id, band,
        |           (sig >> (band*wd)) & ((1::BIGINT << wd) - 1) AS key
        |         FROM (SELECT vec_id, sig, wd,
        |                 unnest(range(0,4)) AS band FROM sig)),
        |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |         FROM keys a JOIN keys b ON a.band = b.band AND a.key = b.key
        |         WHERE a.vec_id < b.vec_id),
        |norm AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS nrm
        |  FROM embeddings),
        |dropped AS (
        |  SELECT DISTINCT cand.b_id AS vec_id
        |  FROM cand JOIN norm a ON a.vec_id = cand.a_id
        |            JOIN norm b ON b.vec_id = cand.b_id
        |  WHERE CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> CAST(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE)
        |    / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) >= 0.25)
        |SELECT n.vec_id FROM norm n LEFT JOIN dropped d ON d.vec_id = n.vec_id
        |WHERE d.vec_id IS NULL""".stripMargin,
    "q339_semantic_dedup" ->
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
        |  WHERE rn <= (SELECT greatest(4,
        |    CAST(floor(sqrt(count(*))) AS BIGINT)) FROM embeddings)),
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
        |m AS (SELECT a.vec_id, a.cid, n.vv, n.vn
        |      FROM a JOIN n USING (vec_id)),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM m x JOIN m b ON x.cid = b.cid AND x.vec_id < b.vec_id
        |  WHERE CAST(list_sum(list_transform(list_zip(x.vv, b.vv),
        |      p -> CAST(p[1]*p[2] AS DECIMAL(38,15)))) AS DOUBLE)
        |    / sqrt(CAST(x.vn AS DOUBLE) * CAST(b.vn AS DOUBLE)) >= 0.25)
        |SELECT m.vec_id, CAST(m.cid AS INT) AS centroid_id
        |FROM m LEFT JOIN dropped ON dropped.vec_id = m.vec_id
        |WHERE dropped.vec_id IS NULL""".stripMargin,
    "q159_sentence_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
        |    THEN 'Subscribe to our newsletter today. ' || text ELSE text END AS text
        |  FROM documents),
        |s AS (SELECT doc_id,
        |        list_filter(list_transform(string_split_regex(text, '[.!?]+[ \t\n]+'),
        |                                   x -> trim(x)),
        |                    x -> len(x) > 0) AS arr
        |      FROM corpus),
        |inst AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, arr[i] AS para
        |         FROM (SELECT doc_id, arr, unnest(range(1, len(arr)+1)) AS i FROM s)),
        |kept AS (
        |  SELECT doc_id, pos, para FROM (
        |    SELECT doc_id, pos, para,
        |           row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |    FROM inst WHERE length(para) >= 1) WHERE rn = 1),
        |agg AS (SELECT doc_id, string_agg(para, '. ' ORDER BY pos) AS text,
        |               count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.text, '') AS text,
        |       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept
        |FROM (SELECT DISTINCT doc_id FROM corpus) d
        |LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "q156_snm_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 400
        |  UNION ALL
        |  SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s*', '')
        |  FROM documents WHERE doc_id < 400),
        |r AS (SELECT doc_id, text,
        |        row_number() OVER (ORDER BY right(text, 30), doc_id) AS rnk
        |      FROM corpus),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |             a.text AS ta, b.text AS tb
        |      FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 4)
        |SELECT doc_a, doc_b, CAST(levenshtein(ta, tb) AS INT) AS dist
        |FROM p WHERE levenshtein(ta, tb) <= 30""".stripMargin,
    "q152_dedup_ensemble" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 250
        |  UNION ALL
        |  SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s*', '') FROM documents WHERE doc_id < 250
        |  UNION ALL
        |  SELECT doc_id + 2000000, array_to_string((string_split(text,' '))[1:15], ' ')
        |  FROM documents WHERE doc_id < 250 AND doc_id % 5 = 0),
        |t AS (SELECT doc_id, string_split(text,' ') AS toks FROM corpus),
        |jg0 AS (SELECT DISTINCT doc_id, gram FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |     i -> toks[i] || ' ' || toks[i+1])) AS gram
        |  FROM t WHERE len(toks) >= 2)),
        |jkeep AS (SELECT gram FROM jg0 GROUP BY gram HAVING count(*) <= 150),
        |jg AS (SELECT doc_id, gram FROM jg0 JOIN jkeep USING (gram)),
        |jsz AS (SELECT doc_id, count(*) AS n FROM jg GROUP BY 1),
        |jp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ns
        |       FROM jg a JOIN jg b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1,2),
        |sig_jac AS (
        |  SELECT doc_a, doc_b FROM jp
        |  JOIN jsz sa ON sa.doc_id = jp.doc_a JOIN jsz sb ON sb.doc_id = jp.doc_b
        |  WHERE CAST(CAST(ns AS DECIMAL(18,6)) / CAST(sa.n + sb.n - ns AS DECIMAL(18,6)) AS DECIMAL(38,6))
        |        > CAST(0.5 AS DECIMAL(38,6))),
        |cg0 AS (SELECT DISTINCT doc_id, gram FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)-1),
        |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
        |  FROM t WHERE len(toks) >= 3)),
        |ckeep AS (SELECT gram FROM cg0 GROUP BY gram HAVING count(*) <= 150),
        |cg AS (SELECT doc_id, gram FROM cg0 JOIN ckeep USING (gram)),
        |csz AS (SELECT doc_id, count(*) AS n FROM cg GROUP BY 1),
        |cp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ns
        |       FROM cg a JOIN cg b ON a.gram = b.gram AND a.doc_id <> b.doc_id GROUP BY 1,2),
        |sig_con AS (
        |  SELECT DISTINCT least(doc_a, doc_b) AS doc_a, greatest(doc_a, doc_b) AS doc_b
        |  FROM cp JOIN csz s ON s.doc_id = cp.doc_a
        |  WHERE 1000 * cp.ns >= 800 * s.n),
        |wg AS (SELECT doc_id, i, len(toks) - 2 AS n,
        |        ('0x' || substring(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15))::BIGINT AS h
        |      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-2)) AS i FROM t
        |            WHERE len(toks) >= 3)),
        |wm AS (SELECT doc_id, i, n,
        |        min(h) OVER (PARTITION BY doc_id ORDER BY i
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |      FROM wg),
        |wfps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE i <= greatest(n-4, 0) + 1),
        |wkeep AS (SELECT fp FROM wfps GROUP BY fp HAVING count(*) <= 50),
        |wf2 AS (SELECT doc_id, fp FROM wfps JOIN wkeep USING (fp)),
        |sig_win AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |            FROM wf2 a JOIN wf2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |            GROUP BY 1,2 HAVING count(*) >= 2),
        |u AS (
        |  SELECT doc_a, doc_b, 'jac' AS sig FROM sig_jac
        |  UNION ALL SELECT doc_a, doc_b, 'con' FROM sig_con
        |  UNION ALL SELECT doc_a, doc_b, 'win' FROM sig_win)
        |SELECT doc_a, doc_b,
        |  CAST(max(CASE WHEN sig='jac' THEN 1 ELSE 0 END) AS INT) AS vote_jaccard,
        |  CAST(max(CASE WHEN sig='con' THEN 1 ELSE 0 END) AS INT) AS vote_contain,
        |  CAST(max(CASE WHEN sig='win' THEN 1 ELSE 0 END) AS INT) AS vote_winnow,
        |  CAST(max(CASE WHEN sig='jac' THEN 1 ELSE 0 END) + max(CASE WHEN sig='con' THEN 1 ELSE 0 END)
        |       + max(CASE WHEN sig='win' THEN 1 ELSE 0 END) AS INT) AS n_votes
        |FROM u GROUP BY 1,2
        |HAVING n_votes >= 2""".stripMargin,
    "q137_edit_pairs" ->
      """WITH c AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 2000
        |  UNION ALL
        |  SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s*', '') FROM documents WHERE doc_id < 2000),
        |k AS (SELECT doc_id, text, length(text) // 16 AS bk FROM c),
        |ok AS (SELECT bk FROM k GROUP BY bk HAVING count(*) BETWEEN 2 AND 10000),
        |kb AS (SELECT k.* FROM k JOIN ok USING (bk))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       levenshtein(a.text, b.text) AS dist
        |FROM kb a JOIN kb b ON a.bk = b.bk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 12""".stripMargin,
    "q133_boilerplate" ->
      """WITH docs2 AS (
        |  SELECT doc_id,
        |         text || '|Subscribe to our newsletter|All rights reserved' AS text
        |  FROM documents),
        |l AS (SELECT doc_id, i AS pos, parts[i] AS line, len(parts) AS n_lines
        |      FROM (SELECT doc_id, string_split(text, '|') AS parts,
        |                   unnest(generate_series(1, len(string_split(text, '|')))) AS i
        |            FROM docs2)),
        |df AS (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line),
        |k AS (SELECT l.doc_id, l.pos, l.line, l.n_lines
        |      FROM l JOIN df USING (line) WHERE df.df <= 2)
        |SELECT doc_id, string_agg(line, '|' ORDER BY pos) AS text_clean,
        |       count(*) AS n_kept,
        |       CAST(any_value(n_lines) - count(*) AS BIGINT) AS n_dropped
        |FROM k GROUP BY doc_id""".stripMargin,
    "q130_bloom_decontam" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS is_test,
        |        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |        toks[i+3] || ' ' || toks[i+4] AS gram
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks)-4)) AS i FROM t)),
        |gd AS (SELECT DISTINCT doc_id, is_test, gram FROM g)
        |SELECT a.doc_id AS test_id, b.doc_id AS train_id, count(*) AS n_shared
        |FROM gd a JOIN gd b ON a.gram = b.gram AND a.is_test = 1 AND b.is_test = 0
        |GROUP BY 1, 2""".stripMargin,
    "q129_index_stats" ->
      """SELECT 'hashes' AS component, 'rows' AS metric,
        |       count(DISTINCT text) AS value FROM documents
        |UNION ALL
        |SELECT 'hashes', 'distinct_hash', count(DISTINCT text)
        |FROM documents""".stripMargin,
    "q20_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q23_fingerprint" ->
      """SELECT doc_id, md5(text) AS content_fp,
        | md5(substring(text, 1, 64)) AS prefix_fp FROM documents""".stripMargin,
    "q197_prefix_jaccard" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id + 1000000, regexp_replace(text, '^\S+\s*', '')
        |  FROM documents WHERE doc_id < 200),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(string_split(text, ' '))),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS gram
        |  FROM corpus),
        |sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared,
        |  CAST(CAST(CAST(n_shared AS DECIMAL(18,6)) /
        |       CAST(sa.n_grams + sb.n_grams - n_shared AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS jaccard
        |FROM shared
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(CAST(n_shared AS DECIMAL(18,6)) /
        |     CAST(sa.n_grams + sb.n_grams - n_shared AS DECIMAL(18,6)) AS DECIMAL(38,6))
        |    > CAST(0.5 AS DECIMAL(38,6))""".stripMargin,
    "q25_ngram_jaccard" ->
      """WITH grams0 AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(string_split(text, ' '))),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS gram
        |  FROM documents WHERE doc_id < 200),
        |keep AS (SELECT gram FROM grams0 GROUP BY gram HAVING count(*) <= 150),
        |grams AS (SELECT grams0.doc_id, grams0.gram FROM grams0 JOIN keep USING (gram)),
        |sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, n_shared,
        |  CAST(CAST(CAST(n_shared AS DECIMAL(18,6)) /
        |       CAST(sa.n_grams + sb.n_grams - n_shared AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS jaccard
        |FROM shared
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(CAST(n_shared AS DECIMAL(18,6)) /
        |       CAST(sa.n_grams + sb.n_grams - n_shared AS DECIMAL(18,6)) AS DECIMAL(38,6))
        |      > CAST(0.10 AS DECIMAL(38,6))""".stripMargin,
    "q27_minhash_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 250
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, regexp_replace(text, '^\S+\s*', '') AS text
        |  FROM documents WHERE doc_id < 250),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(string_split(text, ' '))),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS gram
        |  FROM corpus),
        |sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
        |shared AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n_shared AS INT) AS n_shared,
        |  CAST(CAST(CAST(n_shared AS DECIMAL(18,6)) /
        |       CAST(sa.n_grams + sb.n_grams - n_shared AS DECIMAL(18,6)) AS DECIMAL(38,6)) AS DOUBLE) AS jaccard
        |FROM shared
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(CAST(n_shared AS DECIMAL(18,6)) /
        |       CAST(sa.n_grams + sb.n_grams - n_shared AS DECIMAL(18,6)) AS DECIMAL(38,6))
        |      >= CAST(0.8 AS DECIMAL(38,6))""".stripMargin,
    "q28_simhash_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 250
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
        |  FROM documents WHERE doc_id < 250),
        |keyed AS (
        |  SELECT doc_id, array_to_string(list_sort(string_split(text, ' ')), ' ') AS k
        |  FROM corpus)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
        |FROM keyed a JOIN keyed b ON a.k = b.k AND a.doc_id < b.doc_id""".stripMargin,
    "q34_embedding_neardup" ->
      """WITH base AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        |corpus AS (
        |  SELECT vec_id, embedding FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |         list_transform(embedding, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT)) AS embedding
        |  FROM base),
        |norm AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS nrm
        |  FROM corpus),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |        p -> CAST(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE)
        |      / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cosine
        |  FROM norm a JOIN norm b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, CAST(CAST(cosine AS DECIMAL(38,6)) AS DOUBLE) AS cosine
        |FROM pairs WHERE cosine >= 0.999""".stripMargin,
    // q71's winnowing chain on both corpus halves + the planted mutated
    // leaks (train docs with their first token dropped, id + 10^6 —
    // pure token arithmetic, identical in both engines), train-side df
    // cap, fingerprint-keyed join
    "q81_seq_decontam" ->
      """WITH raw AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |corp AS (
        |  SELECT doc_id, toks, 0 AS side FROM raw WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, toks, 1 FROM raw WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, toks[2:], 1 FROM raw
        |  WHERE doc_id % 2 = 0 AND doc_id % 10 = 0),
        |g AS (SELECT doc_id, side, i, len(toks) - 2 AS n,
        |        ('0x' || substring(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15))::BIGINT AS h
        |      FROM (SELECT doc_id, side, toks,
        |              unnest(generate_series(1, len(toks)-2)) AS i FROM corp
        |            WHERE len(toks) >= 3)),
        |m AS (SELECT doc_id, side, i, n,
        |        min(h) OVER (PARTITION BY side, doc_id ORDER BY i
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |      FROM g),
        |fps AS (SELECT DISTINCT doc_id, side, fp FROM m
        |        WHERE i <= greatest(n-4, 0) + 1),
        |keep AS (SELECT fp FROM fps WHERE side = 0
        |         GROUP BY fp HAVING count(*) <= 50)
        |SELECT te.doc_id AS test_id, tr.doc_id AS train_id,
        |       count(*) AS n_shared
        |FROM (SELECT doc_id, fp FROM fps WHERE side = 1) te
        |JOIN keep USING (fp)
        |JOIN (SELECT doc_id, fp FROM fps WHERE side = 0) tr USING (fp)
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    // the q71 winnow edge set + recursive-CTE min-label transitive
    // closure: walk holds every (node, reachable label); min per node
    // is exactly connectedComponents' min-id component label. UNION
    // (not UNION ALL) dedups the frontier so the recursion terminates.
    "q82_components" ->
      """WITH RECURSIVE raw AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, i, len(toks) - 2 AS n,
        |        ('0x' || substring(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15))::BIGINT AS h
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks)-2)) AS i FROM raw
        |            WHERE len(toks) >= 3)),
        |m AS (SELECT doc_id, i, n,
        |        min(h) OVER (PARTITION BY doc_id ORDER BY i
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |      FROM g),
        |fps AS (SELECT DISTINCT doc_id, fp FROM m WHERE i <= greatest(n-4, 0) + 1),
        |keep AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
        |f2 AS (SELECT doc_id, fp FROM fps JOIN keep USING (fp)),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |walk AS (
        |  SELECT src AS node, src AS lbl FROM e
        |  UNION
        |  SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.node)
        |SELECT node AS doc_id, min(lbl) AS comp_id FROM walk GROUP BY node""".stripMargin,
    // q81's winnowing chain restricted to the real halves (no planted
    // branch) — the streaming probe replays to exactly the batch result
    "q85_stream_decontam" ->
      """WITH raw AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, doc_id % 2 AS side, i, len(toks) - 2 AS n,
        |        ('0x' || substring(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15))::BIGINT AS h
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks)-2)) AS i FROM raw
        |            WHERE len(toks) >= 3)),
        |m AS (SELECT doc_id, side, i, n,
        |        min(h) OVER (PARTITION BY doc_id ORDER BY i
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |      FROM g),
        |fps AS (SELECT DISTINCT doc_id, side, fp FROM m
        |        WHERE i <= greatest(n-4, 0) + 1),
        |keep AS (SELECT fp FROM fps WHERE side = 0
        |         GROUP BY fp HAVING count(*) <= 50)
        |SELECT te.doc_id AS test_id, tr.doc_id AS train_id,
        |       count(*) AS n_shared
        |FROM (SELECT doc_id, fp FROM fps WHERE side = 1) te
        |JOIN keep USING (fp)
        |JOIN (SELECT doc_id, fp FROM fps WHERE side = 0) tr USING (fp)
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    // full winnowing chain on the md5-derived 60-bit hash (both engines
    // agree on md5): 3-gram hashes in document order, sliding min over
    // 4 (ROWS BETWEEN CURRENT AND 3 FOLLOWING mirrors Spark's
    // short-tail slice), positions capped at greatest(n-4,0)+1 so a doc
    // with fewer grams than the window still emits its single
    // whole-array min, DISTINCT per doc, df cap 50, inverted-index
    // self-join, minShared 2
    "q71_winnow_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, i, len(toks) - 2 AS n,
        |        ('0x' || substring(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15))::BIGINT AS h
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks)-2)) AS i FROM t
        |            WHERE len(toks) >= 3)),
        |m AS (SELECT doc_id, i, n,
        |        min(h) OVER (PARTITION BY doc_id ORDER BY i
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |      FROM g),
        |fps AS (SELECT DISTINCT doc_id, fp FROM m WHERE i <= greatest(n-4, 0) + 1),
        |keep AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
        |f2 AS (SELECT doc_id, fp FROM fps JOIN keep USING (fp)),
        |sizes AS (SELECT doc_id, count(*) AS n_fps FROM f2 GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |          FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT doc_a, doc_b, n_shared, sa.n_fps AS fps_a, sb.n_fps AS fps_b
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b""".stripMargin,
    // exact 5-gram containment across the parity halves
    "q74_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, doc_id % 2 AS half,
        |        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |        toks[i+3] || ' ' || toks[i+4] AS gram
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks)-4)) AS i FROM t)),
        |gd AS (SELECT DISTINCT doc_id, half, gram FROM g)
        |SELECT a.doc_id AS test_id, b.doc_id AS train_id, count(*) AS n_shared
        |FROM gd a JOIN gd b ON a.gram = b.gram AND a.half = 1 AND b.half = 0
        |GROUP BY 1, 2""".stripMargin,
    // q67's chunk CTE at (10, 10) as pseudo-paragraphs; keep-first = the
    // row_number-1 instance under (doc_id, pos) order (Spark's
    // min(struct) picks the same one); < 10-char paragraphs exempt;
    // string_agg ORDER BY pos rebuilds, LEFT JOIN keeps emptied docs
    "q88_para_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks,
        |        unnest(generate_series(0, (len(toks)-1)//10)) AS pos FROM t
        |      WHERE len(toks) >= 1),
        |paras AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |    array_to_string(toks[pos*10+1 : least(pos*10+10, len(toks))], ' ') AS para
        |  FROM s),
        |kept AS (
        |  SELECT doc_id, pos, para FROM (
        |    SELECT doc_id, pos, para,
        |           row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |    FROM paras WHERE length(para) >= 10) WHERE rn = 1
        |  UNION ALL
        |  SELECT doc_id, pos, para FROM paras WHERE length(para) < 10
        |),
        |agg AS (SELECT doc_id, string_agg(para, ' ' ORDER BY pos) AS text,
        |               count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.text, '') AS text,
        |       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN agg a USING (doc_id)""".stripMargin,
    // sliding 10-gram windows (1-based list slices), distinct-doc df,
    // covered positions via a 0..9 offset cross join, ANTI JOIN scrub,
    // string_agg reassembly; LEFT JOIN keeps untouched and emptied docs
    "q91_span_scrub" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, i, array_to_string(toks[i:i+9], ' ') AS gram
        |      FROM (SELECT doc_id, toks,
        |              unnest(generate_series(1, len(toks)-9)) AS i FROM t
        |            WHERE len(toks) >= 10)),
        |f AS (SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS df
        |                        FROM g GROUP BY 1) WHERE df >= 2),
        |sp AS (SELECT doc_id, i FROM g JOIN f USING (gram)),
        |cov AS (SELECT DISTINCT doc_id, i + o AS p
        |        FROM sp CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS o) os),
        |tok AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS p FROM t),
        |kept AS (SELECT tok.doc_id, tok.w, tok.p FROM tok
        |         ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p),
        |agg AS (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS text, count(*) AS nk
        |        FROM kept GROUP BY 1)
        |SELECT d.doc_id, COALESCE(a.text, '') AS text,
        |       CAST(d.orig - COALESCE(a.nk, 0) AS BIGINT) AS n_removed_tokens
        |FROM (SELECT doc_id, len(string_split(text, ' ')) AS orig FROM documents) d
        |LEFT JOIN agg a USING (doc_id)""".stripMargin,
    // SemDeDup: q61's assignment recipe + q34's deterministic-cosine
    // pair recipe, pairs restricted to a shared centroid_id
    "q93_semantic_dedup" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        |corpus AS (
        |  SELECT vec_id, embedding FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id,
        |         list_transform(embedding, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT)) AS embedding
        |  FROM base),
        |nv AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(38,15)))) AS nrm
        |  FROM corpus),
        |c AS (SELECT vec_id AS centroid_id, embedding AS cvec, nrm AS cnrm FROM nv WHERE vec_id < 8),
        |p AS (
        |  SELECT v.vec_id, c.centroid_id,
        |    CAST(v.nrm AS DOUBLE) + CAST(c.cnrm AS DOUBLE)
        |    - 2*CAST(list_sum(list_transform(list_zip(v.embedding, c.cvec),
        |        p -> CAST(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE) AS dist2
        |  FROM nv v CROSS JOIN c),
        |asg AS (
        |  SELECT vec_id, centroid_id FROM (
        |    SELECT vec_id, centroid_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, centroid_id ASC) AS rn
        |    FROM p) WHERE rn = 1),
        |av AS (SELECT a.vec_id, a.centroid_id, n.embedding, n.nrm FROM asg a JOIN nv n USING (vec_id)),
        |losers AS (
        |  SELECT DISTINCT b.vec_id AS vec_id
        |  FROM av a JOIN av b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        |  WHERE CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> CAST(CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE) AS DECIMAL(38,15)))) AS DOUBLE)
        |    / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) >= 0.999)
        |SELECT v.vec_id, v.centroid_id,
        |  CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END AS keep
        |FROM asg v LEFT JOIN losers l ON v.vec_id = l.vec_id""".stripMargin,
    // content-hash classify across the simulated next crawl; text
    // equality stands in for the engine-local xxhash64 equality
    "q112_corpus_diff" ->
      """WITH newc AS (
        |  SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN text || ' mutated' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text = n.text THEN 'unchanged' ELSE 'changed' END AS status
        |FROM documents o FULL OUTER JOIN newc n ON o.doc_id = n.doc_id""".stripMargin,
    // planted 15-token sub-docs; distinct 3-grams, df<=100 cap,
    // ordered inverted-index join, 1000*shared >= 800*|A|
    "q123_containment" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         array_to_string((string_split(text,' '))[1:15], ' ') AS text
        |  FROM documents WHERE doc_id % 5 = 0),
        |t AS (SELECT doc_id, string_split(text,' ') AS toks FROM corpus),
        |g0 AS (SELECT DISTINCT doc_id, gram FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)-1),
        |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
        |  FROM t WHERE len(toks) >= 3)),
        |keep AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= 100),
        |g AS (SELECT doc_id, gram FROM g0 JOIN keep USING (gram)),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY 1),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id
        |      GROUP BY 1, 2)
        |SELECT p.doc_a, p.doc_b, p.n_shared, s.n_grams AS grams_a
        |FROM p JOIN sizes s ON s.doc_id = p.doc_a
        |WHERE 1000 * p.n_shared >= 800 * s.n_grams""".stripMargin,
    // novel = not in the even-seeded index, min id within the batch
    "q109_stream_dedup_ingest" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |novel AS (
        |  SELECT doc_id, text FROM all_docs d
        |  WHERE NOT EXISTS (SELECT 1 FROM documents e
        |                    WHERE e.doc_id % 2 = 0 AND e.text = d.text))
        |SELECT min(doc_id) AS doc_id, text FROM novel GROUP BY text""".stripMargin,
  )
}

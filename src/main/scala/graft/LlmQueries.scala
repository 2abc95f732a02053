package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators over `documents` / `embeddings`
  * (builder-prompt north star; not present in the reference, which is
  * pure relational ETL). Each driver-checkable entry has a DuckDB oracle;
  * the non-SQL-expressible ops (MinHash-LSH banding, IVF ANN) live in
  * `graft.llm.*` with ScalaTest coverage and appear here as rows-only
  * checks.
  *
  * Scale notes: every query is one scan + at most one shuffle; the
  * near-dup/similarity ops avoid the O(n²) cross join via inverted-index
  * (posting-list) joins or LSH banding — the only strategies that survive
  * 100 TB of documents.
  */
object LlmQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    LlmDedupGates.queries ++ LlmAnnGates.queries ++
      LlmTextGates.queries ++ LlmMixGates.queries

  val oracleSql: Map[String, String] =
    LlmDedupGates.oracleSql ++ LlmAnnGates.oracleSql ++
      LlmTextGates.oracleSql ++ LlmMixGates.oracleSql
}

/** Shared fixture readers for the gate files (split from the original
  * single-file LlmQueries). */
private[graft] object LlmGateUtil {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.io.ParquetMeta.read(s, s"$dir/$name.parquet")

  private[graft] val out = "decimal(38,6)"

  /** Corpus with planted near-duplicates (each doc re-appears with its
    * first word dropped, id offset by 1e6) — lets the near-dup operators
    * demonstrate recall deterministically on any sf. */
  private[graft] def corpusWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.unionByName(docs.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      regexp_replace(col("text"), "^\\S+\\s*", "").as("text")))
  }

  /** Corpus where each doc re-appears with its words REVERSED (id+1e6):
    * SimHash is a bag-of-tokens fingerprint, so a reordered copy has the
    * identical fingerprint (hamming 0) — provably recalled by the chunk
    * pigeonhole, which makes the verified pair set oracle-checkable. */
  private[graft] def corpusWithReorderedDups(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.unionByName(docs.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", reverse(split(col("text"), " "))).as("text")))
  }
}

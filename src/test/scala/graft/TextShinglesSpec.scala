package graft

import graft.llm.TextShingles
import org.apache.spark.sql.functions._

class TextShinglesSpec extends SparkTestBase {
  import spark.implicits._

  test("native word n-grams are element-identical to the lambda reference") {
    // real corpus + adversarial tokenization edges: empty string, single
    // token, consecutive/leading/trailing spaces (split(" ", -1) keeps
    // the empty tokens they produce)
    val edge = Seq("", "one", "a b", "a  b", " a b ", "x y z w",
        "tab\tand other whitespace stay intact")
      .toDF("text")
    val real = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"text").limit(200)
    for (df <- Seq(edge, real); n <- Seq(1, 2, 3)) {
      val mism = df.select(
          TextShingles.wordNgrams($"text", n).as("native"),
          KernelReferences.wordNgrams($"text", n).as("ref"))
        .filter($"native" =!= $"ref").count()
      assert(mism == 0, s"n=$n")
    }
  }

  test("native n-grams stay in whole-stage codegen (no CodegenFallback lambda)") {
    val p = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select(explode(TextShingles.wordNgrams($"text", 2)).as("g"))
      .queryExecution.executedPlan.toString
    assert(p.contains("word_ngrams"), s"native expression missing:\n${p.take(500)}")
    assert(!p.contains("transform(") && !p.contains("element_at"),
      "lambda chain leaked back into the shingle path")
  }

  test("frame-level winnowing equals the column form and hashes each doc once") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text").limit(100)
    val colForm = docs.select($"doc_id",
        graft.llm.TextAnalysis.winnowingFingerprints($"text").as("fingerprints"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val frame = graft.llm.TextAnalysis.winnowingFingerprintsFrame(
        docs, "doc_id", "text")
    val frameForm = frame.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(colForm == frameForm)
    // the hash array must be materialized once, not re-inlined into the
    // window lambda by CollapseProject (that re-inlining is exactly the
    // quadratic evaluation the frame form exists to avoid)
    val p = frame.queryExecution.optimizedPlan.toString
    assert("word_ngrams".r.findAllIn(p).size == 1,
      s"hash array inlined more than once:\n${p.take(600)}")
  }
}

package graft

import graft.llm.{Similarity, TextShingles}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Lambda-chain reference forms of the native kernels — the independent
  * oracles of the kernel-parity specs. Higher-order lambdas are
  * CodegenFallback and run interpreted (several are quadratic per row),
  * which is why production uses the fused expressions in
  * `graft.functions` and these live only in test sources. */
object KernelReferences {

  /** [[graft.llm.Similarity.dotDecimal]]: exact DECIMAL(38,15) sum of
    * elementwise double products. */
  def dotDecimal(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") * y.cast("double")).cast("decimal(38,15)")),
      lit(0).cast("decimal(38,15)"),
      (acc, x) => (acc + x).cast("decimal(38,15)"))

  /** [[graft.llm.Similarity.hammingDistance]]: Σ popcount(a_i XOR b_i). */
  def hammingDistance(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, d) => acc + d)

  /** The xxhash64(seed, plane, dim) → ±1 hyperplane component that
    * [[graft.llm.Similarity.lshSignature]]'s kernel evaluates inline. */
  def planeComponent(plane: Int, dim: Column, seed: Int): Column =
    when(pmod(xxhash64(lit(seed), lit(plane), dim), lit(2)) === 0, lit(1.0))
      .otherwise(lit(-1.0))

  /** [[graft.llm.Similarity.lshSignature]]: one bit per plane, set when
    * the plane dot is non-negative. */
  def lshSignature(vec: Column, bits: Int, seed: Int = 42): Column = {
    val bitCols = (0 until bits).map { p =>
      val dot = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") * planeComponent(p, i, seed)),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, lit(1L) * lit(1L << p)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** [[graft.llm.Similarity.lshSignatureMd5]] as its pre-fusion column
    * tree: one exact decimal dot per md5-parity plane. */
  def lshSignatureMd5(vec: Column, bits: Int, dims: Int): Column = {
    val bitCols = (0 until bits).map { p =>
      val plane = array(
        (0 until dims).map(d => lit(Similarity.md5PlaneComponent(p, d))): _*)
      when(Similarity.dotDecimal(vec, plane) >= 0, lit(1L << p))
        .otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** [[graft.llm.TextAnalysis.charNgrams]]. The `length < n` guard
    * exists because Spark's sequence counts DOWN instead of returning
    * empty. */
  def charNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), length(text) - lit(n - 1)),
        i => text.substr(i, lit(n))))
  }

  /** [[graft.llm.TextShingles.wordNgrams]]: word n-grams joined by
    * single spaces. */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1)
    val ws = TextShingles.words(text)
    val cnt = size(ws)
    when(cnt < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), cnt - lit(n)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(ws, i + lit(k + 1))): _*)))
  }
}

package graft

import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

class VectorFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  val vecs = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (2L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)),       // orthogonal
    (3L, Array(2.0f, 0.0f), Array(4.0f, 0.0f)),       // parallel
    (4L, Array.empty[Float], Array.empty[Float]))     // empty → 0
  lazy val df = vecs.toDF("id", "a", "b")

  test("vec_dot and vec_cosine compute correctly (incl. empty and zero-norm)") {
    val got = df.select($"id", vecDot($"a", $"b").as("d"),
        vecCosine($"a", $"b").as("c"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._1 == 32.0)
    assert(math.abs(got(1L)._2 - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) < 1e-12)
    assert(got(2L) == ((0.0, 0.0)))
    assert(got(3L) == ((8.0, 1.0)))
    assert(got(4L) == ((0.0, 0.0)))   // zero-norm guard, no NaN
  }

  test("native cosine matches the interpreted lambda form on real embeddings") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .limit(50).select($"vec_id", $"embedding")
    val pairs = emb.as("x").join(emb.as("y"),
      col("x.vec_id") < col("y.vec_id"))
    val lambda = aggregate(zip_with(col("x.embedding"), col("y.embedding"),
        (p, q) => p.cast("double") * q.cast("double")), lit(0.0), (s, v) => s + v) /
      sqrt(aggregate(transform(col("x.embedding"), p => p.cast("double") * p.cast("double")), lit(0.0), (s, v) => s + v) *
           aggregate(transform(col("y.embedding"), p => p.cast("double") * p.cast("double")), lit(0.0), (s, v) => s + v))
    val diffs = pairs.select(
        abs(vecCosine(col("x.embedding"), col("y.embedding")) - lambda).as("d"))
      .agg(max($"d")).as[Double].head()
    assert(diffs < 1e-12, s"max diff $diffs")
  }

  test("mismatched lengths use the common prefix; null elements contribute 0") {
    val df2 = Seq((Array[java.lang.Float](1.0f, null, 3.0f),
                   Array[java.lang.Float](2.0f, 5.0f, 4.0f, 9.9f)))
      .toDF("a", "b")
    val (d, c) = df2.select(vecDot($"a", $"b").as("d"), vecCosine($"a", $"b").as("c"))
      .as[(Double, Double)].head()
    assert(d == 1.0 * 2.0 + 3.0 * 4.0)
    assert(c > 0 && c <= 1.0)
  }

  test("SQL registration: vec_cosine callable from spark.sql") {
    registerSql(spark)
    df.createOrReplaceTempView("vec_test")
    val r = spark.sql(
      "SELECT id, vec_cosine(a, b) AS c FROM vec_test WHERE id = 3")
      .as[(Long, Double)].head()
    assert(r == ((3L, 1.0)))
  }

  test("native LSH signature is bit-identical to the lambda reference on real embeddings") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .limit(100).select($"vec_id", $"embedding")
    for (bits <- Seq(8, 16); seed <- Seq(42, 7)) {
      val mismatches = emb.select(
          vecLshSignature($"embedding", bits, seed).as("native"),
          KernelReferences.lshSignature($"embedding", bits, seed).as("ref"))
        .filter($"native" =!= $"ref").count()
      assert(mismatches == 0, s"bits=$bits seed=$seed: $mismatches mismatches")
    }
  }

  test("native LSH signature edge cases: empty vector sets every bit; bounds enforced") {
    val sig = Seq(Tuple1(Array.empty[Float])).toDF("v")
      .select(vecLshSignature($"v", 16).as("s")).as[Long].head()
    assert(sig == (1L << 16) - 1)   // all dots 0.0, 0.0 >= 0 → bit set (lambda parity)
    intercept[IllegalArgumentException] {
      graft.functions.LshSignature(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression($"v"), 64, 42)
    }
  }

  test("multi-long band keys agree with the single-long layout where they overlap") {
    // bits <= 63: bandKeysOf picks lshSignature+bandKeys; the wide
    // kernel must produce the identical (band, key) structs — the
    // bit-compatibility contract that keeps pinned fixtures stable
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .limit(100).select($"vec_id", $"embedding")
    for ((bits, bands) <- Seq((48, 4), (48, 8), (16, 4)); seed <- Seq(42, 7)) {
      val mism = emb.select(
          graft.llm.Similarity.bandKeysOf($"embedding", bits, bands, seed).as("narrow"),
          vecLshBandKeys($"embedding", bits, bands, seed).as("wide"))
        .select(explode(zip_with($"narrow", $"wide",
          (n, w) => n.getField("key") =!= w)).as("diff"))
        .filter($"diff").count()
      assert(mism == 0, s"bits=$bits bands=$bands seed=$seed")
    }
  }

  test("128-bit band keys are bit-identical to the per-plane lambda reference") {
    def refBandKey(vec: org.apache.spark.sql.Column, b: Int, width: Int, seed: Int): org.apache.spark.sql.Column =
      (0 until width).map { j =>
        val p = b * width + j
        val dot = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, i) => x.cast("double") * KernelReferences.planeComponent(p, i, seed)),
          lit(0.0), (acc, x) => acc + x)
        when(dot >= 0, lit(1L) * lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    val bits = 128; val bands = 8; val width = bits / bands
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .limit(40).select($"vec_id", $"embedding")
    val mism = emb.select(
        vecLshBandKeys($"embedding", bits, bands, 42).as("wide"),
        array((0 until bands).map(b =>
          refBandKey($"embedding", b, width, 42)): _*).as("ref"))
      .select(explode(zip_with($"wide", $"ref", (w, r) => w =!= r)).as("diff"))
      .filter($"diff").count()
    assert(mism == 0)
  }

  test("wide band-key edge cases: empty vector sets every bit; width bounds enforced") {
    // all dots 0.0, 0.0 >= 0 → every bit set (lambda parity): each
    // 63-wide band key is 2^63 - 1 = Long.MaxValue
    val keys = Seq(Tuple1(Array.empty[Float])).toDF("v")
      .select(vecLshBandKeys($"v", 126, 2).as("k")).as[Seq[Long]].head()
    assert(keys == Seq(Long.MaxValue, Long.MaxValue), s"got $keys")
    // a 64-bit band mask would overflow to 0 and collapse all buckets
    intercept[IllegalArgumentException] {
      graft.functions.LshBandKeys(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression($"v"), 128, 2, 42)
    }
    // bits must divide into bands
    intercept[IllegalArgumentException] {
      graft.functions.LshBandKeys(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression($"v"), 100, 3, 42)
    }
  }

  test("native decimal dot is bit-identical to the lambda reference on real embeddings") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .limit(60).select($"vec_id", $"embedding")
    val pairs = emb.as("x").join(emb.as("y"), col("x.vec_id") < col("y.vec_id"))
    // compare the DECIMAL(38,15) values themselves, not a rounded double
    val mismatches = pairs.select(
        vecDotDecimal(col("x.embedding"), col("y.embedding")).as("native"),
        KernelReferences.dotDecimal(
          col("x.embedding"), col("y.embedding")).as("ref"))
      .filter($"native" =!= $"ref" ||
              $"native".cast("string") =!= $"ref".cast("string"))
      .count()
    assert(mismatches == 0)
    // and the full deterministic-cosine surface (decimal sums + double
    // finish) is unchanged by the kernel swap
    val n2 = pairs.select(
        (vecDotDecimal(col("x.embedding"), col("y.embedding")).cast("double") /
          sqrt(vecDotDecimal(col("x.embedding"), col("x.embedding")).cast("double") *
               vecDotDecimal(col("y.embedding"), col("y.embedding")).cast("double"))).as("k"),
        (KernelReferences.dotDecimal(col("x.embedding"), col("y.embedding")).cast("double") /
          sqrt(KernelReferences.dotDecimal(col("x.embedding"), col("x.embedding")).cast("double") *
               KernelReferences.dotDecimal(col("y.embedding"), col("y.embedding")).cast("double"))).as("r"))
      .filter($"k" =!= $"r").count()
    assert(n2 == 0)
  }

  test("native decimal dot matches the lambda reference on adversarial doubles") {
    // magnitudes spanning 2^-40 .. 2^40, signs mixed — exercises the
    // shortest-string → setScale(15, HALF_UP) rounding path heavily
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      val n = 1 + rnd.nextInt(24)
      def arr = Array.fill(n)(
        (rnd.nextDouble() - 0.5) * math.pow(2.0, rnd.nextInt(81) - 40))
      (i.toLong, arr, arr)
    }
    val df2 = rows.toDF("id", "a", "b")
    val bad = df2.select(
        vecDotDecimal($"a", $"b").as("native"),
        KernelReferences.dotDecimal($"a", $"b").as("ref"))
      .filter($"native" =!= $"ref" ||
              $"native".cast("string") =!= $"ref".cast("string"))
      .count()
    assert(bad == 0)
  }

  test("decimal dot null semantics mirror zip_with: length mismatch / null element → null; empty → 0") {
    val df3 = Seq(
      (1L, Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](3.0, 4.0, 5.0)),
      (2L, Array[java.lang.Double](1.0, null), Array[java.lang.Double](3.0, 4.0)),
      (3L, Array.empty[java.lang.Double], Array.empty[java.lang.Double]))
      .toDF("id", "a", "b")
    val got = df3.select($"id",
        vecDotDecimal($"a", $"b").cast("string").as("native"),
        KernelReferences.dotDecimal($"a", $"b").cast("string").as("ref"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got(1L)._1 == null && got(1L)._2 == null)
    assert(got(2L)._1 == null && got(2L)._2 == null)
    assert(got(3L)._1 == "0.000000000000000" && got(3L)._1 == got(3L)._2)
  }

  test("decimal dot overflow parity: kernel throws exactly where the lambda recast throws") {
    // 1000 products of 1e20 sum to 1e23: precision 38 at scale 14 (passes
    // the Add check) but 39 after the recast to scale 15 — the lambda's
    // final cast throws under ANSI, and the kernel must throw too, not
    // return an out-of-range Decimal
    val big = Seq(Tuple1(Array.fill(1000)(1e10))).toDF("v")
    intercept[Exception] {
      big.select(vecDotDecimal($"v", $"v")).collect()
    }
    intercept[Exception] {
      big.select(KernelReferences.dotDecimal($"v", $"v")).collect()
    }
  }

  test("type check rejects non-array inputs") {
    val err = intercept[Exception] {
      Seq((1, 2)).toDF("x", "y").select(vecDot($"x", $"y")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array") ||
           err.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("decimal dot long-lane/BigDecimal-lane switch is seamless mid-sum") {
    // round-12 fast path: products |p| < ~9.2e3 ride ×10^15 scaled
    // longs; anything bigger (or a sum overflow) falls back to the
    // BigDecimal chain carrying the exact partial sum. These rows force
    // the switch at every position: small→HUGE→small (switch mid-sum),
    // HUGE first (switch at element 0), all-small (pure fast lane),
    // magnitudes straddling the 9223.37 scaled-long edge, and
    // sign-mixed near-cancellation (rounding-step parity under
    // negatives). Reference = the retained lambda chain.
    val rows = Seq(
      Array(0.125, -3.75, 0.0078125),
      Array(1.5, 2.5e7, -0.25),                    // switch at element 1
      Array(9.5e9, 1.0, -1.0),                     // switch at element 0
      Array(9223.0, 1.0),                          // 9223×1e15 < 2^63 — fast
      Array(9224.0, 1.0),                          // just past the edge
      Array(-9223.372036854775, 9223.372036854775),
      Array(1e-16, -1e-16, 5e-16, -4.999e-16),     // rounding-tie digits
      Array(0.1, 0.2, 0.3, -0.6),
      Array.fill(64)(math.sqrt(2.0) - 1.0),
      Array.tabulate(64)(i => if (i % 2 == 0) 1e3 else -1e3 + 1e-13))
      .zipWithIndex.map { case (a, i) => (i.toLong, a, a.reverse) }
    val d = rows.toDF("id", "a", "b")
    val bad = d.select(
        vecDotDecimal($"a", $"b").as("native"),
        KernelReferences.dotDecimal($"a", $"b").as("ref"))
      .filter($"native".cast("string") =!= $"ref".cast("string"))
      .count()
    assert(bad == 0)
  }

  test("fused md5-plane signature is bit-identical to the per-plane column tree") {
    // round-12 kernel swap (LshSignatureMd5Planes): one conversion per
    // element reused ±across planes vs the reference's per-plane
    // dotDecimal against literal planes. Checked at the two widths the
    // gates use (16 for q84, 60 for q341/q363), on real embeddings plus
    // adversarial rows: negatives, zeros, slow-lane magnitudes, a
    // wrong-length vector and a null vector (both must yield 0, not
    // null, matching when(null>=0,...).otherwise(0) per bit).
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .limit(120).select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val extra = Seq(
      (9001L, Array(0.0, -0.0, 1e-17, -1e-17) ++ Array.fill(60)(0.25)),
      (9002L, Array.fill(64)(-1.0e4)),             // slow lane (|v|>9223)
      (9003L, Array.tabulate(64)(i => (i - 32) * 0.125)),
      (9004L, Array(1.0, 2.0, 3.0)),               // wrong length → 0
      (9005L, null.asInstanceOf[Array[Double]]))   // null vector → 0
      .toDF("vec_id", "v")
    for (bits <- Seq(16, 60)) {
      val bad = emb.unionByName(extra).select(
          graft.llm.Similarity.lshSignatureMd5($"v", bits, dims = 64)
            .as("fused"),
          KernelReferences.lshSignatureMd5($"v", bits, dims = 64)
            .as("ref"))
        .filter($"fused".isNull || $"fused" =!= $"ref").count()
      assert(bad == 0, s"fused md5 signature diverges at bits=$bits")
    }
  }
}

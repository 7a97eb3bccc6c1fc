package graft

import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

/** Vector math: the codegen'd Catalyst expressions against their
  * built-in higher-order-function twins, plus the cosine properties from
  * SURVEY.md §5 (symmetry, range, self-similarity, zero-norm guard —
  * the reference NaNs there, reference server.js:46-51).
  *
  * Property-style cases run over seeded random vectors (deterministic).
  */
class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(42)
  private def randVec(n: Int = 8): Seq[Float] =
    Seq.fill(n)((rng.nextFloat() - 0.5f) * 20f)
  private val samples: Seq[(Seq[Float], Seq[Float])] =
    Seq.fill(25)((randVec(), randVec()))

  private def eval(pairs: Seq[(Seq[Float], Seq[Float])])
      : Seq[(Double, Double, Double, Double)] =
    pairs.map { case (a, b) => (a.toArray, b.toArray) }
      .toDF("a", "b")
      .select(
        cosineSim(col("a"), col("b")),
        cosineSimHof(col("a"), col("b")),
        dotProduct(col("a"), col("b")),
        dotProductHof(col("a"), col("b")))
      .as[(Double, Double, Double, Double)].collect().toSeq

  test("expression and HOF implementations agree bit-for-bit") {
    eval(samples).foreach { case (cosE, cosH, dotE, dotH) =>
      assert(cosE == cosH && dotE == dotH)
    }
  }

  test("cosine is symmetric and within [-1, 1]") {
    val ab = eval(samples)
    val ba = eval(samples.map(_.swap))
    ab.zip(ba).foreach { case ((x, _, _, _), (y, _, _, _)) =>
      assert(math.abs(x - y) < 1e-12)
      assert(x >= -1.0 - 1e-9 && x <= 1.0 + 1e-9)
    }
  }

  test("self-similarity is 1 for nonzero vectors") {
    eval(samples.map(p => (p._1, p._1))).foreach { case (c, _, _, _) =>
      assert(math.abs(c - 1.0) < 1e-9)
    }
  }

  test("zero-norm guard: cosine with a zero vector is 0.0, not NaN") {
    val (c, ch, _, _) = eval(Seq((Seq(0f, 0f, 0f), Seq(1f, 2f, 3f)))).head
    assert(c == 0.0 && ch == 0.0)
  }

  test("l2Dist matches manual euclidean distance") {
    val d = Seq((Array(0f, 3f), Array(4f, 0f))).toDF("a", "b")
      .select(l2Dist(col("a"), col("b"))).as[Double].head()
    assert(math.abs(d - 5.0) < 1e-12)
  }

  test("l2Normalize yields unit vectors; zero vector passes through") {
    val n = Seq(Tuple1(Array(3f, 4f))).toDF("a")
      .select(aggregate(transform(l2Normalize(col("a")),
        x => x * x), lit(0.0), (s, x) => s + x))
      .as[Double].head()
    assert(math.abs(n - 1.0) < 1e-12)
    val z = Seq(Tuple1(Array(0f, 0f))).toDF("a")
      .select(l2Normalize(col("a"))).as[Seq[Double]].head()
    assert(z == Seq(0.0, 0.0))
  }

  test("vectorMean averages element-wise") {
    val m = Seq(Tuple1(Seq(Array(1.0, 2.0), Array(3.0, 4.0))))
      .toDF("vs").select(vectorMean(col("vs"))).as[Seq[Double]].head()
    assert(m == Seq(2.0, 3.0))
  }

  test("mismatched dimensions raise in both kernel and HOF variants") {
    val df = Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
    val kernel = intercept[Exception] {
      df.select(cosineSim(col("a"), col("b"))).collect()
    }
    assert(kernel.getMessage.contains("dimensions differ") ||
      kernel.getCause.getMessage.contains("dimensions differ"))
    val hof = intercept[Exception] {
      df.select(cosineSimHof(col("a"), col("b"))).collect()
    }
    assert(hof.getMessage.contains("dimensions differ") ||
      hof.getCause.getMessage.contains("dimensions differ"))
  }

  test("int8Quantize: exact codes, cosine preserved, zero vector safe") {
    // scale = 0.5/127; 0.1/sc=25.4 -> 25, -0.5/sc=-127, 0.25/sc=63.5 -> 64
    val codes = Seq(Tuple1(Array(0.1f, -0.5f, 0.25f))).toDF("a")
      .select(int8Quantize(col("a"))).as[Seq[Float]].head()
    assert(codes == Seq(25f, -127f, 64f))
    val zero = Seq(Tuple1(Array(0f, 0f))).toDF("a")
      .select(int8Quantize(col("a"))).as[Seq[Float]].head()
    assert(zero == Seq(0f, 0f))
    // quantized cosine approximates the exact cosine (scale cancels)
    val (exact, quant) = Seq((Array(0.3f, 0.7f, -0.2f), Array(0.31f, 0.69f, -0.18f)))
      .toDF("a", "b")
      .select(cosineSim(col("a"), col("b")),
        cosineSim(int8Quantize(col("a")), int8Quantize(col("b"))))
      .as[(Double, Double)].head()
    assert(math.abs(exact - quant) < 0.01, s"$exact vs $quant")
  }

  test("double arrays are accepted too (type-polymorphic expression)") {
    val c = Seq((Array(1.0, 0.0), Array(1.0, 0.0))).toDF("a", "b")
      .select(cosineSim(col("a"), col("b"))).as[Double].head()
    assert(c == 1.0)
  }

  test("SRP sketch: identical vectors identical sketches; similar close, opposite far") {
    import org.apache.spark.sql.graft.Bridge
    def sketch(c: org.apache.spark.sql.Column) =
      Bridge.column(graft.expressions.CosineLshBits(Bridge.expression(c), 16))
    val v = Array.tabulate(32)(i => math.sin(i + 1).toFloat)
    val similar = v.zipWithIndex.map { case (x, i) =>
      if (i == 0) x + 0.01f else x }
    val opposite = v.map(-_)
    val Seq(s1, s2, s3, s4) =
      Seq(Tuple1(v), Tuple1(v), Tuple1(similar), Tuple1(opposite))
        .toDF("v").select(sketch(col("v"))).as[Long].collect().toSeq
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(s1 == s2)
    assert(hamming(s1, s3) <= 2)   // tiny perturbation: nearly same sketch
    assert(hamming(s1, s4) == 16)  // antipode flips every bit
  }

  test("blob codec round-trips the reference's little-endian float32 format") {
    val v = Array(1.5f, -2.25f, 0f, 3.75f)
    val (bytes, back) = Seq(Tuple1(v)).toDF("v")
      .select(floatVectorToBinary(col("v")).as("b"))
      .select(col("b"), floatVectorFromBinary(col("b")).as("r"))
      .as[(Array[Byte], Seq[Float])].head()
    assert(back == v.toSeq)
    assert(bytes.length == 16)
    // little-endian: 1.5f = 0x3FC00000 → bytes 00 00 C0 3F
    assert((bytes(0) & 0xff, bytes(1) & 0xff, bytes(2) & 0xff, bytes(3) & 0xff)
      == (0x00, 0x00, 0xc0, 0x3f))
  }

  test("every vector kernel rejects a wrong-typed input at analysis " +
      "with its own message") {
    import graft.expressions._
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.graft.Bridge
    val cb = Array(Array(Array(0f)))
    val sc = spark.sparkContext
    val rot = sc.broadcast(Array(Array(1.0)))
    val pair = sc.broadcast(new AqPair(1, cb, cb))
    val vectorKernels: Seq[Expression => Expression] = Seq(
      MatVecRotateBcast(_, rot, 1),
      Int8Quantize(_),
      PqEncode(_, 1, cb),
      CosineLshBits(_, 8),
      SrpProbeBucketsCapped(_, 4, 2),
      AqJointEncodeBcast(_, pair),
      AnisoEncode(_, 1, cb, 2.0))
    val hashKernels: Seq[Expression => Expression] = Seq(
      SimHashBits(_, 8),
      MinHashSignature(_, 4))
    val df = Seq(("x", Seq(1))).toDF("s", "ints")
    def failure(kernel: Expression => Expression, c: String): String = {
      val k = kernel(Bridge.expression(col(c)))
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.select(Bridge.column(k)).queryExecution.assertAnalyzed())
      assert(e.getMessage.contains(k.prettyName), e.getMessage)
      e.getMessage
    }
    vectorKernels.foreach { kernel =>
      val name = kernel(Bridge.expression(col("s"))).prettyName
      assert(failure(kernel, "s").contains(
        s"$name requires array<float|double> input, got STRING"))
    }
    hashKernels.foreach { kernel =>
      val name = kernel(Bridge.expression(col("ints"))).prettyName
      assert(failure(kernel, "ints").contains(
        s"$name requires array<bigint> input, got ARRAY<INT>"))
    }
    rot.destroy(); pair.destroy()
  }
}

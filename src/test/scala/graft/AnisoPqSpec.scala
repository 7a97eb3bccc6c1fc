package graft

import graft.operators.{AnisoPq, Pq}
import org.apache.spark.sql.functions._

class AnisoPqSpec extends SparkSpec {

  test("choleskySolve inverts a known SPD system") {
    // A = [[4,1,0],[1,3,1],[0,1,2]], x = (1,-2,3) → b = A·x
    val a = Array(4.0, 1.0, 0.0, 1.0, 3.0, 1.0, 0.0, 1.0, 2.0)
    val x = Array(1.0, -2.0, 3.0)
    val b = Array(4 * 1 + 1 * -2 + 0.0, 1 - 6 + 3.0, 0 - 2 + 6.0)
    val got = AnisoPq.choleskySolve(a.clone(), 3, 1, (_, r) => b(r))(0)
    x.zip(got).foreach { case (w, g) => assert(math.abs(w - g) < 1e-12) }
    // seeded SPD system A = BᵀB + n·I, several right-hand sides: one
    // factorisation serving all of them equals one solve per side, bit
    // for bit, and each solution reproduces its side
    val rng = new scala.util.Random(77)
    val n = 7
    val bm = Array.fill(n, n)(rng.nextGaussian())
    val spd = Array.tabulate(n * n) { e =>
      val (r, c) = (e / n, e % n)
      (0 until n).map(t => bm(t)(r) * bm(t)(c)).sum +
        (if (r == c) n.toDouble else 0.0)
    }
    val sides = Array.fill(5, n)(rng.nextGaussian())
    val multi = AnisoPq.choleskySolve(spd, n, sides.length,
      (t, r) => sides(t)(r))
    sides.indices.foreach { t =>
      val one = AnisoPq.choleskySolve(spd, n, 1, (_, r) => sides(t)(r))(0)
      assert(multi(t).map(java.lang.Double.doubleToRawLongBits).toSeq ==
        one.map(java.lang.Double.doubleToRawLongBits).toSeq)
      (0 until n).foreach { r =>
        val ax = (0 until n).map(c => spd(r * n + c) * multi(t)(c)).sum
        assert(math.abs(ax - sides(t)(r)) < 1e-9)
      }
    }
  }

  test("anisotropic assignment prefers the parallel-accurate codeword " +
    "where L2 is tied; eta=1 degenerates to L2") {
    import graft.expressions.AnisoKernel
    // x = (1,0); codeword 0 errs PARALLEL (0.9,0), codeword 1 errs
    // ORTHOGONAL (1,0.1): equal L2 (0.01), so eta=1 ties to code 0
    // and any eta>1 must pick the orthogonal-error codeword
    val book = Array(Array(0.9, 0.0), Array(1.0, 0.1))
    val x = Array(1.0, 0.0)
    assert(AnisoKernel.assign(book, 2, 1.0, x(_)) == 0)
    assert(AnisoKernel.assign(book, 2, 4.0, x(_)) == 1)
    // zero vector: pure-L2 fallback, ties to lower code
    assert(AnisoKernel.assign(book, 2, 4.0, _ => 0.0) == 0)
  }

  test("trainAniso at eta=1 reproduces plain k-means training " +
    "bit-for-bit (assignment and update both degenerate)") {
    val rows = (0 until 24).map { i =>
      (i.toLong, Seq(
        (math.cos(i * 0.7) * 2).toFloat, (math.sin(i * 1.3)).toFloat,
        (i % 5 - 2).toFloat, (math.cos(i * 0.3)).toFloat))
    }
    val df = vecsDf(rows: _*)
    val plain = Pq.trainCodebooks(df, "vec_id", "embedding",
      m = 2, k = 4, maxIter = 3)
    val aniso = AnisoPq.trainAniso(df, "vec_id", "embedding",
      m = 2, k = 4, eta = 1.0, maxIter = 3)
    assert(aniso.dsub == plain.dsub)
    for (j <- 0 until 2; c <- 0 until 4)
      assert(aniso.codebooks(j)(c).toSeq == plain.codebooks(j)(c).toSeq,
        s"codebook ($j,$c) differs")
  }

  test("trainAniso at eta>1 cuts the parallel residual share at the " +
    "cost of total MSE (the score-aware trade)") {
    // anisotropic 8-d corpus with strong radial structure
    val rows = (0 until 64).map { i =>
      val base = Array.fill(8)(0.0)
      base(i % 4) = 1.0 + 0.1 * (i % 7)
      base((i + 1) % 8) += 0.05 * (i % 3)
      (i.toLong, base.map(_.toFloat).toSeq)
    }
    val df = vecsDf(rows: _*)
    val plain = Pq.trainCodebooks(df, "vec_id", "embedding",
      m = 2, k = 4, maxIter = 4)
    val aniso = AnisoPq.trainAniso(df, "vec_id", "embedding",
      m = 2, k = 4, eta = 8.0, maxIter = 4)
    // measure total L2 residual and its parallel component per model
    def errs(model: Pq.PqModel, eta: Double): (Double, Double) = {
      val enc =
        if (eta == 1.0) Pq.encode(df, "vec_id", "embedding", model)
        else AnisoPq.encode(df, "vec_id", "embedding", model, eta)
      val joined = df.join(enc, "vec_id").collect()
      var tot = 0.0
      var par = 0.0
      joined.foreach { r =>
        val x = r.getSeq[Float](1).map(_.toDouble).toArray
        val codes = r.getSeq[Int](2)
        for (j <- 0 until model.m) {
          val sub = x.slice(j * model.dsub, (j + 1) * model.dsub)
          val cen = model.codebooks(j)(codes(j)).map(_.toDouble)
          val res = sub.zip(cen).map { case (a, b) => a - b }
          val n2 = sub.map(v => v * v).sum
          tot += res.map(v => v * v).sum
          if (n2 > 0) {
            val d = res.zip(sub).map { case (a, b) => a * b }.sum
            par += d * d / n2
          }
        }
      }
      (tot, par)
    }
    val (totP, parP) = errs(plain, 1.0)
    val (totA, parA) = errs(aniso, 8.0)
    assert(totA >= totP - 1e-9,
      s"aniso should concede total MSE ($totA vs $totP)")
    assert(parA < parP,
      s"aniso must cut the parallel residual ($parA vs $parP)")
  }
}

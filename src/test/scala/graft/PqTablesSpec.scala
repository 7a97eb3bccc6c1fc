package graft

import graft.expressions.PqTables
import org.scalatest.funsuite.AnyFunSuite

/** The quantizer table builders against plain-Scala copies of the
  * per-site loops they replaced, compared bit for bit over seeded
  * random geometries — the v66/v68 tables sit behind a gated serving
  * path, so no oracle hash pins them end to end.
  */
class PqTablesSpec extends AnyFunSuite {

  private type Books = Array[Array[Array[Float]]]

  private def tab(cb: Books)(cell: (Int, Array[Float]) => Double)
      : Array[Array[Double]] =
    Array.tabulate(cb.length, cb(0).length)((j, c) => cell(j, cb(j)(c)))

  private def refL2(q: Array[Double], cb: Books) = tab(cb) { (j, u) =>
    var acc = 0.0
    for (i <- u.indices) {
      val d = q(j * u.length + i) - u(i).toDouble
      acc += d * d
    }
    acc
  }

  private def refIp(q: Array[Double], cb: Books) = tab(cb) { (j, u) =>
    var acc = 0.0
    for (i <- u.indices) acc += q(j * u.length + i) * u(i)
    acc
  }

  private def refExpanded(q: Array[Double], cb: Books) = tab(cb) { (j, u) =>
    var acc = 0.0
    for (i <- u.indices) {
      val ctr = u(i).toDouble
      acc += ctr * ctr - 2.0 * q(j * u.length + i) * ctr
    }
    acc
  }

  private def refNorm(cb: Books) = tab(cb) { (_, u) =>
    var acc = 0.0
    for (i <- u.indices) acc += u(i).toDouble * u(i).toDouble
    acc
  }

  private def refCross(a: Books, b: Books) =
    Array.tabulate(a.length, a(0).length, b(0).length) { (j, x, y) =>
      var acc = 0.0
      for (i <- a(j)(x).indices)
        acc += a(j)(x)(i).toDouble * b(j)(y)(i).toDouble
      acc
    }

  private def bits(t: Array[Array[Double]]): Seq[Long] =
    t.toSeq.flatMap(_.map(java.lang.Double.doubleToRawLongBits))

  test("every table builder is bit-identical to the loop it replaced " +
      "(seeded m, k, dsub; zero and negative components)") {
    val rng = new scala.util.Random(4242)
    // a third of the components are exactly zero, signs are mixed
    def comp(): Float = rng.nextInt(3) match {
      case 0 => 0f
      case _ => ((rng.nextDouble() - 0.5) * 4).toFloat
    }
    for (trial <- 0 until 200) {
      val (m, k1, k2, dsub) = (1 + rng.nextInt(6), 1 + rng.nextInt(9),
        1 + rng.nextInt(9), 1 + rng.nextInt(12))
      def books(k: Int): Books = Array.fill(m, k, dsub)(comp())
      val (a, b) = (books(k1), books(k2))
      // half the queries are widened floats, as a stored query arrives
      val q = Array.fill(m * dsub)(
        if (trial % 2 == 0) comp().toDouble else rng.nextGaussian())
      val clue = s"trial $trial (m=$m k=$k1/$k2 dsub=$dsub)"
      assert(bits(PqTables.l2Lut(q, a)) == bits(refL2(q, a)), clue)
      assert(bits(PqTables.ipLut(q, a)) == bits(refIp(q, a)), clue)
      assert(bits(PqTables.expandedL2Lut(q, b)) ==
        bits(refExpanded(q, b)), clue)
      assert(bits(PqTables.normTable(b)) == bits(refNorm(b)), clue)
      val cross = PqTables.crossTable(a, b)
      assert(cross.length == m && cross.forall(_.length == k1), clue)
      assert(cross.toSeq.flatMap(bits) ==
        refCross(a, b).toSeq.flatMap(bits), clue)
    }
  }
}

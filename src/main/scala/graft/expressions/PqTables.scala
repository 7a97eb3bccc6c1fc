package graft.expressions

/** The lookup and cross tables of the quantizer family, built
  * driver-side (or once per executor, [[AqPair.tables]]) from float
  * codebooks `cb(j)(c)` — centroid c of subspace j, dsub = its length.
  * m and k are read from the codebooks.
  *
  * Arithmetic contract (what every SQL oracle replays): each table
  * cell is ONE sequential double sum over the subspace, i ascending
  * from 0.0, every float widened to double before any subtraction or
  * product. [[expandedL2Lut]] sums c² − 2·q·c per component, which
  * rounds differently from `normTable − 2·ipLut`, so it is a rule of
  * its own, not a composition of the other two.
  */
object PqTables {
  type Books = Array[Array[Array[Float]]]

  private def sum(n: Int)(term: Int => Double): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) { acc += term(i); i += 1 }
    acc
  }

  /** table(j)(c) = f(offset of subspace j in the query, centroid). */
  private def perCode(cb: Books)(f: (Int, Array[Float]) => Double)
      : Array[Array[Double]] =
    Array.tabulate(cb.length, cb(0).length)((j, c) =>
      f(j * cb(j)(c).length, cb(j)(c)))

  /** Σᵢ (q − c)² — the L2 ADC table. */
  def l2Lut(q: Array[Double], cb: Books): Array[Array[Double]] =
    perCode(cb)((off, u) => sum(u.length) { i =>
      val d = q(off + i) - u(i).toDouble
      d * d
    })

  /** Σᵢ q·c — the inner-product ADC table. */
  def ipLut(q: Array[Double], cb: Books): Array[Array[Double]] =
    perCode(cb)((off, u) => sum(u.length)(i => q(off + i) * u(i).toDouble))

  /** Σᵢ (c² − 2·q·c) — the query-dependent part of a later stage's
    * ‖q − … − c‖² expansion. */
  def expandedL2Lut(q: Array[Double], cb: Books): Array[Array[Double]] =
    perCode(cb)((off, u) => sum(u.length) { i =>
      val c = u(i).toDouble
      c * c - 2.0 * q(off + i) * c
    })

  /** Σᵢ c² — query-independent. */
  def normTable(cb: Books): Array[Array[Double]] =
    perCode(cb)((_, u) => sum(u.length) { i =>
      val c = u(i).toDouble
      c * c
    })

  /** cross(j)(ca)(cb) = Σᵢ a·b between two stages' centroids —
    * query-independent. */
  def crossTable(a: Books, b: Books): Array[Array[Array[Double]]] =
    Array.tabulate(a.length, a(0).length, b(0).length) { (j, x, y) =>
      val (u, v) = (a(j)(x), b(j)(y))
      sum(u.length)(i => u(i).toDouble * v(i).toDouble)
    }
}

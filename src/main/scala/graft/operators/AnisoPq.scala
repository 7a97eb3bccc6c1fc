package graft.operators

import graft.expressions.{AnisoEncode, AnisoSubAssign}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** ANISOTROPIC (score-aware) product quantization — Guo et al.,
  * "Accelerating Large-Scale Inference with Anisotropic Vector
  * Quantization" (ICML 2020; the public ScaNN training recipe),
  * trained per subspace (the block-diagonal decomposition: each
  * subspace's parallel direction is its own subvector's direction).
  * The round-13 frontier measured WHY this exists: k-means training
  * minimizes average reconstruction MSE, and v66/v67 proved MSE is
  * the wrong proxy for serving recall (identical MSE, recall 0.9 vs
  * 0.2; a third RVQ stage cut MSE 40% with recall flat). The
  * score-aware loss replaces the proxy: residual error PARALLEL to
  * the datapoint — the component that perturbs the inner-product
  * score of exactly the queries for which that point is a top answer
  * (the paper's §3 argument) — is weighted η× the orthogonal
  * component, in both the assignment metric
  * ([[graft.expressions.AnisoKernel]]) and the codebook update.
  *
  * The update has a closed form (the paper's Theorem 4.2 restricted
  * to one subspace): minimizing Σᵢ ‖xᵢ−c‖² + (η−1)·((xᵢ−c)ᵀx̂ᵢ)²
  * over c gives, using x̂ᵢᵀxᵢ = ‖xᵢ‖ so the cross term collapses,
  *
  *   [ n·I + (η−1)·Σᵢ x̂ᵢx̂ᵢᵀ ] c = η·Σᵢ xᵢ
  *
  * — a dsub×dsub symmetric positive-definite solve per (subspace,
  * cluster). η = 1 recovers the k-means mean exactly (spec-pinned).
  *
  * Spark shape, scale notes (what survives 100 TB):
  *  - assignment is the [[AnisoSubAssign]] kernel over the exploded
  *    (id, j, subvector) training frame — the [[Pq.trainCodebooks]]
  *    loop shape, one narrow pass per iteration, no shuffle;
  *  - the update's sufficient statistics (n, Σx — dsub doubles — and
  *    the Gramian Σx̂x̂ᵀ — dsub² doubles) accumulate per (j, cluster)
  *    via `aggregateByKey` with map-side combine: per-executor state
  *    is m·k·dsub² doubles (m=8, k=16, dsub=192 → ~38 MB) REGARDLESS
  *    of corpus rows — the MLlib Gramian split ([[Opq]]'s SVD uses
  *    the same treeAggregate shape), corpus size raises only the
  *    aggregate's input;
  *  - the m·k Cholesky solves (dsub³ each) are driver-local model
  *    work, independent of corpus size;
  *  - determinism: init = subvectors of the k lowest-id rows (the Pq
  *    convention), assignment ties to the lower code, solved centers
  *    rounded to 1e-6 per iteration so distributed-sum order noise
  *    (~1e-13 relative) can never flip a later assignment.
  */
object AnisoPq {

  /** Train per-subspace anisotropic codebooks; returns a plain
    * [[Pq.PqModel]] (the downstream encode/persist/oracle machinery
    * is shared — only the training loss and the serving-encode metric
    * differ). */
  /** `trainPartitions` sizes the exploded training frame's parallelism
    * (the [[Pq.trainCodebooks]] knob): the default 4 fits the bench
    * fixtures; corpus-scale training raises it so the aggregateByKey's
    * map side isn't bottlenecked on 4 tasks. */
  def trainAniso(emb: DataFrame, idCol: String, vecCol: String,
                 m: Int, k: Int, eta: Double, maxIter: Int = 2,
                 trainPartitions: Int = 4)
      : Pq.PqModel = {
    require(eta >= 1.0, s"eta=$eta must be >= 1 (1 = plain L2)")
    val dim = emb.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val subRows = emb.select(col(idCol),
        explode(array((0 until m).map { j =>
          struct(lit(j).as("j"),
            slice(col(vecCol), j * dsub + 1, dsub).cast("array<double>")
              .as("sv"))
        }: _*)).as("e"))
      .select(col(idCol), col("e.j").as("j"), col("e.sv").as("sv"))
      .repartition(trainPartitions)
      .persist()
    try {
      val initRows = emb.orderBy(col(idCol)).limit(k)
        .select(col(vecCol).cast("array<double>")).collect()
        .map(_.getSeq[Double](0))
      require(initRows.length >= k,
        s"need at least $k training vectors, got ${initRows.length}")
      var centers: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
        initRows.map(v => v.slice(j * dsub, (j + 1) * dsub).toArray)
      }
      for (_ <- 1 to maxIter) {
        val cenArr = centers
        val assigned = subRows.select(col("j"),
          Bridge.column(AnisoSubAssign(Bridge.expression(col("j")),
            Bridge.expression(col("sv")), cenArr, eta)).as("c"),
          col("sv"))
        // sufficient statistics per (j, c): n, S = Σx, G = Σ x̂x̂ᵀ
        // (zero-norm subvectors contribute to n and S only — no
        // parallel direction exists, matching the assignment metric's
        // L2 fallback)
        val stats = assigned.rdd
          .map(r => ((r.getInt(0), r.getInt(1)),
            r.getSeq[Double](2).toArray))
          .aggregateByKey(
            (0L, new Array[Double](dsub), new Array[Double](dsub * dsub)))(
            { case ((n, s, g), x) =>
              var norm2 = 0.0
              var i = 0
              while (i < dsub) { s(i) += x(i); norm2 += x(i) * x(i); i += 1 }
              if (norm2 > 0.0) {
                // hoisted loop-invariant (bit-identical: same sqrt
                // value, same per-element divide order as the inline
                // form this replaces — dsub² sqrts saved per row)
                val nrm = math.sqrt(norm2)
                var a = 0
                while (a < dsub) {
                  val xa = x(a) / nrm
                  var b = 0
                  while (b < dsub) {
                    g(a * dsub + b) += xa * x(b) / nrm
                    b += 1
                  }
                  a += 1
                }
              }
              (n + 1, s, g)
            },
            { case ((n1, s1, g1), (n2, s2, g2)) =>
              var i = 0
              while (i < dsub) { s1(i) += s2(i); i += 1 }
              i = 0
              while (i < dsub * dsub) { g1(i) += g2(i); i += 1 }
              (n1 + n2, s1, g1)
            })
          .collect()
          .toMap
        centers = Array.tabulate(m) { j =>
          Array.tabulate(k) { c =>
            stats.get((j, c)) match {
              case None => centers(j)(c) // empty cluster: keep center
              case Some((n, s, g)) =>
                // A = n·I + (η−1)·G, rhs = η·S; SPD Cholesky solve
                val a = new Array[Double](dsub * dsub)
                var i = 0
                while (i < dsub * dsub) {
                  a(i) = (eta - 1.0) * g(i); i += 1
                }
                i = 0
                while (i < dsub) { a(i * dsub + i) += n.toDouble; i += 1 }
                val rhs = s.map(_ * eta)
                choleskySolve(a, dsub, 1, (_, r) => rhs(r))(0)
                  .map(v => math.rint(v * 1e6) / 1e6)
            }
          }
        }
      }
      Pq.PqModel(dsub,
        centers.map(_.map(_.map(_.toFloat))))
    } finally { subRows.unpersist(): Unit }
  }

  /** Cholesky solve of the SPD system `a`·x = rhs (row-major n×n):
    * factor once, then forward/back-substitute `nRhs` right-hand sides,
    * rhs(t, row) supplying element `row` of system t. Returns
    * sol(t)(row). Driver-local model math ([[Aq.refine]]'s M-step
    * shares it), no library dependency, deterministic. */
  private[graft] def choleskySolve(a: Array[Double], n: Int, nRhs: Int,
                                   rhs: (Int, Int) => Double)
      : Array[Array[Double]] = {
    val l = new Array[Double](n * n)
    var i = 0
    while (i < n) {
      var j = 0
      while (j <= i) {
        var acc = a(i * n + j)
        var t = 0
        while (t < j) { acc -= l(i * n + t) * l(j * n + t); t += 1 }
        if (i == j) {
          require(acc > 0.0,
            s"choleskySolve: matrix not positive definite at $i")
          l(i * n + i) = math.sqrt(acc)
        } else l(i * n + j) = acc / l(j * n + j)
        j += 1
      }
      i += 1
    }
    Array.tabulate(nRhs) { t =>
      val y = new Array[Double](n)
      var r = 0
      while (r < n) {
        var acc = rhs(t, r)
        var s = 0
        while (s < r) { acc -= l(r * n + s) * y(s); s += 1 }
        y(r) = acc / l(r * n + r)
        r += 1
      }
      val x = new Array[Double](n)
      r = n - 1
      while (r >= 0) {
        var acc = y(r)
        var s = r + 1
        while (s < n) { acc -= l(s * n + r) * x(s); s += 1 }
        x(r) = acc / l(r * n + r)
        r -= 1
      }
      x
    }
  }

  /** The serving-side anisotropic encode as a column ([[AnisoEncode]]
    * over the persisted float codebooks) — index-build work, the
    * [[Pq.encode]] twin at the score-aware metric. */
  def encodeCol(vecCol: Column, model: Pq.PqModel, eta: Double): Column =
    Bridge.column(AnisoEncode(Bridge.expression(vecCol),
      model.dsub, model.codebooks, eta))

  /** (idCol, codes) under the anisotropic assignment. */
  def encode(emb: DataFrame, idCol: String, vecCol: String,
             model: Pq.PqModel, eta: Double): DataFrame =
    emb.select(col(idCol), encodeCol(col(vecCol), model, eta).as("codes"))

  /** (idCol, vecCol → x − reconstruct(anisoEncode(x))) —
    * [[Pq.residuals]] with the score-aware assignment picking the
    * code; the subtraction is the same
    * [[graft.expressions.PqResidual]] kernel (exact persisted values
    * widened to double, SQL-replayable without a rounding step). */
  def residuals(emb: DataFrame, idCol: String, vecCol: String,
                model: Pq.PqModel, eta: Double): DataFrame =
    emb.select(col(idCol),
      Bridge.column(graft.expressions.PqResidual(
        Bridge.expression(col(vecCol)),
        Bridge.expression(encodeCol(col(vecCol), model, eta)),
        model.dsub, model.codebooks)).as(vecCol))
}

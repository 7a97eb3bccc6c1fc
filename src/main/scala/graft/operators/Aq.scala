package graft.operators

import graft.expressions.{AqJointEncodeBcast, AqPair, AqReconErrorBcast}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** JOINTLY-REFINED two-stage additive quantization (AQ/LSQ restricted
  * to two stages — Babenko & Lempitsky CVPR 2014; Martinez et al.
  * ECCV 2016) — the follow-up v67 demands: greedy RVQ's depth ladder
  * cut distortion with recall FLAT because each stage minimizes its
  * own residual energy and cannot ADDRESS the combinatorial code
  * space. With exactly two stages the joint E-step is EXACT by
  * enumeration ([[graft.expressions.AqJointEncodeBcast]]: per-subspace
  * argmin over all k1·k2 code pairs via decomposed tables), and the
  * M-step — codebooks re-fit with assignments FIXED — is a linear
  * least squares that decomposes per subspace and is SHARED across
  * the dsub dimensions: for subspace j solve
  *
  *   [ diag(n1)+λI   N12      ] [U]   [S1]
  *   [ N12ᵀ          diag(n2)+λI ] [V] = [S2]
  *
  * where n1/n2 are code-usage counts, N12 the co-occurrence matrix,
  * S1/S2 the per-code coordinate sums — one (k1+k2)² Cholesky per
  * subspace serving all dsub right-hand sides. The ridge λ pins the
  * gauge freedom (adding w to U while subtracting it from V leaves
  * every reconstruction unchanged ⇒ the unregularized system is
  * singular) and makes the solve deterministic.
  *
  * Spark shape (100 TB): the E-step is one narrow kernel pass (the
  * encode convention); the M-step's sufficient statistics aggregate
  * per subspace with map-side combine — k1·k2 + (k1+k2)·(dsub+1)
  * doubles of state per subspace regardless of corpus rows — and the
  * m solves are driver-local model work. Determinism: the E-step ties
  * to the lower (c1, c2); M-step solutions round to 1e-6 (the Pq
  * convention) so distributed-sum order noise cannot flip a later
  * assignment.
  */
object Aq {

  /** Ridge weight fraction: per subspace, λ = RidgeFrac · rows/(k1+k2)
    * (see [[refine]]) — half the mean per-code count 2·rows/(k1+k2)
    * (each vector takes one c1 AND one c2), so scale-free in corpus
    * rows. The v70 artifacts were trained under exactly this formula;
    * changing it requires a v70 fingerprint bump. */
  val RidgeFrac = 1e-6

  /** One joint refinement pass over (cb1, cb2): E-step (joint encode)
    * then M-step (per-subspace ridge least squares), `iters` times.
    * Returns the refined pair, each center rounded to 1e-6.
    */
  def refine(emb: DataFrame, idCol: String, vecCol: String,
             cb1: Pq.PqModel, cb2: Pq.PqModel, iters: Int)
      : (Pq.PqModel, Pq.PqModel) = {
    require(cb1.dsub == cb2.dsub, "stage dsub mismatch")
    val dsub = cb1.dsub
    val m = cb1.m
    val (k1, k2) = (cb1.k, cb2.k)
    var u = cb1
    var v = cb2
    for (_ <- 1 to iters) {
      val joint = encodeJoint(emb, idCol, vecCol, u, v)
      // per (j): n1, n2, N12, S1 (k1×dsub), S2 (k2×dsub)
      val stats = joint
        .select(col(idCol), col("codes"),
          col(vecCol).cast("array<double>").as("_x"))
        .rdd
        .flatMap { r =>
          val codes = r.getSeq[Int](1)
          val x = r.getSeq[Double](2).toArray
          (0 until m).iterator.map { j =>
            (j, (codes(j), codes(m + j),
              x.slice(j * dsub, (j + 1) * dsub)))
          }
        }
        .aggregateByKey((new Array[Long](k1), new Array[Long](k2),
          new Array[Long](k1 * k2), new Array[Double](k1 * dsub),
          new Array[Double](k2 * dsub)))(
          { case ((n1, n2, n12, s1, s2), (c1, c2, xj)) =>
            n1(c1) += 1; n2(c2) += 1; n12(c1 * k2 + c2) += 1
            var i = 0
            while (i < dsub) {
              s1(c1 * dsub + i) += xj(i)
              s2(c2 * dsub + i) += xj(i)
              i += 1
            }
            (n1, n2, n12, s1, s2)
          },
          { case ((a1, a2, a12, b1, b2), (c1, c2, c12, d1, d2)) =>
            var i = 0
            while (i < k1) { a1(i) += c1(i); i += 1 }
            i = 0
            while (i < k2) { a2(i) += c2(i); i += 1 }
            i = 0
            while (i < k1 * k2) { a12(i) += c12(i); i += 1 }
            i = 0
            while (i < k1 * dsub) { b1(i) += d1(i); i += 1 }
            i = 0
            while (i < k2 * dsub) { b2(i) += d2(i); i += 1 }
            (a1, a2, a12, b1, b2)
          })
        .collect()
        .toMap
      val newU = Array.ofDim[Array[Float]](m, k1)
      val newV = Array.ofDim[Array[Float]](m, k2)
      for (j <- 0 until m) {
        val (n1, n2, n12, s1, s2) = stats(j)
        val n = k1 + k2
        val rows = n1.sum // corpus rows seen by this subspace
        val lambda = math.max(RidgeFrac * rows / n, 1e-9)
        val a = new Array[Double](n * n)
        for (p <- 0 until k1) a(p * n + p) = n1(p) + lambda
        for (q <- 0 until k2)
          a((k1 + q) * n + (k1 + q)) = n2(q) + lambda
        for (p <- 0 until k1; q <- 0 until k2) {
          a(p * n + (k1 + q)) = n12(p * k2 + q).toDouble
          a((k1 + q) * n + p) = n12(p * k2 + q).toDouble
        }
        // one Cholesky factorization, dsub right-hand sides
        val sol = AnisoPq.choleskySolve(a, n, dsub, (t, row) => {
          if (row < k1) s1(row * dsub + t) else s2((row - k1) * dsub + t)
        })
        for (p <- 0 until k1)
          newU(j)(p) = Array.tabulate(dsub)(t =>
            (math.rint(sol(t)(p) * 1e6) / 1e6).toFloat)
        for (q <- 0 until k2)
          newV(j)(q) = Array.tabulate(dsub)(t =>
            (math.rint(sol(t)(k1 + q) * 1e6) / 1e6).toFloat)
      }
      u = Pq.PqModel(dsub, newU)
      v = Pq.PqModel(dsub, newV)
    }
    (u, v)
  }

  /** The joint E-step as a column ([[AqJointEncodeBcast]]): (idCol, vecCol,
    * codes) with codes = codes1 ++ codes2, length 2m. vecCol is kept
    * so the M-step reads subvectors without a second scan.
    *
    * Scan budget (the PqKernels convention, stated because v70 is the
    * template a 16-byte serving tier would copy): exact joint
    * enumeration costs k1·k2 table lookups per (vector, subspace) —
    * m·k1·k2 adds/compares per vector (fixture: 8·128·128 ≈ 131k)
    * after the one-off per-executor table build folds the dsub-wide
    * dot products into the k1·k2 cross table. That is the price of
    * exactness over the greedy two-stage encode (m·(k1+k2) per
    * vector) and the reason the cross table is built once per
    * executor behind the pair's Broadcast. */
  def encodeJoint(emb: DataFrame, idCol: String, vecCol: String,
                  cb1: Pq.PqModel, cb2: Pq.PqModel): DataFrame =
    // fan out first: the k1·k2 enumeration is the costliest encode in
    // the engine and a one-file corpus scan would single-thread it
    Kernels.fanOut(emb).select(col(idCol), col(vecCol),
      encodeJointCol(col(vecCol), cb1, cb2).as("codes"))

  /** One Broadcast per DISTINCT codebook pair per JVM, keyed by a
    * content digest (the [[Opq]] cache's lifecycle: JVM-lifetime,
    * bounded by the per-sfDir model caches' handful of trained pairs)
    * — repeated encode/meter calls over one pair share one
    * executor-resident copy AND one per-executor k1·k2 table build. */
  private val pairCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.broadcast.Broadcast[AqPair]]()

  private def digest(md: java.security.MessageDigest,
                     cb: Array[Array[Array[Float]]]): Unit = {
    val buf = java.nio.ByteBuffer.allocate(4)
    cb.foreach(_.foreach(_.foreach { v =>
      buf.clear()
      buf.putFloat(v)
      md.update(buf.array())
    }))
  }

  private def pairBcast(cb1: Pq.PqModel, cb2: Pq.PqModel)
      : org.apache.spark.broadcast.Broadcast[AqPair] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    digest(md, cb1.codebooks)
    digest(md, cb2.codebooks)
    val key = cb1.dsub + ":" + md.digest().map("%02x".format(_)).mkString
    pairCache.computeIfAbsent(key,
      _ => org.apache.spark.sql.SparkSession.active.sparkContext
        .broadcast(new AqPair(cb1.dsub, cb1.codebooks, cb2.codebooks)))
  }

  /** The joint encode column: the pair always rides its digest-keyed
    * cached Broadcast ([[pairBcast]]). */
  def encodeJointCol(vec: Column, cb1: Pq.PqModel,
                     cb2: Pq.PqModel): Column =
    Bridge.column(AqJointEncodeBcast(Bridge.expression(vec),
      pairBcast(cb1, cb2)))

  /** The two-stage reconstruction error as a column
    * ([[graft.expressions.AqReconErrorBcast]] — v70's distortion
    * meter), over the same cached pair broadcast as [[encodeJointCol]]. */
  def reconErrorCol(vec: Column, codes: Column, cb1: Pq.PqModel,
                    cb2: Pq.PqModel): Column =
    Bridge.column(AqReconErrorBcast(Bridge.expression(vec),
      Bridge.expression(codes), pairBcast(cb1, cb2)))
}

package graft.operators

import graft.expressions.MatVecRotateBcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Optimized Product Quantization — a LEARNED orthogonal rotation in
  * front of [[Pq]]'s subspace quantizer, at the same code budget
  * (Ge, He, Ke & Sun, "Optimized Product Quantization for Approximate
  * Nearest Neighbor Search", CVPR 2013). Plain PQ cuts the vector into
  * CONTIGUOUS dimension blocks; when the corpus is anisotropic (a few
  * directions carry most of the variance — any clustered embedding
  * space), whichever blocks those directions land in exhaust their 16
  * or 256 centroids on between-cluster structure while other blocks
  * quantize noise. The parametric OPQ fix (the paper's §4, the
  * eigenvalue-allocation variant FAISS ships as its OPQMatrix
  * pre-transform): rotate into the eigenbasis of the corpus
  * second-moment matrix, then PERMUTE the eigendirections so every
  * subspace receives an (approximately) equal share of the spectrum —
  * argmin over permutations of the max subspace log-eigenvalue
  * product, greedily. Quantizing R·x with per-subspace codebooks then
  * spends each subspace's centroids on comparable variance, and
  * because R is orthogonal, L2 (and on normalized corpora cosine)
  * geometry is EXACTLY preserved — the exact ground truth is the same
  * scan, rotated or not.
  *
  * Spark shape, scale notes (what survives 100 TB):
  *  - the second-moment spectrum comes from the PUBLIC MLlib primitive
  *    `RowMatrix.computeSVD` over the train split: the Gramian is a
  *    distributed treeAggregate (d×d per-partition accumulators — cost
  *    grows with d², NOT with corpus rows) and the d×d
  *    eigendecomposition is driver-local, the same split MLlib's own
  *    PCA uses;
  *  - the trained R is model-sized (d² doubles) and rides the
  *    [[MatVecRotateBcast]] kernel behind an explicit cached Broadcast
  *    (d = 1536 is ~18 MiB: a literal would re-ship per stage, the
  *    broadcast ships once per executor) — applying it is one narrow
  *    map-stage pass, no shuffle;
  *  - everything downstream (codebook training, encode, ADC, IVF
  *    routing, graph walks) is [[Pq]]/[[Ann]] machinery unchanged —
  *    OPQ composes as a pre-transform, which is why serving stacks
  *    deploy it as a drop-in in front of an existing PQ index.
  */
object Opq {

  /** Greedy eigenvalue allocation (Ge et al. §4.2): directions sorted
    * by eigenvalue descending are dealt one at a time, LEVEL BY LEVEL
    * (emptier buckets first), to the subspace with the smallest
    * current log-eigenvalue product among the least-filled non-full
    * subspaces — so the top m directions land in m DISTINCT subspaces
    * and each round pairs the largest remaining eigenvalues with the
    * smallest accumulated products. Comparing products across buckets
    * of EQUAL fill is what makes the log-sum comparison meaningful:
    * comparing an empty bucket's product (1, logSum 0) against a
    * filled one is sign-sensitive — with all λ < 1 (every normalized
    * corpus: unit-norm vectors give trace 1) a filled bucket's logSum
    * is NEGATIVE, so a fill-agnostic minBy would keep stuffing every
    * signal direction into whichever bucket took the first one, the
    * exact inversion of the paper's balanced spectrum. (Floor 1e-12
    * keeps rank-deficient spectra — null-space directions — from
    * collapsing the products to -∞.) Returns `order`: order(o) = the
    * index (into `lambdas`) of the direction serving output dimension
    * o, where subspace j owns output dims [j·dsub, (j+1)·dsub).
    * Deterministic: ties in λ break to the lower direction index, ties
    * in (fill, product) to the lower subspace id.
    */
  def allocate(lambdas: Array[Double], m: Int): Array[Int] = {
    val dim = lambdas.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val byVar = lambdas.zipWithIndex
      .sortBy { case (l, i) => (-l, i) }
    val logSum = Array.fill(m)(0.0)
    val buckets = Array.fill(m)(List.empty[Int])
    byVar.foreach { case (l, i) =>
      val j = (0 until m)
        .filter(buckets(_).length < dsub)
        .minBy(j => (buckets(j).length, logSum(j), j))
      logSum(j) += math.log(math.max(l, 1e-12))
      buckets(j) = buckets(j) :+ i
    }
    buckets.flatten.toArray
  }

  /** Train the parametric-OPQ rotation on `train`: rows of the
    * returned matrix are the allocated eigendirections (top singular
    * directions of the UNCENTERED train matrix — the vectors live on
    * the unit sphere, so the mean direction is itself signal — plus a
    * deterministic Gram-Schmidt completion against the canonical basis
    * for the null space a rank-deficient sample leaves). R is
    * orthonormal by construction; rotated(o) = Σ_i R(o)(i)·x(i).
    */
  /** Task-binary note (round-15 warm-sweep finding): MLlib's
    * `computeSVD` aggregates the Gramian with a treeAggregate whose
    * ZERO VALUE is the d(d+1)/2-double upper-triangle — at d = 1536
    * that is one ~18.9 MiB task binary, ONCE per rotation training
    * job (a from-scratch artifact rebuild), never on a serve or query
    * path (those ride [[MatVecRotateBcast]]). Left as-is deliberately:
    * replacing the library SVD with a hand-rolled Gramian +
    * driver-side eigensolver would perturb the trained rotation in
    * the last bits and re-pin every OPQ artifact for a one-off
    * training-stage ship that at deployment scale amortizes over the
    * whole corpus pass it prices. */
  def trainRotation(train: DataFrame, vecCol: String, dim: Int,
                    m: Int): Array[Array[Double]] = {
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    import org.apache.spark.mllib.linalg.Vectors
    val rdd = train
      .select(col(vecCol).cast("array<double>"))
      .rdd.map(r => Vectors.dense(r.getSeq[Double](0).toArray))
    val svd = new RowMatrix(rdd).computeSVD(dim, computeU = false)
    val r = svd.s.size // rank actually returned (≥ σ₁·rCond only)
    // directions as rows: V is d×r column-major; column c = direction c
    val dirs = Array.tabulate(r, dim)((c, i) => svd.V(i, c))
    val full = completeBasis(dirs, dim)
    // eigenvalues of the second-moment matrix ∝ σ²; completion
    // directions carry zero train variance
    val lambdas = Array.tabulate(dim)(i =>
      if (i < r) svd.s(i) * svd.s(i) else 0.0)
    val order = allocate(lambdas, m)
    order.map(full(_))
  }

  /** Complete `dirs` (orthonormal rows) to a full orthonormal basis of
    * R^dim: canonical basis vectors in index order, each projected
    * against everything accepted so far and kept iff the residual is
    * numerically independent (norm > 1e-6), then normalized. Two
    * orthogonalization passes (classic Gram-Schmidt re-orthogonalized)
    * keep the result orthonormal to ~1e-12 even at d = 1536.
    */
  private[graft] def completeBasis(dirs: Array[Array[Double]],
                                   dim: Int): Array[Array[Double]] = {
    val basis = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    dirs.foreach(basis += _.clone())
    var e = 0
    while (basis.length < dim && e < dim) {
      val v = new Array[Double](dim)
      v(e) = 1.0
      var pass = 0
      while (pass < 2) {
        var b = 0
        while (b < basis.length) {
          val u = basis(b)
          var dot = 0.0
          var i = 0
          while (i < dim) { dot += u(i) * v(i); i += 1 }
          i = 0
          while (i < dim) { v(i) -= dot * u(i); i += 1 }
          b += 1
        }
        pass += 1
      }
      var nrm = 0.0
      var i = 0
      while (i < dim) { nrm += v(i) * v(i); i += 1 }
      nrm = math.sqrt(nrm)
      if (nrm > 1e-6) {
        i = 0
        while (i < dim) { v(i) /= nrm; i += 1 }
        basis += v
      }
      e += 1
    }
    require(basis.length == dim,
      s"basis completion stalled at ${basis.length}/$dim")
    basis.toArray
  }

  /** The rotation as a persistable frame (o, rv) — the artifact a SQL
    * oracle replays the rotate pass from (one `list_dot_product` per
    * (vector, o) pair). */
  def rotationFrame(spark: SparkSession,
                    rot: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    rot.zipWithIndex.map { case (row, o) => (o, row.toSeq) }
      .toSeq.toDF("o", "rv")
  }

  /** Rehydrate a persisted [[rotationFrame]] (columns by name, the
    * loadCodebooks discipline: a corrupt artifact fails loudly). */
  def loadRotation(spark: SparkSession, dir: String): Array[Array[Double]] = {
    val rows = spark.read.parquet(dir).select("o", "rv").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toMap
    val dim = rows.keys.max + 1
    require(rows.size == dim && rows.head._2.length == dim,
      s"rotation artifact at $dir is not a dense ${dim}×$dim matrix " +
        s"(${rows.size} rows)")
    Array.tabulate(dim)(rows(_))
  }

  /** One Broadcast per DISTINCT trained matrix per JVM, keyed by a
    * CONTENT digest (md5 of the row-major doubles) — repeated
    * [[rotate]] calls over one loaded rotation share a single
    * executor-resident copy instead of re-broadcasting 18 MiB per
    * call, and two separately-LOADED copies of one persisted rotation
    * dedupe to one broadcast. Lifecycle, stated honestly: entries live
    * for the JVM (a broadcast pins its value in the driver
    * BlockManager, so a weak-keyed cache could never actually collect
    * one — the round-14 comment claiming GC-unpersist was wrong);
    * the bound is the number of distinct trained rotations, which the
    * per-sfDir model caches keep to a handful. */
  private val bcastCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]]()

  /** md5 over the matrix bytes — ~30 ms at d = 1536, paid once per
    * [[rotateCol]] call (vs re-shipping 18 MiB per stage without the
    * cache). */
  private def rotDigest(rot: Array[Array[Double]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    rot.foreach { row =>
      row.foreach { v =>
        buf.clear()
        buf.putDouble(v)
        md.update(buf.array())
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** R·x as a column — raw dots; wrap rank-sensitive consumers in
    * `round` (see [[MatVecRotateBcast]]'s arithmetic contract). The
    * matrix rides the digest-keyed cached Broadcast ([[bcastCache]])
    * at every dimension. */
  def rotateCol(vecCol: Column, rot: Array[Array[Double]]): Column = {
    val bc = bcastCache.computeIfAbsent(rotDigest(rot),
      _ => org.apache.spark.sql.SparkSession.active
        .sparkContext.broadcast(rot))
    Bridge.column(MatVecRotateBcast(Bridge.expression(vecCol), bc,
      rot.length))
  }

  /** (idCol, vecCol → R·x rounded to 1e-6) — the rotated frame
    * codebook training, encode and LUTs consume; the 1e-6 quantization
    * (builtin `round`, DuckDB-mirrored) makes every downstream argmin
    * engine-portable. One narrow kernel pass; the input fans out
    * across cores first ([[Kernels.fanOut]]) — the d×d matvec is the
    * engine's heaviest per-row kernel and a one-file corpus scan
    * would otherwise run it on a single core.
    */
  def rotate(df: DataFrame, idCol: String, vecCol: String,
             rot: Array[Array[Double]]): DataFrame =
    Kernels.fanOut(df).select(col(idCol),
      transform(rotateCol(col(vecCol), rot), x => round(x, 6))
        .as(vecCol))
}

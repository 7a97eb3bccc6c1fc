package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** ANISOTROPIC (score-aware) quantization kernels — the assignment
  * metric of Guo et al., "Accelerating Large-Scale Inference with
  * Anisotropic Vector Quantization" (ICML 2020; the public ScaNN
  * recipe), in the per-subspace (block-diagonal) decomposition
  * [[graft.operators.AnisoPq]] trains under. The loss penalizes the
  * residual component PARALLEL to the datapoint η× more than the
  * orthogonal one: for subvector x with residual r = x − c,
  *
  *   dist(c) = ‖r‖² + (η−1)·(rᵀx̂)²,   x̂ = x/‖x‖
  *
  * because an inner-product query q·x̃ mis-scores by q·r, and for
  * queries correlated with x (the ones for which x is a top answer —
  * the paper's §3 insight) the damaging part of r is its projection
  * onto x. η = 1 degenerates to plain L2 (the [[PqSubAssign]]
  * metric — a property the specs pin). Zero-norm subvectors fall back
  * to pure L2 (no parallel direction exists).
  *
  * Arithmetic contract (what the SQL oracle replays): one i-ascending
  * double pass accumulating ‖r‖² and rᵀx (plus ‖x‖² for the
  * normalization), then dist = ssq + (η−1)·(rᵀx)²/‖x‖²; ties to the
  * lower code. Everything stays double end-to-end.
  */
object AnisoKernel {
  /** The shared per-subvector argmin — both transports (training's
    * sub-assign, serving's full-vector encode) delegate here. `at`
    * reads component i of the subvector. */
  @inline def assign(book: Array[Array[Double]], dsub: Int, eta: Double,
                     at: Int => Double): Int = {
    var norm2 = 0.0
    var i = 0
    while (i < dsub) { val x = at(i); norm2 += x * x; i += 1 }
    var best = 0
    var bestDist = Double.MaxValue
    var c = 0
    while (c < book.length) {
      val cen = book(c)
      var ssq = 0.0
      var dotrx = 0.0
      i = 0
      while (i < dsub) {
        val x = at(i)
        val d = x - cen(i)
        ssq += d * d
        dotrx += d * x
        i += 1
      }
      val dist =
        if (norm2 > 0.0) ssq + (eta - 1.0) * dotrx * dotrx / norm2
        else ssq
      if (dist < bestDist) { bestDist = dist; best = c }
      c += 1
    }
    best
  }
}

/** (subspace j, subvector) → anisotropically assigned code — the
  * training-loop twin of [[PqSubAssign]] (same transport: double
  * centers ride the expression, one kernel call per subrow). */
case class AnisoSubAssign(left: Expression, right: Expression,
                          centers: Array[Array[Array[Double]]],
                          eta: Double)
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "aniso_sub_assign"
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (left.dataType, right.dataType) match {
      case (IntegerType, ArrayType(DoubleType, _)) => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"$prettyName requires (int, array<double>), got $other")
    }
  }

  override def nullSafeEval(jAny: Any, svAny: Any): Any = {
    val j = jAny.asInstanceOf[Int]
    val sv = svAny.asInstanceOf[ArrayData]
    val book = centers(j)
    val dsub = book(0).length
    if (sv.numElements() != dsub) throw new IllegalArgumentException(
      s"$prettyName: subvector dim ${sv.numElements()} != $dsub")
    AnisoKernel.assign(book, dsub, eta, sv.getDouble)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** vector → anisotropic PQ codes: codes(j) = the [[AnisoKernel]]
  * argmin over subspace j's codebook — [[PqEncode]] with the
  * score-aware metric (float codebooks widened to double, the
  * persisted-artifact convention, so a SQL replay over the same
  * parquet floats is bit-comparable). */
case class AnisoEncode(child: Expression, dsub: Int,
                       codebooks: Array[Array[Array[Float]]],
                       eta: Double)
    extends UnaryExpression with CodegenFallback with VectorInput {
  override def prettyName: String = "aniso_encode"
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val wide: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.map(_.toDouble)))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = codebooks.length
    if (arr.numElements() != m * dsub) throw new IllegalArgumentException(
      s"$prettyName: vector dim ${arr.numElements()} != $m×$dsub")
    @inline def at(i: Int): Double =
      if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val off = j * dsub
      codes(j) = AnisoKernel.assign(wide(j), dsub, eta, i => at(off + i))
      j += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

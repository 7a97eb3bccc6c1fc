package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** vector → R·vector: a dense orthogonal change of basis applied as a
  * narrow kernel pass — the serving shape of a LEARNED TRANSFORM in
  * front of a quantizer (OPQ's rotation, Ge et al. CVPR 2013; PCA
  * whitening; random rotation). The matrix rides the expression like
  * [[PqEncode]]'s codebooks ride theirs: at d = 64 that is 32 KiB —
  * fine as a task-binary literal. Past [[MatVecKernel.BcastDim]]
  * dimensions ([[graft.operators.Opq.rotateCol]]'s switch) the matrix
  * moves to [[MatVecRotateBcast]]: at the reference d = 1536 the
  * literal is ~18 MiB of task binary RE-SHIPPED per stage, where the
  * explicit Broadcast ships once per executor and every stage's task
  * binary carries only the handle.
  *
  * Arithmetic contract (what the SQL oracle replays): each output
  * component o is the SEQUENTIAL double dot product
  * Σ_i rows(o)(i) · x(i), i ascending, inputs widened to double before
  * multiplying. Output is the RAW dot — callers round (builtin
  * `round`, mirrored by DuckDB's `round`) before anything
  * rank-sensitive consumes the values, so cross-engine summation-order
  * noise (~1e-16 relative) can never flip a downstream argmin.
  * [[MatVecRotateBcast]] shares this contract verbatim (one shared
  * kernel) — literal vs broadcast transport is bit-invisible.
  */
object MatVecKernel {
  /** Dimension above which the rotation rides an explicit Broadcast
    * instead of the expression tree: d² doubles cross ~0.5 MiB at
    * d = 256 — small enough to tolerate as a literal, and the d = 64
    * bench fixtures stay on the zero-moving-parts path; d = 1536
    * (18 MiB) switches. */
  val BcastDim: Int = 256

  /** The one shared dot-product kernel — both transports delegate
    * here, so the arithmetic contract cannot fork. */
  def apply(rows: Array[Array[Double]], arr: ArrayData,
            isFloat: Boolean, name: String): GenericArrayData = {
    val dim = rows.length
    if (arr.numElements() != dim) throw new IllegalArgumentException(
      s"$name: vector dim ${arr.numElements()} != $dim")
    @inline def at(i: Int): Double =
      if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
    val out = new Array[Double](dim)
    var o = 0
    while (o < dim) {
      val row = rows(o)
      var acc = 0.0
      var i = 0
      while (i < dim) {
        acc += row(i) * at(i)
        i += 1
      }
      out(o) = acc
      o += 1
    }
    new GenericArrayData(out)
  }
}

case class MatVecRotate(child: Expression, rows: Array[Array[Double]])
    extends UnaryExpression with CodegenFallback with VectorInput {
  override def prettyName: String = "matvec_rotate"
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MatVecKernel(rows, input.asInstanceOf[ArrayData], isFloat, prettyName)

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** [[MatVecRotate]] with the matrix behind an explicit
  * `Broadcast` — the transport for matrices too big to ride the task
  * binary (d ≥ [[MatVecKernel.BcastDim]]): the serialized expression
  * carries only the broadcast HANDLE; executors fetch the d² doubles
  * once into their block manager and every subsequent stage reuses
  * the resident copy ([[graft.operators.Opq]] additionally caches the
  * broadcast per matrix instance, so repeated `rotate` calls over one
  * trained rotation share ONE broadcast). Arithmetic is the shared
  * [[MatVecKernel]] — bit-identical to the literal transport.
  */
case class MatVecRotateBcast(
    child: Expression,
    bcast: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
    dim: Int)
    extends UnaryExpression with CodegenFallback with VectorInput {
  override def prettyName: String = "matvec_rotate_bcast"
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MatVecKernel(bcast.value, input.asInstanceOf[ArrayData], isFloat,
      prettyName)

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

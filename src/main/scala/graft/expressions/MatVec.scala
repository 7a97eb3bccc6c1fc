package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** vector → R·vector: a dense orthogonal change of basis applied as a
  * narrow kernel pass — the serving shape of a LEARNED TRANSFORM in
  * front of a quantizer (OPQ's rotation, Ge et al. CVPR 2013; PCA
  * whitening; random rotation). The matrix rides an explicit
  * `Broadcast`: the serialized expression carries only the handle,
  * executors fetch the d² doubles once into their block manager and
  * every subsequent stage reuses the resident copy — at the reference
  * d = 1536 the matrix is ~18 MiB, which as a literal would re-ship
  * with every stage's task binary. [[graft.operators.Opq.rotateCol]]
  * additionally caches the broadcast per matrix content, so repeated
  * rotations over one trained matrix share ONE broadcast.
  *
  * Arithmetic contract (what the SQL oracle replays): each output
  * component o is the SEQUENTIAL double dot product
  * Σ_i rows(o)(i) · x(i), i ascending, inputs widened to double before
  * multiplying. Output is the RAW dot — callers round (builtin
  * `round`, mirrored by DuckDB's `round`) before anything
  * rank-sensitive consumes the values, so cross-engine summation-order
  * noise (~1e-16 relative) can never flip a downstream argmin.
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

  override def nullSafeEval(input: Any): Any = {
    val rows = bcast.value
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) throw new IllegalArgumentException(
      s"$prettyName: vector dim ${arr.numElements()} != $dim")
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

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization kernels (see [[graft.operators.Pq]]). Both
  * carry their tiny model data (codebooks / per-query LUT, a few KiB)
  * as plain fields — serialized with the expression to executors, the
  * same transport a broadcast variable would use at this size.
  */

/** vector → PQ codes: codes(j) = argmin_c L2²(subvector_j, book(j)(c)),
  * ties to the lower code id. Output array<int> of length m.
  */
case class PqEncode(child: Expression, dsub: Int,
                    codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression with CodegenFallback with VectorInput {
  override def prettyName: String = "pq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

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
      val book = codebooks(j)
      var best = 0
      var bestDist = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cen = book(c)
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val d = at(j * dsub + i) - cen(i)
          acc += d * d
          i += 1
        }
        if (acc < bestDist) { bestDist = acc; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** PQ codes → approximate squared L2 distance to the (implicit) query:
  * sum over subspaces of lut(j)(codes(j)). The LUT is double-precision
  * end-to-end (subtraction, squaring, accumulation) so a SQL oracle
  * replaying the same arithmetic on the persisted codebooks is
  * bit-comparable — a float32 LUT would interpose a rounding step no
  * portable SQL can reproduce.
  */
case class PqAdcDistance(child: Expression, lut: Array[Array[Double]])
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "pq_adc_distance"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(IntegerType, _) => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"$prettyName requires array<int> codes, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val codes = input.asInstanceOf[ArrayData]
    if (codes.numElements() != lut.length) throw new IllegalArgumentException(
      s"$prettyName: ${codes.numElements()} codes vs ${lut.length} subspaces")
    var acc = 0.0
    var j = 0
    while (j < lut.length) {
      acc += lut(j)(codes.getInt(j))
      j += 1
    }
    acc
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** (subspace j, subvector) → assigned code: argmin_c Σᵢ (sv(i) −
  * centers(j)(c)(i))², ties to the lower code — the per-subrow
  * assignment step of [[graft.operators.Pq.trainCodebooks]]'s Lloyd
  * iteration, run natively instead of a k-wide posexplode through
  * interpreted higher-order functions (measured ~50× on the 160×
  * d=1536 training frames). Centers stay DOUBLE — bit-identical
  * arithmetic to the builtin zip_with/aggregate path this replaces
  * (same subtraction, same squaring, same i-ascending accumulation),
  * so models trained before and after the kernel swap are equal to
  * the last bit.
  */
case class PqSubAssign(left: Expression, right: Expression,
                       centers: Array[Array[Array[Double]]])
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "pq_sub_assign"
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
    var best = 0
    var bestDist = Double.MaxValue
    var c = 0
    while (c < book.length) {
      val cen = book(c)
      var acc = 0.0
      var i = 0
      while (i < dsub) {
        val d = sv.getDouble(i) - cen(i)
        acc += d * d
        i += 1
      }
      if (acc < bestDist) { bestDist = acc; best = c }
      c += 1
    }
    best
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** (vector, codes) → x − reconstruct(codes): the residual frame a
  * second RVQ stage trains on and encodes
  * ([[graft.operators.Pq.residuals]]). residual(j·dsub + i) =
  * x(j·dsub + i) − book(j)(codes(j))(i), both widened to double
  * exactly — bit-identical to (and replacing) the
  * flatten/transform/zip_with formulation over the codebooks as a
  * boxed nested-Seq `typedlit`, which at k = 128 / d = 1536 cost
  * ~4 MiB of task binary PER STAGE (196k boxed Doubles); the
  * primitive float books here serialize at ~786 KiB. A SQL replay
  * subtracting the same parquet floats needs no rounding step.
  */
case class PqResidual(left: Expression, right: Expression, dsub: Int,
                      books: Array[Array[Array[Float]]])
    extends BinaryExpression with CodegenFallback {
  override def prettyName: String = "pq_residual"
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _),
            ArrayType(IntegerType, _)) => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"$prettyName requires (array<float|double>, array<int>), " +
          s"got $other")
    }
  }

  private lazy val isFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private val m = books.length

  override def nullSafeEval(vecAny: Any, codesAny: Any): Any = {
    val arr = vecAny.asInstanceOf[ArrayData]
    val codes = codesAny.asInstanceOf[ArrayData]
    if (arr.numElements() != m * dsub) throw new IllegalArgumentException(
      s"$prettyName: vector dim ${arr.numElements()} != $m×$dsub")
    if (codes.numElements() != m) throw new IllegalArgumentException(
      s"$prettyName: ${codes.numElements()} codes != $m")
    @inline def at(i: Int): Double =
      if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
    val out = new Array[Double](m * dsub)
    var j = 0
    while (j < m) {
      val cen = books(j)(codes.getInt(j))
      val off = j * dsub
      var i = 0
      while (i < dsub) {
        out(off + i) = at(off + i) - cen(i).toDouble
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

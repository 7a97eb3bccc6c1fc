package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The two-stage codebook pair + its query-independent decomposed
  * tables, as ONE value behind the AQ expressions' `Broadcast[AqPair]`
  * (the handle is cached per pair in [[graft.operators.Aq]]): the
  * value is EXECUTOR-shared, so the k1·k2 table build ([[tables]],
  * transient lazy) runs once per executor, not once per task. Tables
  * are the [[PqTables]] rules over the persisted floats. */
final class AqPair(val dsub: Int,
                   val cb1: Array[Array[Array[Float]]],
                   val cb2: Array[Array[Array[Float]]])
    extends Serializable {
  val m: Int = cb1.length
  val k1: Int = cb1(0).length
  val k2: Int = cb2(0).length

  // n1(j)(a) = Σᵢ U², n2(j)(b) = Σᵢ V², ab(j)(a)(b) = Σᵢ U·V
  @transient lazy val tables
      : (Array[Array[Double]], Array[Array[Double]],
         Array[Array[Array[Double]]]) =
    (PqTables.normTable(cb1), PqTables.normTable(cb2),
      PqTables.crossTable(cb1, cb2))
}

/** The eval kernels of [[AqJointEncodeBcast]] and
  * [[AqReconErrorBcast]]. */
object AqKernels {

  /** Joint E-step: per subspace j, argmin over all k1·k2 pairs of the
    * decomposed score n1[c1] + n2[c2] + 2·ab[c1][c2] − 2·xa[c1]
    * − 2·xb[c2] (left-associative, ties to the lower (c1, c2)).
    * Output: codes1 ++ codes2, length 2m. */
  def encode(p: AqPair, arr: ArrayData, isFloat: Boolean,
             name: String): GenericArrayData = {
    val m = p.m
    val dsub = p.dsub
    if (arr.numElements() != m * dsub) throw new IllegalArgumentException(
      s"$name: vector dim ${arr.numElements()} != $m×$dsub")
    val x = Array.tabulate(m * dsub)(i =>
      if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i))
    val (n1, n2, ab) = p.tables
    val (xa, xb) = (PqTables.ipLut(x, p.cb1), PqTables.ipLut(x, p.cb2))
    val (k1, k2) = (p.k1, p.k2)
    val out = new Array[Int](2 * m)
    var j = 0
    while (j < m) {
      var best1 = 0
      var best2 = 0
      var bestScore = Double.MaxValue
      var a = 0
      while (a < k1) {
        val abRow = ab(j)(a)
        var b = 0
        while (b < k2) {
          val score = n1(j)(a) + n2(j)(b) + 2.0 * abRow(b) -
            2.0 * xa(j)(a) - 2.0 * xb(j)(b)
          if (score < bestScore) { bestScore = score; best1 = a; best2 = b }
          b += 1
        }
        a += 1
      }
      out(j) = best1
      out(m + j) = best2
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Total two-stage reconstruction error Σⱼ Σᵢ ((x − U[c1])ᵢ −
    * V[c2]ᵢ)² — u and v widen float→double exactly, the subtraction
    * associates ((x − u) − v), squares accumulate i-ascending within a
    * subspace and subspaces sum j-ascending (the SQL replay's order).
    */
  def reconError(p: AqPair, arr: ArrayData, codes: ArrayData,
                 isFloat: Boolean, name: String): Double = {
    val m = p.m
    val dsub = p.dsub
    if (arr.numElements() != m * dsub) throw new IllegalArgumentException(
      s"$name: vector dim ${arr.numElements()} != $m×$dsub")
    if (codes.numElements() != 2 * m) throw new IllegalArgumentException(
      s"$name: ${codes.numElements()} codes != ${2 * m}")
    @inline def at(i: Int): Double =
      if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
    var total = 0.0
    var j = 0
    while (j < m) {
      val u = p.cb1(j)(codes.getInt(j))
      val v = p.cb2(j)(codes.getInt(m + j))
      val off = j * dsub
      var acc = 0.0
      var i = 0
      while (i < dsub) {
        val r = (at(off + i) - u(i).toDouble) - v(i).toDouble
        acc += r * r
        i += 1
      }
      total += acc
      j += 1
    }
    total
  }
}

/** JOINT two-stage encoding — the E-step of additive/least-squares
  * quantization (Babenko & Lempitsky, "Additive Quantization for
  * Extreme Vector Compression", CVPR 2014; Martinez et al., "LSQ",
  * ECCV 2016) restricted to two stages, where the joint argmin is
  * EXACT by enumeration: per subspace j,
  *
  *   (c1, c2) = argmin ‖x_j − U_j[c1] − V_j[c2]‖²
  *
  * over all k1·k2 pairs — versus greedy RVQ's c1-then-c2, which is
  * exactly the limitation v67 measured (depth buys distortion, not
  * identity, because each stage minimizes ITS OWN residual energy).
  *
  * Arithmetic contract (what the SQL oracle replays): the argmin
  * score drops the per-(vector, j) constant ‖x‖² and is computed in
  * the DECOMPOSED form
  *
  *   score(c1, c2) = n1[c1] + n2[c2] + 2·ab[c1][c2]
  *                   − 2·xa[c1] − 2·xb[c2]
  *
  * with every table a [[PqTables]] rule over the persisted float
  * codebooks (n1 = Σa·a, ab = Σa·b, xa = Σx·a, …) and
  * the sum combined LEFT-ASSOCIATIVELY in exactly that term order.
  * Ties break to the lower (c1, c2) lexicographically. Output:
  * array<int> of length 2m — codes1 ++ codes2.
  *
  * Scan-budget note (the v70 template a future 16-byte serving tier
  * would copy): the per-(vector, subspace) E-step work is
  * (k1 + k2)·dsub dot products plus a FULL k1·k2 table scan — index
  * arithmetic, never a d-wide pass per pair, but still k1·k2 = 16,384
  * score evaluations per subspace at the v70 geometry; an encoder at
  * larger k pays that enumeration or moves to beam search (LSQ §4).
  *
  * Transport: the codebook pair rides an explicit Broadcast (the
  * [[MatVecRotateBcast]] pattern) — the serialized expression carries
  * only the handle, executors fetch the floats once, and the
  * executor-shared [[AqPair]] builds its k1·k2 tables once instead of
  * per task. Arithmetic: [[AqKernels.encode]].
  */
case class AqJointEncodeBcast(child: Expression,
                              bcast: org.apache.spark.broadcast.Broadcast[
                                AqPair])
    extends UnaryExpression with CodegenFallback with VectorInput {
  override def prettyName: String = "aq_joint_encode_bcast"
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    AqKernels.encode(bcast.value, input.asInstanceOf[ArrayData], isFloat,
      prettyName)

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** (vector, codes1 ++ codes2) → total two-stage reconstruction error
  * — v70's distortion meter as a kernel instead of plan-riding
  * nested-Seq literals (the boxed double Seqs cost ~12 MiB of task
  * binary). Arithmetic: [[AqKernels.reconError]]; transport: the
  * [[AqJointEncodeBcast]] broadcast pair.
  */
case class AqReconErrorBcast(left: Expression, right: Expression,
                             bcast: org.apache.spark.broadcast.Broadcast[
                               AqPair])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def prettyName: String = "aq_recon_error_bcast"
  override def dataType: DataType = DoubleType
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

  override def nullSafeEval(vecAny: Any, codesAny: Any): Any =
    AqKernels.reconError(bcast.value, vecAny.asInstanceOf[ArrayData],
      codesAny.asInstanceOf[ArrayData], isFloat, prettyName)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The two-stage codebook pair + its query-independent decomposed
  * tables, as ONE value both transports share: the literal expressions
  * hold an instance built from their constructor arrays; the Bcast
  * twins hold a `Broadcast[AqPair]`, whose value is EXECUTOR-shared —
  * so the k1·k2 table build ([[tables]], transient lazy) runs once per
  * executor there, where the literal transport rebuilds it per
  * deserialized task closure. Table arithmetic is unchanged from the
  * round-14 in-expression form: i-ascending double dot products over
  * the persisted floats. */
final class AqPair(val dsub: Int,
                   val cb1: Array[Array[Array[Float]]],
                   val cb2: Array[Array[Array[Float]]])
    extends Serializable {
  val m: Int = cb1.length
  val k1: Int = cb1(0).length
  val k2: Int = cb2(0).length

  /** Serialized float payload of the pair — what a literal transport
    * ships per stage; [[AqKernels.BcastBytes]] switches on it. */
  def codebookBytes: Long =
    4L * m * (k1.toLong + k2.toLong) * dsub

  // codebook-only tables: n1(j)(a) = Σᵢ U², n2(j)(b) = Σᵢ V²,
  // ab(j)(a)(b) = Σᵢ U·V — all i-ascending
  @transient lazy val tables
      : (Array[Array[Double]], Array[Array[Double]],
         Array[Array[Array[Double]]]) = {
    val n1 = Array.tabulate(m, k1) { (j, a) =>
      var acc = 0.0
      var i = 0
      while (i < dsub) {
        val u = cb1(j)(a)(i).toDouble
        acc += u * u
        i += 1
      }
      acc
    }
    val n2 = Array.tabulate(m, k2) { (j, b) =>
      var acc = 0.0
      var i = 0
      while (i < dsub) {
        val v = cb2(j)(b)(i).toDouble
        acc += v * v
        i += 1
      }
      acc
    }
    val ab = Array.tabulate(m, k1, k2) { (j, a, b) =>
      var acc = 0.0
      var i = 0
      while (i < dsub) {
        acc += cb1(j)(a)(i).toDouble * cb2(j)(b)(i).toDouble
        i += 1
      }
      acc
    }
    (n1, n2, ab)
  }
}

/** The shared eval kernels — both transports delegate here, so the
  * arithmetic contract cannot fork (the [[MatVecKernel]] convention).
  */
object AqKernels {

  /** Codebook payload above which the AQ expressions ride an explicit
    * Broadcast instead of the expression tree: the v70 pair at
    * d = 1536 / k = 128 is ~1.6 MiB of floats PER EXPRESSION and two
    * of them meet in one stage (encode + recon-error — the round-14
    * bench tail's 2.1–2.8 MiB task binaries); below this the AqSpec
    * fixtures stay on the zero-moving-parts literal path. */
  val BcastBytes: Long = 512L * 1024

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
    @inline def at(i: Int): Double =
      if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
    val (n1, n2, ab) = p.tables
    val (cb1, cb2) = (p.cb1, p.cb2)
    val (k1, k2) = (p.k1, p.k2)
    val out = new Array[Int](2 * m)
    val xa = new Array[Double](k1)
    val xb = new Array[Double](k2)
    var j = 0
    while (j < m) {
      val off = j * dsub
      var a = 0
      while (a < k1) {
        var acc = 0.0
        var i = 0
        while (i < dsub) { acc += at(off + i) * cb1(j)(a)(i); i += 1 }
        xa(a) = acc
        a += 1
      }
      var b = 0
      while (b < k2) {
        var acc = 0.0
        var i = 0
        while (i < dsub) { acc += at(off + i) * cb2(j)(b)(i); i += 1 }
        xb(b) = acc
        b += 1
      }
      var best1 = 0
      var best2 = 0
      var bestScore = Double.MaxValue
      a = 0
      while (a < k1) {
        val abRow = ab(j)(a)
        b = 0
        while (b < k2) {
          val score = n1(j)(a) + n2(j)(b) + 2.0 * abRow(b) -
            2.0 * xa(a) - 2.0 * xb(b)
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
  * with every table built by i-ascending double dot products over the
  * persisted float codebooks (n1 = Σa·a, ab = Σa·b, xa = Σx·a, …) and
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
  * Transport: codebooks above [[AqKernels.BcastBytes]] ride
  * [[AqJointEncodeBcast]] instead — same kernel, bit-identical.
  */
case class AqJointEncode(child: Expression, dsub: Int,
                         cb1: Array[Array[Array[Float]]],
                         cb2: Array[Array[Array[Float]]])
    extends UnaryExpression with CodegenFallback with VectorInput {
  override def prettyName: String = "aq_joint_encode"
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val pair = new AqPair(dsub, cb1, cb2)

  override def nullSafeEval(input: Any): Any =
    AqKernels.encode(pair, input.asInstanceOf[ArrayData], isFloat,
      prettyName)

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** [[AqJointEncode]] with the codebook pair behind an explicit
  * Broadcast — the transport for pairs too big to ride the task
  * binary (the [[MatVecRotateBcast]] pattern): the serialized
  * expression carries only the handle, executors fetch the floats
  * once, and the per-executor-shared [[AqPair]] builds its k1·k2
  * tables once instead of per task. Arithmetic is the shared
  * [[AqKernels.encode]] — bit-identical to the literal transport. */
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
  * binary; the primitive float codebooks here serialize compactly).
  * Arithmetic: [[AqKernels.reconError]]. Transport: codebooks above
  * [[AqKernels.BcastBytes]] ride [[AqReconErrorBcast]] instead.
  */
case class AqReconError(left: Expression, right: Expression,
                        dsub: Int,
                        cb1: Array[Array[Array[Float]]],
                        cb2: Array[Array[Array[Float]]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def prettyName: String = "aq_recon_error"
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

  @transient private lazy val pair = new AqPair(dsub, cb1, cb2)

  override def nullSafeEval(vecAny: Any, codesAny: Any): Any =
    AqKernels.reconError(pair, vecAny.asInstanceOf[ArrayData],
      codesAny.asInstanceOf[ArrayData], isFloat, prettyName)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[AqReconError]] on the Broadcast transport — shared
  * [[AqKernels.reconError]] kernel, bit-identical values. */
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

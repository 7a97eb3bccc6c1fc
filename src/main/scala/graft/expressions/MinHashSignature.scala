package graft.expressions

import graft.functions.HashFunctions.{affineA, affineB, AffineP}

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** MinHash signature from a column of 60-bit base hashes: component j is
  * min over the Carter–Wegman affine family member j (identical
  * constants to [[graft.functions.HashFunctions.affineHash]], so the SQL
  * oracle reproduces it bit-for-bit).
  *
  * One tight O(hashes × numHashes) primitive loop. The equivalent
  * higher-order-function column (`transform(sequence(...), j ->
  * array_min(transform(...)))`) is evaluated interpreted with boxed
  * Longs — 50× slower at corpus scale.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback with LongArrayInput {

  override def prettyName: String = "minhash_signature"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val as: Array[Long] =
    Array.tabulate(numHashes)(affineA)
  @transient private lazy val bs: Array[Long] =
    Array.tabulate(numHashes)(affineB)

  override def nullSafeEval(input: Any): Any = {
    val hashes = input.asInstanceOf[ArrayData]
    val n = hashes.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i) % AffineP
      var j = 0
      while (j < numHashes) {
        val v = (as(j) * h + bs(j)) % AffineP
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Symmetric int8 quantization of an embedding vector: codes =
  * floor(x / scale + 0.5) with scale = max|x| / 127 — the standard 4×
  * storage/bandwidth cut for vector search at scale (1536-dim float32 =
  * 6 KiB/row in the reference's store, server.js:194; int8 is 1.5 KiB).
  * Codes are emitted as `array<float>` (integers ≤ 127 are exact in
  * float32) so the existing cosine kernel consumes them unchanged —
  * per-vector scale cancels in cosine, so quantized ranking needs NO
  * dequantization pass.
  *
  * A zero vector (scale 0) quantizes to zeros. round-half-up via
  * floor(x+0.5) rather than platform rint: identical on Spark and the
  * SQL oracle.
  *
  * Single primitive loop per row (two passes: max-abs, then quantize);
  * the `transform`+`aggregate` HOF equivalent runs interpreted per
  * element.
  */
case class Int8Quantize(child: Expression)
    extends UnaryExpression with CodegenFallback with VectorInput {
  override def prettyName: String = "int8_quantize"
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    @inline def at(i: Int): Double =
      if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(at(i))
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val out = new Array[Float](n)
    if (maxAbs != 0.0) {
      val scale = maxAbs / 127.0
      i = 0
      while (i < n) {
        out(i) = math.floor(at(i) / scale + 0.5).toFloat
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd vector math over `ArrayType(FloatType|DoubleType)` columns.
  *
  * The reference scores every indexed vector against the query with a
  * scalar JS loop (reference server.js:46-51); here the same math is a
  * native Catalyst expression that participates in whole-stage codegen —
  * no boxing, no UDF serialization, a single pass over the two arrays.
  * Accumulation is sequential in Double (Float inputs widened exactly),
  * so results are deterministic and match a straightforward SQL oracle.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  protected def elementType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (VectorInput.accepts(left.dataType) &&
        VectorInput.accepts(right.dataType)) TypeCheckSuccess
    else TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  @inline protected final def elem(a: ArrayData, dt: DataType, i: Int): Double =
    dt match {
      case FloatType => a.getFloat(i).toDouble
      case _         => a.getDouble(i)
    }

  /** Common length of both vectors; mismatched dimensions RAISE (like
    * DuckDB's list_cosine_similarity) — silently truncating to the
    * shorter vector would return a plausible-looking score for what is
    * always a caller bug.
    */
  @inline protected final def checkedLen(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    val m = b.numElements()
    if (n != m) throw new IllegalArgumentException(
      s"$prettyName: vector dimensions differ: $n vs $m")
    n
  }

  /** Codegen twin of [[checkedLen]]: declares `final int n`. */
  protected final def jCheckedLen(a: String, b: String, n: String): String =
    s"""final int $n = $a.numElements();
       |if ($n != $b.numElements()) {
       |  throw new IllegalArgumentException(
       |    "$prettyName: vector dimensions differ: " + $n + " vs " + $b.numElements());
       |}""".stripMargin

  /** Java accessor snippet for codegen, widened to double. */
  protected final def jGet(arr: String, dt: DataType, i: String): String =
    dt match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _         => s"$arr.getDouble($i)"
    }
}

/** cosine(a, b) = dot(a,b) / (||a||*||b||); 0.0 when either norm is 0
  * (the reference divides by zero and yields NaN — server.js:46-51; we
  * pin the zero-norm guard per SURVEY.md §2.1 O11).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val lt = elementType(left)
    val rt = elementType(right)
    val n = checkedLen(a, b)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, lt, i); val y = elem(b, rt, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |${jCheckedLen(a, b, n)}
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $x = ${jGet(a, elementType(left), i)};
         |  final double $y = ${jGet(b, elementType(right), i)};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** dot(a, b) — sequential Double accumulation. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val lt = elementType(left)
    val rt = elementType(right)
    val n = checkedLen(a, b)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += elem(a, lt, i) * elem(b, rt, i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |${jCheckedLen(a, b, n)}
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (${jGet(a, elementType(left), i)}) * (${jGet(b, elementType(right), i)});
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Euclidean distance sqrt(sum((a_i-b_i)^2)) — used by IVF assignment. */
case class L2Distance(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "l2_distance"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val lt = elementType(left)
    val rt = elementType(right)
    val n = checkedLen(a, b)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = elem(a, lt, i) - elem(b, rt, i)
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |${jCheckedLen(a, b, n)}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $d = (${jGet(a, elementType(left), i)}) - (${jGet(b, elementType(right), i)});
         |  $acc += $d * $d;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

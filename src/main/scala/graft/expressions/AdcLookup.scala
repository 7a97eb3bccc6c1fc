package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** One term of a decomposed multi-stage ADC sum: `coef` times a table
  * lookup keyed by one stage's code (`sB < 0`: the 2-D `lut(j)(c)`)
  * or by a stage pair (`sB >= 0`: the 3-D `cross(j)(ca)(cb)` — the
  * k1·k2 cross-term tables of RQ/AQ serving). Stage indices refer to
  * [[AdcLookupSum]]'s children. */
final class AdcTerm(val coef: Double, val sA: Int, val sB: Int,
                    val lut: Array[Array[Double]],
                    val cross: Array[Array[Array[Double]]])
    extends Serializable

object AdcTerm {
  def ofLut(coef: Double, s: Int, t: Array[Array[Double]]): AdcTerm =
    new AdcTerm(coef, s, -1, t, null)
  def ofCross(coef: Double, sA: Int, sB: Int,
              t: Array[Array[Array[Double]]]): AdcTerm =
    new AdcTerm(coef, sA, sB, null, t)
}

/** The decomposed multi-stage query-ADC sum
  *
  *   Σ_{j=0..m-1} Σ_terms coef·table_j[code…]
  *
  * with the tables (built by [[PqTables]]) behind an explicit
  * Broadcast — the [[MatVecRotateBcast]] transport applied to the
  * k1·k2 cross-term tables that v66/v67/v70's serving rungs previously
  * shipped as boxed nested-Seq `typedlit`s (2–4 MiB of task binary
  * RE-SHIPPED per stage; the broadcast ships the primitive doubles
  * once per executor and the serialized expression carries only the
  * handle).
  *
  * Arithmetic contract (what the SQL oracles replay, unchanged from
  * the literal `aggregate`/`transform`/`element_at` form this
  * replaces): per subspace j the terms combine LEFT-ASSOCIATIVELY in
  * declared order starting from 0.0 (`t += coef·v` — for coef ±1/±2
  * this is bit-identical to the spelled-out `a + b + 2·c − 2·d` chain:
  * IEEE gives 1.0·x = x, (−k)·x = −(k·x) and a + (−y) = a − y
  * exactly), and subspaces sum j-ascending from 0.0 — exactly
  * `aggregate(transform(sequence(0, m−1), …), 0.0, acc + x)`.
  *
  * `children` are the stage code columns (array<int>); `offsets(s)`
  * shifts stage s's per-subspace read — a concatenated codes1 ++
  * codes2 column passes the same child twice with offsets (0, m).
  */
case class AdcLookupSum(children: Seq[Expression], offsets: Seq[Int],
                        bcast: org.apache.spark.broadcast.Broadcast[
                          Array[AdcTerm]],
                        m: Int)
    extends Expression with CodegenFallback {
  require(children.nonEmpty && children.length == offsets.length,
    s"adc_lookup_sum: ${children.length} code columns vs " +
      s"${offsets.length} offsets")

  override def prettyName: String = "adc_lookup_sum"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    children.map(_.dataType).find {
      case ArrayType(IntegerType, _) => false
      case _ => true
    } match {
      case Some(bad) => TypeCheckFailure(
        s"$prettyName requires array<int> code columns, got ${bad.sql}")
      case None => TypeCheckSuccess
    }
  }

  private val offs = offsets.toArray
  private val nStages = children.length

  override def eval(input: InternalRow): Any = {
    val codes = new Array[ArrayData](nStages)
    var s = 0
    while (s < nStages) {
      val v = children(s).eval(input)
      if (v == null) return null
      codes(s) = v.asInstanceOf[ArrayData]
      s += 1
    }
    val terms = bcast.value
    var acc = 0.0
    var j = 0
    while (j < m) {
      var t = 0.0
      var ti = 0
      while (ti < terms.length) {
        val tm = terms(ti)
        val ca = codes(tm.sA).getInt(offs(tm.sA) + j)
        val v =
          if (tm.sB < 0) tm.lut(j)(ca)
          else tm.cross(j)(ca)(codes(tm.sB).getInt(offs(tm.sB) + j))
        t += tm.coef * v
        ti += 1
      }
      acc += t
      j += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

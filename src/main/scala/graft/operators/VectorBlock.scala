package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.ArrayData

import scala.reflect.ClassTag

/** Vectors held in primitive arrays and sorted by id, so row index
  * order is id order — the layout [[DriverWalk]] walks and
  * [[ServeBlock]] ranks. Row `i`'s vector is the CSR slice
  * `vecOff(i) until vecOff(i + 1)` of `f` (float vectors) or `d`
  * (double vectors; the other array is null); a null vector is an
  * empty slice flagged in `isNull`. */
private[operators] final class VectorBlock(val ids: Array[Long],
                                           val isNull: Array[Boolean],
                                           val vecOff: Array[Int],
                                           val f: Array[Float],
                                           val d: Array[Double]) {

  def size: Int = ids.length

  /** [[DriverWalk.cosine]] of row `i` against `q` (already widened). */
  def cosine(i: Int, q: Array[Double]): Double =
    DriverWalk.cosine(f, d, vecOff(i), vecOff(i + 1) - vecOff(i), q)
}

private[graft] object VectorBlock {

  /** The block of rows given in input order: row `r` has id `ids(r)`
    * and vector `vecs(r)` (null for a null vector; a null element reads
    * as 0, as ArrayData.toFloatArray/toDoubleArray do), held as floats
    * when `isFloat`, else as doubles. Also returns the permutation that
    * sorted them — `order(j)` is the input row of block row `j` — so
    * callers carry their other columns along. None when an id repeats. */
  def byId(ids: Array[Long], vecs: Array[ArrayData], isFloat: Boolean)
      : Option[(VectorBlock, Array[Int])] = {
    val order = Array.range(0, ids.length).sortBy(ids(_))
    if ((1 until ids.length).exists(j => ids(order(j)) == ids(order(j - 1))))
      return None
    val sorted = order.map(vecs)
    def flat[T: ClassTag](get: ArrayData => Array[T]) =
      sorted.filter(_ != null).flatMap(get)
    Some((new VectorBlock(order.map(ids), sorted.map(_ == null),
      sorted.scanLeft(0)((o, a) => if (a == null) o else o + a.numElements()),
      if (isFloat) flat(_.toFloatArray()) else null,
      if (isFloat) null else flat(_.toDoubleArray())), order))
  }

  /** Whether a size estimate is within the session's broadcast bound,
    * `spark.sql.autoBroadcastJoinThreshold` (-1 turns the driver paths
    * off). */
  def fits(df: DataFrame, size: BigInt): Boolean = {
    val bound = df.queryExecution.sparkSession.sessionState.conf
      .autoBroadcastJoinThreshold
    bound >= 0 && size <= bound
  }

  /** The optimizer's size estimate of `df`, the number the planner
    * compares with the bound of [[fits]] to pick a broadcast join: no
    * job runs. */
  def sizeOf(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Field `i` of `r`, an array<float|double> vector, widened to double:
    * null for a null vector, and a null element reads as 0, as
    * ArrayData.getFloat/getDouble do. */
  def widen(r: Row, i: Int): Array[Double] =
    if (r.isNullAt(i)) null
    else r.getSeq[Any](i).iterator.map {
      case x: Float  => x.toDouble
      case x: Double => x
      case _         => 0.0
    }.toArray
}

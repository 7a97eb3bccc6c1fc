package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

import scala.reflect.ClassTag

/** Vectors held in primitive arrays and sorted by id, so row index
  * order is id order — the layout [[BroadcastWalk]] walks and
  * [[ServeBlock]] ranks. Row `i`'s vector is the CSR slice
  * `vecOff(i) until vecOff(i + 1)` of `f` (float vectors) or `d`
  * (double vectors; the other array is null); a null vector is an
  * empty slice flagged in `isNull`. */
private[operators] final class VectorBlock(val ids: Array[Long],
                                           val isNull: Array[Boolean],
                                           val vecOff: Array[Int],
                                           val f: Array[Float],
                                           val d: Array[Double])
    extends Serializable {

  def size: Int = ids.length

  /** [[BroadcastWalk.cosine]] of row `i` against `q` (already widened). */
  def cosine(i: Int, q: Array[Double]): Double =
    BroadcastWalk.cosine(f, d, vecOff(i), vecOff(i + 1) - vecOff(i), q)
}

private[graft] object VectorBlock {

  /** The block of rows given in input order: row `r` has id `ids(r)`
    * and the next `lens(r)` values of `f` (or `d`, the other being
    * null). Also returns the permutation that sorted them —
    * `order(j)` is the input row of block row `j` — so callers carry
    * their other columns along. None when an id repeats. */
  def byId(ids: Array[Long], isNull: Array[Boolean], lens: Array[Int],
           f: Array[Float], d: Array[Double])
      : Option[(VectorBlock, Array[Int])] = {
    val n = ids.length
    val order = Array.range(0, n).sortBy(ids(_))
    if ((1 until n).exists(j => ids(order(j)) == ids(order(j - 1))))
      return None
    val start = lens.scanLeft(0)(_ + _)
    val vecOff = new Array[Int](n + 1)
    for (j <- 0 until n) vecOff(j + 1) = vecOff(j) + lens(order(j))
    def gather[T: ClassTag](vals: Array[T]): Array[T] =
      if (vals == null) null
      else {
        val out = new Array[T](vecOff(n))
        for (j <- 0 until n) System.arraycopy(vals, start(order(j)), out,
          vecOff(j), lens(order(j)))
        out
      }
    Some((new VectorBlock(order.map(ids), order.map(isNull), vecOff,
      gather(f), gather(d)), order))
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

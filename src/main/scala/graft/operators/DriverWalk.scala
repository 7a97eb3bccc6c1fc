package graft.operators

import graft.expressions.VectorInput
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The ONE-JOB form of [[Ann]]'s cosine walk over one shared graph.
  *
  * When the graph's (src, dst) and the vectors' (id, vec) projections
  * fit the session's `spark.sql.autoBroadcastJoinThreshold` — judged
  * by the optimizer's size estimate, the test the planner uses to pick
  * a broadcast join, which runs no job — ONE collect over the union of
  * the vectors, the graph and the query rows brings all three to the
  * driver: the vectors as a [[VectorBlock]], adjacency as CSR over the
  * vectors' row indices. Every query row then walks on the driver, as
  * the reference ranks in process over the array it holds. A walk is
  * then one job instead of one `localCheckpoint` per round plus the
  * top-k tail.
  *
  * The rules are the per-round loop's, so answers are row-identical:
  * entries are the entry ids present in the vectors; expansions
  * without a vector are dropped; each round keeps the `beam` best of
  * the whole visited set, and the output its `k` best, both by
  * [[Search.firstK]] under [[Search.ranksBefore]] with the id as tie
  * key; `nodes_touched` is the visited-set size. The cosine widens and
  * accumulates exactly as [[graft.expressions.CosineSimilarity]] does,
  * and a width mismatch throws its `IllegalArgumentException`.
  */
private[operators] object DriverWalk {

  /** The vectors' [[VectorBlock]]; `pass` is the filter flag per row
    * (null when unfiltered); `adj` holds each row's out-neighbours that
    * have a vector, as row indices. */
  final class Index(val v: VectorBlock, val pass: Array[Boolean],
                    val adjOff: Array[Int], val adj: Array[Int])

  private def isId(t: DataType): Boolean = t == IntegerType || t == LongType

  /** Whether `s` has a field `c` of a type `ok` accepts. */
  private def typed(s: StructType, c: String)(ok: DataType => Boolean) =
    s.fieldNames.contains(c) && ok(s(c).dataType)

  /** The walk of `q` (queryIdCol, qe, and beamCol when `beam` is
    * Right) from `entryIds`, ranked to each query's top `k` rows
    * (queryIdCol, rank, idCol, score, nodes_touched[, passed_visited])
    * as a local frame — or None when the inputs do not fit the
    * broadcast bound, have a shape this path does not take, or the
    * vectors repeat an id; the caller then runs the per-round loop. */
  def search(graph: DataFrame, vectors: DataFrame, q: DataFrame,
             entryIds: Seq[Long], queryIdCol: String, idCol: String,
             vecCol: String, beam: Either[Int, String], rounds: Int,
             k: Int, pred: Option[Column]): Option[DataFrame] = {
    val (vs, gs, qs) = (vectors.schema, graph.schema, q.schema)
    val shapes = typed(vs, idCol)(isId) &&
      typed(vs, vecCol)(VectorInput.accepts) &&
      typed(qs, "qe")(VectorInput.accepts) &&
      typed(gs, "src")(isId) && typed(gs, "dst")(isId) &&
      !gs.fieldNames.contains(queryIdCol) &&
      beam.forall(b => typed(qs, b)(isId))
    if (!shapes || !VectorBlock.fits(vectors,
        VectorBlock.sizeOf(graph.select(col("src"), col("dst"))) +
          VectorBlock.sizeOf(vectors.select(col(idCol), col(vecCol)))))
      return None
    val qsel = q.select((Seq(col(queryIdCol), col("qe")) ++
      beam.toOption.map(col)): _*)
    inputs(graph, vectors, qsel, idCol, vecCol, pred).map {
      case (ix, queries) =>
        val entries = entryIds.distinct
          .map(id => java.util.Arrays.binarySearch(ix.v.ids, id))
          .filter(_ >= 0).sorted.toArray
        val idF = vs(idCol)
        val rows = queries.flatMap(walkOne(ix, _, entries,
          beam.fold(identity, _ => 0), rounds, k,
          idF.dataType == IntegerType, pred.isDefined))
        val schema = StructType(Seq(qsel.schema.head,
          StructField("rank", LongType, nullable = false), idF,
          StructField("score", DoubleType,
            nullable = vs(vecCol).nullable || qs("qe").nullable),
          StructField("nodes_touched", LongType, nullable = false)) ++
          pred.map(_ => StructField("passed_visited", LongType,
            nullable = false)))
        vectors.sparkSession.createDataFrame(rows.toSeq.asJava, schema)
    }
  }

  /** ONE collect over the union of the vectors, the graph (src, dst)
    * and the rows of `q` — the [[Index]] and `q`'s rows as external
    * rows — or None when a vector id repeats. Null ids and null edge
    * ends never join in the loop, so they are skipped here, and so are
    * edges whose ends have no vector. */
  private[operators] def inputs(graph: DataFrame, vectors: DataFrame,
                                q: DataFrame, idCol: String, vecCol: String,
                                pred: Option[Column])
      : Option[(Index, Array[Row])] = {
    val vsel = vectors.select(col(idCol), col(vecCol),
      pred.fold(lit(false))(p => coalesce(p, lit(false))).as("_pass"))
    val gsel = graph.select(col("src"), col("dst"))
    val Seq(idInt, srcInt, dstInt) =
      Seq(vsel.schema(0), gsel.schema(0), gsel.schema(1))
        .map(_.dataType == IntegerType)
    def id(r: InternalRow, i: Int, int: Boolean): Long =
      if (int) r.getInt(i).toLong else r.getLong(i)
    // a graph partition travels as one row of its two end arrays
    val edges = gsel.queryExecution.toRdd.mapPartitions { rows =>
      val s = Array.newBuilder[Long]; val t = Array.newBuilder[Long]
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          s += id(r, 0, srcInt); t += id(r, 1, dstInt)
        }
      }
      Iterator.single(InternalRow(UnsafeArrayData.fromPrimitiveArray(
        s.result()), UnsafeArrayData.fromPrimitiveArray(t.result())))
    }
    // a batch of queries is small: one task collects it
    val branches = Seq(vsel.queryExecution.toRdd, edges,
      q.queryExecution.toRdd.coalesce(1)).map(_.map(_.copy()).glom())
    val parts = vectors.sparkSession.sparkContext.union(branches).collect()
    val Seq(nv, ng) = branches.take(2).map(_.getNumPartitions)

    val vrows = parts.take(nv).flatten.filterNot(_.isNullAt(0))
    val isFloat = vsel.schema(1).dataType.asInstanceOf[ArrayType]
      .elementType == FloatType
    val (v, order) = VectorBlock.byId(vrows.map(id(_, 0, idInt)),
      vrows.map(r => if (r.isNullAt(1)) null else r.getArray(1)), isFloat)
      .getOrElse(return None)
    val pass = pred.map(_ => order.map(vrows(_).getBoolean(2))).orNull

    // each edge end resolved to its row once; an edge whose source has
    // no vector never looks its target up
    val ends = parts.slice(nv, nv + ng).flatten
      .map(r => (r.getArray(0).toLongArray(), r.getArray(1).toLongArray()))
    val from = new Array[Int](ends.map(_._1.length).sum)
    val to = new Array[Int](from.length)
    var m = 0
    for ((src, dst) <- ends; e <- src.indices) {
      val s = java.util.Arrays.binarySearch(v.ids, src(e))
      if (s >= 0) {
        val t = java.util.Arrays.binarySearch(v.ids, dst(e))
        if (t >= 0) { from(m) = s; to(m) = t; m += 1 }
      }
    }
    val adjOff = new Array[Int](v.size + 1)
    for (e <- 0 until m) adjOff(from(e) + 1) += 1
    for (i <- 0 until v.size) adjOff(i + 1) += adjOff(i)
    val fill = adjOff.clone()
    val adj = new Array[Int](m)
    for (e <- 0 until m) { adj(fill(from(e))) = to(e); fill(from(e)) += 1 }

    val toRow = CatalystTypeConverters.createToScalaConverter(q.schema)
    Some((new Index(v, pass, adjOff, adj),
      parts.drop(nv + ng).flatten.map(toRow(_).asInstanceOf[Row])))
  }

  /** CosineSimilarity's arithmetic for the `n` elements of `f` (`d`
    * when `f` is null) from `off` against query `q` (already widened):
    * Double accumulation in element order, 0.0 when either norm is 0,
    * and its error on a width mismatch. */
  private[operators] def cosine(f: Array[Float], d: Array[Double],
                                off: Int, n: Int, q: Array[Double])
      : Double = {
    if (n != q.length) throw new IllegalArgumentException(
      s"cosine_sim: vector dimensions differ: $n vs ${q.length}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var j = 0
    while (j < n) {
      val x = if (f != null) f(off + j).toDouble else d(off + j)
      val y = q(j)
      dot += x * y; na += x * x; nb += y * y
      j += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** One query row's walk and its top-k output rows. */
  private def walkOne(ix: Index, r: Row, entries: Array[Int],
                      fixedBeam: Int, rounds: Int, k: Int,
                      idIsInt: Boolean, filtered: Boolean): Iterator[Row] = {
    val qv = VectorBlock.widen(r, 1)
    val beam =
      if (r.length < 3) fixedBeam
      else if (r.isNullAt(2)) 0
      else math.max(0L, math.min(Int.MaxValue.toLong,
        r.get(2).asInstanceOf[Number].longValue)).toInt
    val seen = new java.util.BitSet(ix.v.size)
    val vis = scala.collection.mutable.ArrayBuffer.empty[Int]
    val score = scala.collection.mutable.ArrayBuffer.empty[Double]
    val nul = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    def visit(i: Int): Unit = if (!seen.get(i)) {
      seen.set(i); vis += i
      val isNull = qv == null || ix.v.isNull(i)
      nul += isNull
      score += (if (isNull) 0.0 else ix.v.cosine(i, qv))
    }
    // the k best visited positions; the row (id order) breaks ties
    def best(ps: Seq[Int], k: Int): Array[Int] =
      Search.firstK(ps, k)((a, b) => Search.ranksBefore(score(a), nul(a),
        vis(a), score(b), nul(b), vis(b)))
    entries.foreach(visit)
    for (_ <- 1 to rounds) {
      best(vis.indices, beam).foreach { p =>
        val i = vis(p)
        var e = ix.adjOff(i)
        while (e < ix.adjOff(i + 1)) { visit(ix.adj(e)); e += 1 }
      }
    }
    val candidates =
      if (filtered) vis.indices.filter(p => ix.pass(vis(p))) else vis.indices
    val touched = vis.length.toLong
    best(candidates, k).iterator.zipWithIndex.map {
      case (p, rank) =>
        val id = ix.v.ids(vis(p))
        Row.fromSeq(Seq(r.get(0), rank + 1L,
          if (idIsInt) id.toInt else id,
          if (nul(p)) null else score(p), touched) ++
          (if (filtered) Seq(candidates.length.toLong) else Nil))
    }
  }
}

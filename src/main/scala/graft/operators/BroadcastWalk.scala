package graft.operators

import graft.expressions.VectorInput
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The ONE-JOB form of [[Ann]]'s cosine walk over one shared graph.
  *
  * When the graph's (src, dst) and the vectors' (id, vec) projections
  * fit the session's `spark.sql.autoBroadcastJoinThreshold` — judged
  * by the optimizer's size estimate, the test the planner uses to pick
  * a broadcast join, which runs no job — both are collected once into
  * primitive arrays (the vectors as a [[VectorBlock]], adjacency
  * as CSR over the vectors' row indices), broadcast, and every query
  * row walks inside one `mapPartitions` job. A walk is then three
  * jobs (two collects and the walk) instead of one `localCheckpoint`
  * per round plus the top-k tail.
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
private[operators] object BroadcastWalk {

  /** The vectors' [[VectorBlock]]; `pass` is the filter flag per row
    * (null when unfiltered); `adj` holds each row's out-neighbours that
    * have a vector, as row indices. */
  final class Index(val v: VectorBlock, val pass: Array[Boolean],
                    val adjOff: Array[Int], val adj: Array[Int])
      extends Serializable

  /** One partition's vectors in primitive arrays. */
  private final class Chunk(val ids: Array[Long], val isNull: Array[Boolean],
                            val lens: Array[Int], val f: Array[Float],
                            val d: Array[Double], val pass: Array[Boolean])
      extends Serializable

  private def isId(t: DataType): Boolean = t == IntegerType || t == LongType

  private def field(df: DataFrame, c: String): StructField =
    df.select(col(c)).schema.head

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
    val idF = field(vectors, idCol)
    val vecF = field(vectors, vecCol)
    val qeF = field(q, "qe")
    val shapes = isId(idF.dataType) && VectorInput.accepts(vecF.dataType) &&
      VectorInput.accepts(qeF.dataType) &&
      isId(field(graph, "src").dataType) &&
      isId(field(graph, "dst").dataType) &&
      !graph.columns.contains(queryIdCol) &&
      beam.forall(b => isId(field(q, b).dataType))
    if (!shapes || !VectorBlock.fits(vectors,
        VectorBlock.sizeOf(graph.select(col("src"), col("dst"))) +
          VectorBlock.sizeOf(vectors.select(col(idCol), col(vecCol)))))
      return None
    collectIndex(graph, vectors, idCol, vecCol, pred).map { ix =>
      val entries = entryIds.distinct
        .map(id => java.util.Arrays.binarySearch(ix.v.ids, id))
        .filter(_ >= 0).sorted.toArray
      val spark = vectors.sparkSession
      val bc = spark.sparkContext.broadcast(ix)
      val rows = try {
        val fixedBeam = beam.fold(identity, _ => 0)
        val idIsInt = idF.dataType == IntegerType
        val filtered = pred.isDefined
        q.select((Seq(col(queryIdCol), col("qe")) ++
            beam.toOption.map(col)): _*)
          .rdd.mapPartitions { it =>
            val index = bc.value
            it.flatMap(r => walkOne(index, r, entries, fixedBeam, rounds,
              k, idIsInt, filtered))
          }.collect()
      } finally bc.destroy()
      val schema = StructType(Seq(field(q, queryIdCol),
        StructField("rank", LongType, nullable = false), idF,
        StructField("score", DoubleType,
          nullable = vecF.nullable || qeF.nullable),
        StructField("nodes_touched", LongType, nullable = false)) ++
        pred.map(_ => StructField("passed_visited", LongType,
          nullable = false)))
      spark.createDataFrame(rows.toSeq.asJava, schema)
    }
  }

  /** Collects the vectors (one job) and, unless an id repeats, the
    * graph (one job) into an [[Index]]. Null ids and null edge ends
    * never join in the loop, so they are skipped here. */
  private def collectIndex(graph: DataFrame, vectors: DataFrame,
                           idCol: String, vecCol: String,
                           pred: Option[Column]): Option[Index] = {
    val vsel = vectors.select(col(idCol), col(vecCol),
      pred.fold(lit(false))(p => coalesce(p, lit(false))).as("_pass"))
    val idInt = vsel.schema(0).dataType == IntegerType
    val isFloat =
      vsel.schema(1).dataType.asInstanceOf[ArrayType].elementType ==
        FloatType
    val chunks = vsel.queryExecution.toRdd.mapPartitions { rows =>
      val ids = Array.newBuilder[Long]; val nul = Array.newBuilder[Boolean]
      val lens = Array.newBuilder[Int]; val pass = Array.newBuilder[Boolean]
      val f = Array.newBuilder[Float]; val d = Array.newBuilder[Double]
      rows.foreach { r =>
        if (!r.isNullAt(0)) {
          ids += (if (idInt) r.getInt(0).toLong else r.getLong(0))
          pass += r.getBoolean(2)
          if (r.isNullAt(1)) { nul += true; lens += 0 }
          else {
            val a = r.getArray(1)
            nul += false; lens += a.numElements()
            if (isFloat) f ++= a.toFloatArray() else d ++= a.toDoubleArray()
          }
        }
      }
      Iterator.single(new Chunk(ids.result(), nul.result(), lens.result(),
        f.result(), d.result(), pass.result()))
    }.collect()
    def concat[T: scala.reflect.ClassTag](part: Chunk => Array[T]) =
      Array.concat(chunks.map(part).toSeq: _*)
    val (v, order) = VectorBlock.byId(concat(_.ids), concat(_.isNull),
      concat(_.lens), if (isFloat) concat(_.f) else null,
      if (isFloat) null else concat(_.d)).getOrElse(return None)
    val n = v.size
    val ids = v.ids
    val pass = pred.map(_ => order.map(concat(_.pass))).orNull

    val gsel = graph.select(col("src"), col("dst"))
    val srcInt = gsel.schema(0).dataType == IntegerType
    val dstInt = gsel.schema(1).dataType == IntegerType
    val edges = gsel.queryExecution.toRdd.mapPartitions { rows =>
      val s = Array.newBuilder[Long]; val t = Array.newBuilder[Long]
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          s += (if (srcInt) r.getInt(0).toLong else r.getLong(0))
          t += (if (dstInt) r.getInt(1).toLong else r.getLong(1))
        }
      }
      Iterator.single((s.result(), t.result()))
    }.collect()
    def rowOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    val pairs = edges.iterator.flatMap { case (s, t) =>
      s.indices.iterator.map(e => (rowOf(s(e)), rowOf(t(e))))
    }.filter { case (s, t) => s >= 0 && t >= 0 }.toArray
    val adjOff = new Array[Int](n + 1)
    pairs.foreach { case (s, _) => adjOff(s + 1) += 1 }
    for (i <- 0 until n) adjOff(i + 1) += adjOff(i)
    val fill = adjOff.clone()
    val adj = new Array[Int](pairs.length)
    pairs.foreach { case (s, t) => adj(fill(s)) = t; fill(s) += 1 }
    Some(new Index(v, pass, adjOff, adj))
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

package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The one collect behind [[DriverWalk]] ([[DriverWalk.inputs]]),
  * checked against the rows it reads on seeded frames: the vector
  * block, the filter flags, the CSR adjacency and the query rows. */
class DriverWalkSpec extends graft.SparkSpec {

  /** Seeded vectors over ids 0-39 (one null id, some null vectors),
    * and edges over ids 0-49 (some ends have no vector, some are
    * null), each id times `scale` minus 20, as frames with `idType`
    * ids and `elemType` vectors. */
  private def fixture(seed: Int, idType: DataType, elemType: DataType,
                      scale: Long)
      : (Seq[(Option[Long], Option[Seq[Double]])],
         Seq[(Option[Long], Option[Long])], DataFrame, DataFrame) = {
    val rng = new scala.util.Random(seed)
    def id(x: Long): Any = if (idType == IntegerType) x.toInt else x
    def elem(x: Double): Any = if (elemType == FloatType) x.toFloat else x
    // small integers: exact as floats and as doubles
    val vecs = rng.shuffle((0L until 40L).toList).take(25).map { i =>
      (Option(i * scale - 20),
        if (rng.nextInt(6) == 0) None
        else Some(Seq.fill(3)(rng.nextInt(7) - 3.0)))
    } :+ ((None, Some(Seq(1.0, 0.0, 0.0))))
    def end(): Option[Long] =
      if (rng.nextInt(10) == 0) None
      else Some(rng.nextInt(50) * scale - 20)
    val edges = Seq.fill(120)((end(), end()))
    val vdf = spark.createDataFrame(vecs.map { case (i, v) =>
        Row(i.map(id).orNull, v.map(_.map(elem)).orNull) }.asJava,
      StructType(Seq(StructField("vec_id", idType),
        StructField("embedding", ArrayType(elemType)))))
    val gdf = spark.createDataFrame(edges.map { case (s, t) =>
        Row(s.map(id).orNull, t.map(id).orNull) }.asJava,
      StructType(Seq(StructField("src", idType),
        StructField("dst", idType))))
    (vecs, edges, vdf, gdf)
  }

  test("inputs: one collect gives the vectors by id, the filter flags, " +
      "the CSR adjacency of edges between vectors and the query rows; " +
      "dense and sparse ids") {
    val types = for (i <- Seq(IntegerType, LongType);
                     e <- Seq(FloatType, DoubleType)) yield (i, e)
    for (((idType, elemType), seed) <- types.zipWithIndex;
         filtered <- Seq(false, true); scale <- Seq(1L, 1000L)) {
      val ctx = s"$idType ids times $scale, $elemType vectors, " +
        s"seed $seed, filtered $filtered"
      val (vecs, edges, vdf, gdf) = fixture(seed, idType, elemType, scale)
      val q = spark.range(3).select(col("id").as("query_id"),
        array(lit(1f), lit(0f), lit(2f)).as("qe"))
      // the first element is positive: null for a null vector
      val pred = Some(col("embedding")(0) > 0).filter(_ => filtered)
      val Some((ix, rows)) = DriverWalk.inputs(gdf, vdf, q, "vec_id",
        "embedding", pred): @unchecked

      val held = vecs.collect { case (Some(i), v) => i -> v }.sortBy(_._1)
      assert(ix.v.ids.toSeq == held.map(_._1), ctx)
      assert(ix.v.isNull.toSeq == held.map(_._2.isEmpty), ctx)
      assert((ix.v.f == null) == (elemType == DoubleType), ctx)
      held.indices.foreach { i =>
        val got = (ix.v.vecOff(i) until ix.v.vecOff(i + 1)).map(j =>
          if (ix.v.f != null) ix.v.f(j).toDouble else ix.v.d(j))
        assert(got == held(i)._2.getOrElse(Nil), s"$ctx: row $i")
      }
      if (filtered)
        assert(ix.pass.toSeq == held.map(_._2.exists(_.head > 0)), ctx)
      else assert(ix.pass == null, ctx)

      val ids = held.map(_._1).toSet
      val want = edges.collect {
        case (Some(s), Some(t)) if ids(s) && ids(t) => s -> t
      }.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).sorted }
      val got = held.indices.map { i =>
        held(i)._1 -> (ix.adjOff(i) until ix.adjOff(i + 1))
          .map(e => ix.v.ids(ix.adj(e))).sorted
      }.filter(_._2.nonEmpty).toMap
      assert(got == want, ctx)
      assert(ix.adj.length == want.values.map(_.length).sum, ctx)
      assert(rows.toSeq == q.collect().toSeq, ctx)
    }
  }

  test("inputs: a repeated vector id gives None") {
    import spark.implicits._
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (1L, Array(1f, 1f))).toDF("vec_id", "embedding")
    val graph = Seq((1L, 2L)).toDF("src", "dst")
    val q = Seq((0L, Array(1f, 0f))).toDF("query_id", "qe")
    assert(DriverWalk.inputs(graph, vecs, q, "vec_id", "embedding",
      None).isEmpty)
  }
}

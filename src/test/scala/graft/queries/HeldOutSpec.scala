package graft.queries

import org.apache.spark.sql.DataFrame

/** The held-out-query measurement every approximate serve path in
  * [[VectorQueries]] is scored by — [[VectorQueries.heldOut]],
  * [[VectorQueries.exactHits]], [[VectorQueries.withRecall]] and
  * [[VectorQueries.groupRecall]] — on a small local frame whose exact
  * top-10 is known by construction. */
class HeldOutSpec extends graft.SparkSpec {
  import VectorQueries.{exactHits, groupRecall, heldOut, withRecall}

  // 2-d unit vectors at 5° steps from the x axis: ids 1-20 serve and
  // 1000, on the x axis, is the held-out query, so the exact top-10
  // by cosine is ids 1-10
  private def fixture: DataFrame = {
    import spark.implicits._
    ((1 to 20).map { i =>
      val a = math.toRadians(5.0 * i)
      (i.toLong, Seq(math.cos(a).toFloat, math.sin(a).toFloat))
    } :+ ((1000L, Seq(1f, 0f)))).toDF("vec_id", "embedding")
  }

  /** A walk result in rank order: (rank, vec_id, score). */
  private def walk(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.zipWithIndex
      .map { case (id, r) => (r + 1L, id, 1.0 - r * 0.01) }
      .toDF("rank", "vec_id", "score")
  }

  private def exact: DataFrame = {
    val (serving, qDf) = heldOut(fixture)
    exactHits(serving, qDf)
  }

  /** (vec_id → (hit, recall_at_10)) of the recall tail over `ids`. */
  private def tail(ids: Long*): Map[Long, (Long, Double)] =
    withRecall(walk(ids: _*), exact)
      .select("vec_id", "hit", "recall_at_10").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

  test("held-out split: vec_id 1000 is the one-row qe frame, the rest " +
      "serve") {
    val (serving, qDf) = heldOut(fixture)
    assert(serving.select("vec_id").collect().map(_.getLong(0)).toSet ==
      (1L to 20L).toSet)
    assert(qDf.columns.toSeq == Seq("qe"))
    val q = qDf.collect()
    assert(q.length == 1 && q(0).getSeq[Float](0) == Seq(1f, 0f))
  }

  test("exact hits are the held-out query's exact top-10, flagged 1") {
    val rows = exact.collect()
    assert(exact.columns.toSeq == Seq("vec_id", "_hit"))
    assert(rows.map(_.getLong(0)).toSet == (1L to 10L).toSet)
    assert(rows.forall(_.getLong(1) == 1L))
  }

  test("a 10-row walk with 7 of its rows in the exact top-10 reads " +
      "recall 0.7 on every row") {
    // misses first and between hits, so a running (not whole-frame)
    // sum would read differently on the early rows
    val t = tail(15L, 1L, 2L, 16L, 3L, 4L, 5L, 17L, 6L, 7L)
    assert(t.size == 10)
    assert(t.collect { case (id, (1L, _)) => id }.toSet ==
      Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(t.values.map(_._2).toSet == Set(0.7))
  }

  test("a walk shorter than 10 rows still divides by 10") {
    val t = tail(12L, 1L, 2L)
    assert(t.map { case (id, (hit, _)) => id -> hit } ==
      Map(12L -> 0L, 1L -> 1L, 2L -> 1L))
    assert(t.values.map(_._2).toSet == Set(0.2))
  }

  test("the tail keeps the walk's columns, adds hit and recall_at_10, " +
      "and leaves no _hit column") {
    val cols = withRecall(walk(1L, 11L), exact).columns.toSeq
    assert(cols.toSet == Set("rank", "vec_id", "score", "hit",
      "recall_at_10"))
    assert(!cols.contains("_hit"))
  }

  test("groupRecall: recall@10 per group left-joined on the exact hits") {
    import spark.implicits._
    val got = Seq((1L, 1L), (1L, 2L), (1L, 11L), (2L, 12L), (3L, 4L))
      .toDF("g", "vec_id")
      .join(exact, Seq("vec_id"), "left")
      .groupBy("g").agg(groupRecall.as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.2, 2L -> 0.0, 3L -> 0.1))
  }
}

package graft

import graft.operators.{Search, TopKAggregator}
import graft.functions.VectorFunctions.cosineSim
import org.apache.spark.sql.functions._

/** Search pipeline: top-k ordering/tie-break contract, monotone-k
  * property, context aggregation format (reference server.js:45-61,
  * 251-254), and window-vs-heap agreement.
  */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  // unit query vector along x; index vectors at decreasing x-similarity
  private def index = vecsDf(
    (1L, Seq(1f, 0f)), (2L, Seq(1f, 1f)), (3L, Seq(0f, 1f)),
    (4L, Seq(-1f, 0f)), (5L, Seq(1f, 0f)))
  private def query = Seq(Tuple1(Array(1f, 0f))).toDF("qe")

  test("topK orders by score desc, ties break on ascending id") {
    val got = Search.topK(index, query, "vec_id", "embedding", "qe", 3)
      .as[(Long, Double)].collect().toSeq
    // ids 1 and 5 both score 1.0 → 1 first
    assert(got.map(_._1) == Seq(1L, 5L, 2L))
  }

  test("top-k is a prefix of top-(k+1)") {
    for (k <- 1 to 4) {
      val a = Search.topK(index, query, "vec_id", "embedding", "qe", k)
        .as[(Long, Double)].collect().toSeq
      val b = Search.topK(index, query, "vec_id", "embedding", "qe", k + 1)
        .as[(Long, Double)].collect().toSeq
      assert(b.take(k) == a)
    }
  }

  test("topK is invariant under index row order") {
    val shuffled = index.orderBy(rand(7))
    val a = Search.topK(index, query, "vec_id", "embedding", "qe", 3)
      .as[(Long, Double)].collect().toSeq
    val b = Search.topK(shuffled, query, "vec_id", "embedding", "qe", 3)
      .as[(Long, Double)].collect().toSeq
    assert(a == b)
  }

  test("topKPerQuery and the bounded-heap UDAF agree") {
    val queries = vecsDf((100L, Seq(1f, 0f)), (200L, Seq(0f, 1f)))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = Search.scoreAll(index, queries,
      "vec_id", "embedding", "query_id", "qe")
    val win = Search.topKPerQuery(scored, "query_id", "vec_id", 2)
      .select("query_id", "rank", "vec_id")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    val heap = TopKAggregator.topKUdaf(2)
    val agg = scored.groupBy("query_id")
      .agg(heap(col("vec_id"), col("score")).as("hits"))
      .select(col("query_id"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("hit._1").as("vec_id"))
      .as[(Long, Int, Long)].collect().toSeq.sorted
    assert(win == agg)
  }

  test("contextAgg enumerates hits in score order, newline-joined") {
    val enriched = Seq(
      (0L, 1L, 0.9, "first doc"),
      (0L, 2L, 0.5, "second doc"),
      (0L, 3L, 0.7, "third doc"))
      .toDF("query_id", "doc_id", "score", "content")
    val ctx = Search.contextAgg(enriched, "query_id", "doc_id", "content")
      .select("context").as[String].head()
    assert(ctx == "1. first doc\n2. third doc\n3. second doc")
  }

  test("mmrRerank diversifies: a duplicate of #1 is pushed out of top-3") {
    // ids 1 and 5 are identical vectors (cosine 1.0): pure relevance
    // ranks them 1-2. At diversity-heavy lambda=0.3 the duplicate's
    // penalty (0.7·1.0) sinks it below the opposite (id 4, negative
    // max-sim is a bonus) and the orthogonal (id 3) candidates.
    val shortlist = index
      .crossJoin(broadcast(query))
      .select(col("vec_id"), col("embedding"),
        cosineSim(col("embedding"), col("qe")).as("score"))
    val got = Search.mmrRerank(shortlist, "vec_id", "embedding", "score",
        k = 3, lambda = 0.3)
      .select("rank", "vec_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 4L), (3L, 3L)),
      s"expected rel-then-diversity order: $got")
  }

  test("mmrRerank at lambda=1 is plain relevance ranking") {
    val shortlist = index
      .crossJoin(broadcast(query))
      .select(col("vec_id"), col("embedding"),
        cosineSim(col("embedding"), col("qe")).as("score"))
    val got = Search.mmrRerank(shortlist, "vec_id", "embedding", "score",
        k = 3, lambda = 1.0)
      .select("vec_id").as[Long].collect().toSeq
    // ties (1,5 both cosine 1.0) break on id, like topK
    assert(got == Seq(1L, 5L, 2L), s"lambda=1 must equal topK order: $got")
  }

  test("mmrRerank invariants on random vectors: ranks 1..k, distinct " +
    "ids from the shortlist, rank 1 = relevance argmax") {
    val rng = new scala.util.Random(99)
    val vecs = (1L to 60L).map(i =>
      (i, Seq.fill(8)(rng.nextGaussian().toFloat)))
    val qv = Seq(Tuple1(Array.fill(8)(rng.nextGaussian().toFloat))).toDF("qe")
    val shortlist = vecsDf(vecs: _*)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("embedding"),
        cosineSim(col("embedding"), col("qe")).as("score"))
    val top1 = Search.topK(vecsDf(vecs: _*), qv,
      "vec_id", "embedding", "qe", 1).as[(Long, Double)].head()._1
    val got = Search.mmrRerank(shortlist, "vec_id", "embedding", "score",
        k = 7, lambda = 0.5)
      .select("rank", "vec_id").as[(Long, Long)].collect().toSeq
      .sortBy(_._1)
    assert(got.map(_._1) == (1L to 7L), s"rank sequence broken: $got")
    assert(got.map(_._2).distinct.size == 7, s"duplicate pick: $got")
    assert(got.map(_._2).toSet.subsetOf(vecs.map(_._1).toSet))
    assert(got.head._2 == top1, "rank 1 must be the pure-relevance winner")
  }

  test("mmrRerank candidates follow Spark's double order: -0.0 ties 0.0, " +
      "so the lower id wins") {
    val shortlist = Seq((5L, 0.0, Seq(1f, 0f)), (3L, -0.0, Seq(0f, 1f)))
      .toDF("vec_id", "score", "embedding")
    val got = Search.mmrRerank(shortlist, "vec_id", "embedding", "score",
        k = 1, lambda = 1.0)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(3L))
  }

  test("firstK under ranksBefore equals a full sort in Spark's double " +
      "order: NaN, signed zeros, null and all-tied scores, any k") {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
    val rng = new scala.util.Random(14)
    val pool = Array(Double.NaN, 0.0, -0.0, 0.5, -1.0,
      Double.PositiveInfinity, Double.NegativeInfinity)
    for (trial <- 0 until 300) {
      val n = rng.nextInt(25)
      val tied = trial % 5 == 0
      // tied: every score 0.0 or -0.0, which Spark orders as equal
      val s = Array.fill(n)(pool(
        if (tied) 1 + rng.nextInt(2) else rng.nextInt(pool.length)))
      val nul = Array.fill(n)(!tied && rng.nextInt(4) == 0)
      val key = rng.shuffle((0 until n).map(_ * 3L - 7)).toArray
      // the rule spelled independently: nulls last, scores descending
      // under Spark's comparison, then the key ascending
      val want = Ordering.fromLessThan[Int] { (a, b) =>
        val c = java.lang.Boolean.compare(nul(a), nul(b))
        val d = if (nul(a) || c != 0) 0
          else SQLOrderingUtil.compareDoubles(s(b), s(a))
        if (c != 0) c < 0
        else if (d != 0) d < 0
        else key(a) < key(b)
      }
      val items = rng.shuffle((0 until n).filter(_ => rng.nextInt(5) > 0))
      val sorted = items.sorted(want)
      for (k <- Seq(0, 1, rng.nextInt(n + 1), items.length,
          items.length + 3)) {
        val got = Search.firstK(items, k)((a, b) => Search.ranksBefore(
          s(a), nul(a), key(a), s(b), nul(b), key(b)))
        assert(got.toSeq == sorted.take(k), s"trial $trial, k $k")
      }
    }
    // the independent rule is the plans' ORDER BY score DESC, key
    val s = Array(0.0, Double.NaN, -0.0, 0.5, 0.5, 2.0)
    val rows = s.indices.map(i =>
      (i.toLong, if (i == 4) None else Some(s(i))))
    val plan = rows.toDF("key", "score")
      .orderBy(col("score").desc, col("key")).select("key").as[Long]
      .collect().toSeq
    val nul = rows.map(_._2.isEmpty).toArray
    assert(Search.firstK(s.indices, s.length)((a, b) => Search.ranksBefore(
      s(a), nul(a), a, s(b), nul(b), b)).map(_.toLong).toSeq == plan)
  }

  test("contextAgg drops null contents like the reference filter") {
    val enriched = Seq(
      (0L, 1L, 0.9, Some("a")), (0L, 2L, 0.8, None), (0L, 3L, 0.7, Some("b")))
      .toDF("query_id", "doc_id", "score", "content")
    val ctx = Search.contextAgg(enriched, "query_id", "doc_id", "content")
      .select("context").as[String].head()
    assert(ctx == "1. a\n2. b")
  }
}

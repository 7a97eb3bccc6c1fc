package graft.operators

import graft.functions.VectorFunctions.cosineSim
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-NN search pipeline — the reference's flagship read path
  * (reference server.js:217-265): score every indexed vector against the
  * query (exact brute force, server.js:45-61), keep the top k
  * (server.js:58-60), join back to contents (server.js:231-248), build
  * the enumerated context string (server.js:251-254).
  *
  * Scale shape: the query side is always tiny → broadcast; scoring is a
  * narrow codegen'd projection over the index (arbitrarily partitionable);
  * global top-k plans as TakeOrderedAndProject (per-partition heap +
  * driver merge of k·P rows — no shuffle of the scored set); batched
  * search keeps one shuffle, keyed by query id.
  */
object Search {

  /** Score each row of `index` (columns: idCol, vecCol) against every row
    * of the (tiny) `queries` frame (columns: queryIdCol, queryVecCol).
    * Broadcast nested-loop join: |index| × |queries| scored rows, never a
    * shuffle of the index side.
    */
  def scoreAll(index: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String,
               queryIdCol: String, queryVecCol: String): DataFrame =
    index.crossJoin(broadcast(queries))
      .select(
        col(queryIdCol),
        col(idCol),
        cosineSim(col(vecCol), col(queryVecCol)).as("score"))

  /** Exact global top-k for a single query vector taken from `queries`.
    * Ties break on ascending id (the reference's sort is unstable —
    * server.js:58-60; we pin determinism per SURVEY.md §7.4).
    */
  def topK(index: DataFrame, query: DataFrame,
           idCol: String, vecCol: String, queryVecCol: String,
           k: Int): DataFrame =
    topKWithVec(index, query, idCol, vecCol, queryVecCol, k).drop(vecCol)

  /** [[topK]] keeping the vector column — the shortlist shape re-rankers
    * ([[mmrRerank]]) consume. One definition of the score/tie-break/
    * limit contract for both.
    */
  def topKWithVec(index: DataFrame, query: DataFrame,
                  idCol: String, vecCol: String, queryVecCol: String,
                  k: Int): DataFrame =
    index.crossJoin(broadcast(query))
      .select(col(idCol), col(vecCol),
        cosineSim(col(vecCol), col(queryVecCol)).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** A window spec over a BOUNDED global frame (≤k rows post-`limit` —
    * rank stamping, whole-frame recall sums) that partitions on the
    * non-foldable constant `pmod(anchor, 1)` instead of an empty spec.
    * Execution is identical (one partition either way — legal ONLY
    * because callers guarantee the frame is model/k-sized), but a
    * partition-less WindowExec logs "No Partition Defined" per run,
    * and those ~8 benign lines were drowning real diagnostics in the
    * bench tail; the warning should stay reserved for actual
    * unbounded global sorts. A literal partition key would not
    * survive the optimizer (EliminateWindowPartitions strips foldable
    * keys) — the pmod over a data column does. `anchor` is any numeric
    * column/expression of the frame: it is truncated to LONG first, so
    * pmod(·, 1) is identically 0 for fractional inputs too (a raw
    * double would keep its fractional part and split the partition);
    * the coalesce keeps a null anchor in the same single partition.
    */
  def boundedGlobalWindow(anchor: Column)
      : org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(
      coalesce(pmod(anchor.cast("long"), lit(1L)), lit(0L)))

  /** Batched search: per-query top-k via ranking window. One shuffle,
    * keyed by query id; at 100 TB the scored set never materializes —
    * AQE sizes the single exchange.
    */
  def topKPerQuery(scored: DataFrame, queryIdCol: String, idCol: String,
                   k: Int): DataFrame = {
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Maximal-marginal-relevance re-rank of a SHORTLIST: greedily pick k
    * results maximizing `lambda·rel − (1−lambda)·max_sim_to_selected`
    * (Carbonell & Goldstein 1998) — the standard diversification pass a
    * RAG retriever runs AFTER ANN narrows the corpus to a few dozen
    * candidates. Greedy selection is inherently sequential, so this is
    * the documented `mapPartitions` last resort — legitimate here
    * because the input is k-bounded BY CONSTRUCTION (a top-N
    * shortlist, never the corpus): at 100 TB the distributed work is
    * the retrieval that produced the shortlist, and this pass stays
    * O(k·N·d) on ~50 rows regardless of corpus size.
    *
    * Determinism: candidates are processed in [[ranksBefore]] order
    * (score descending in Spark's double order, then id), ties in the
    * marginal score break on ascending id, and the
    * candidate-candidate cosine is [[DriverWalk.cosine]], the
    * arithmetic of [[graft.expressions.CosineSimilarity]] (float→double
    * widening, sequential accumulation, `dot/(√na·√nb)`), so results
    * are bit-comparable with a SQL oracle.
    */
  def mmrRerank(shortlist: DataFrame, idCol: String, vecCol: String,
                scoreCol: String, k: Int, lambda: Double): DataFrame = {
    val spark = shortlist.sparkSession
    import spark.implicits._
    val rows = shortlist
      .select(col(idCol).cast("long"), col(scoreCol).cast("double"),
        col(vecCol).cast("array<float>"))
      .as[(Long, Double, Array[Float])]
    rows.coalesce(1)
      .mapPartitions(it => mmrPicks(it.toArray, k, lambda).iterator)
      .toDF("rank", idCol, "mmr")
  }

  /** [[mmrRerank]]'s greedy loop over one shortlist of (id, relevance,
    * vector) candidates, in any order: the (rank, id, mmr) picks. */
  private[operators] def mmrPicks(
      shortlist: Array[(Long, Double, Array[Float])], k: Int, lambda: Double)
      : Seq[(Long, Long, Double)] = {
    val cand = shortlist.sortWith((a, b) =>
      ranksBefore(a._2, false, a._1, b._2, false, b._1))
    val used = new Array[Boolean](cand.length)
    // selected vectors, widened once
    val selVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var step = 0
    var exhausted = false
    while (step < math.min(k, cand.length) && !exhausted) {
      var bestIx = -1; var bestVal = Double.NegativeInfinity
      var i = 0
      while (i < cand.length) {
        if (!used(i)) {
          val (_, rel, v) = cand(i)
          // empty selection → pure relevance; otherwise the TRUE max
          // (cosines can be negative — clamping at 0 would diverge
          // from SQL max())
          var maxSim =
            if (selVecs.isEmpty) 0.0 else Double.NegativeInfinity
          var j = 0
          while (j < selVecs.length) {
            val s = DriverWalk.cosine(v, null, 0, v.length, selVecs(j))
            if (s > maxSim) maxSim = s
            j += 1
          }
          val value = lambda * rel - (1.0 - lambda) * maxSim
          // strict >: on ties the earlier (higher-rel / lower-id)
          // candidate wins — the same tie-break the sort pinned
          if (value > bestVal) { bestVal = value; bestIx = i }
        }
        i += 1
      }
      // every remaining marginal compared false (NaN scores/vectors):
      // stop with the clean prefix rather than indexing at -1
      if (bestIx < 0) exhausted = true
      else {
        used(bestIx) = true
        selVecs += cand(bestIx)._3.map(_.toDouble)
        out += ((step + 1L, cand(bestIx)._1, bestVal))
        step += 1
      }
    }
    out.toSeq
  }

  /** The driver-side rank rule of the plans' `ORDER BY score DESC, id`:
    * whether (score `sa`, null flag `na`, tie key `ka`) ranks before
    * (`sb`, `nb`, `kb`). Scores order descending in Spark's double order
    * (NaN first, -0.0 equals 0.0), null scores last, then the tie key
    * ascending. */
  private[graft] def ranksBefore(sa: Double, na: Boolean, ka: Long,
                                 sb: Double, nb: Boolean, kb: Long)
      : Boolean =
    if (na != nb) !na
    else {
      val c = if (na) 0 else SQLOrderingUtil.compareDoubles(sa, sb)
      if (c != 0) c > 0 else ka < kb
    }

  /** The first `k` of `items` under `before`, first first: one sort when
    * `k` covers them all, else a bounded heap of the kept `k`. `before`
    * is a strict order, [[ranksBefore]] over the items' scores; items
    * it ties keep their input order in the sort but come in no set
    * order from the heap, so a caller that cuts breaks every tie. */
  private[graft] def firstK(items: Seq[Int], k: Int)(
      before: (Int, Int) => Boolean): Array[Int] =
    if (k <= 0) Array.empty
    else if (k >= items.length) items.toArray.sortWith(before)
    else {
      // worst of the kept k at the head
      val heap = new java.util.PriorityQueue[Int](k,
        (a: Int, b: Int) => if (a == b) 0 else if (before(a, b)) 1 else -1)
      items.foreach { i =>
        if (heap.size < k) heap.add(i)
        else if (before(i, heap.peek)) { heap.poll(); heap.add(i) }
      }
      Array.fill(heap.size)(heap.poll(): Int).reverse
    }

  /** Enrich hits with document content — broadcast the (tiny) hit set
    * into the corpus join. Inner join: a broadcast hash join cannot
    * build the broadcast side of an outer join that preserves it (the
    * right-outer formulation silently shuffles the whole corpus), and
    * hits always exist in the store they were scored from; the
    * reference's null-content case (server.js:245-252) is filtered
    * immediately afterwards anyway.
    */
  def enrich(hits: DataFrame, docs: DataFrame, idCol: String): DataFrame =
    docs.join(broadcast(hits), Seq(idCol))

  /** The reference's context builder (server.js:251-254): rank hits by
    * score, enumerate "i. content", newline-join to a single string.
    * Returns one row per query id.
    */
  def contextAgg(enriched: DataFrame, queryIdCol: String, idCol: String,
                 contentCol: String): DataFrame = {
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("score").desc, col(idCol))
    enriched
      .filter(col(contentCol).isNotNull)
      .withColumn("rank", row_number().over(w))
      .withColumn("line", concat(col("rank"), lit(". "), col(contentCol)))
      .groupBy(col(queryIdCol))
      .agg(concat_ws("\n",
        array_sort(collect_list(struct(col("rank"), col("line"))))
          .getField("line")).as("context"))
  }
}

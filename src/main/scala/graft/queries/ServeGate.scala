package graft.queries

import graft.operators.{Ann, Bq, Pq, Search, Sq8}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** END-TO-END SERVE-PATH recall meters for the composed graph-serving
  * snapshots — the round-15 gate the verdict asked for next to the
  * per-model [[QuantGate]]s: a QuantGate guards each TRAINED quantizer
  * artifact, but a composed regression (healthy codebooks, wrong
  * graph/entries/beam geometry) still ships silently — the index
  * snapshot as a WHOLE has a measured serving quality nothing sealed.
  * Each meter here replays one deployment-shaped composed path over a
  * (corpus, graph, entries) snapshot — the exact serving shape its
  * pinned query runs — and returns the held-out recall@10 that
  * [[QuantGate.seal]] rides: raise-on-write below the declared floor,
  * re-check on every load (v57Artifacts seals all three beside the
  * graph snapshot; ServeGateSpec pins that a composed-geometry
  * regression TRIPS the gate even when every codebook is healthy).
  *
  * Scale shape: each meter is one walk over the snapshot (beam-bounded
  * joins) plus one exact top-10 — snapshot-build-time work,
  * proportional to the walk's visited set, never per serving query.
  */
object ServeGate {

  private[queries] def exactTop10(serving: DataFrame, qDf: DataFrame,
                         idCol: String, vecCol: String): Set[Long] =
    Search.topK(serving, qDf, idCol, vecCol, "qe", 10)
      .select(idCol).collect().map(_.getLong(0)).toSet

  private[queries] def recallOf(approx: Set[Long], exact: Set[Long]): Double =
    if (exact.isEmpty) 1.0
    else approx.intersect(exact).size.toDouble / exact.size

  /** The v59 composed path: beam walk TRAVERSING on PQ codes
    * ([[Ann.graphBeamWalkPq]]), exact-cosine rerank of the ADC
    * shortlist, top-10 — the DiskANN serving stack end to end. */
  def pqWalkRecall(serving: DataFrame, graph: DataFrame,
                   entries: Seq[Long], model: Pq.PqModel,
                   q: Array[Float], qDf: DataFrame, idCol: String,
                   vecCol: String, beam: Int, rounds: Int,
                   shortlist: Int): Double = {
    val codes = Pq.encode(serving, idCol, vecCol, model)
    val scored = Ann.graphBeamWalkPq(graph, codes, q, model, idCol,
      entries, beam, rounds)
    val short = scored.orderBy(col("score").desc, col(idCol))
      .limit(shortlist).select(idCol)
    val reranked = Search.topK(
        serving.join(broadcast(short), Seq(idCol)), qDf, idCol, vecCol,
        "qe", 10)
      .select(idCol).collect().map(_.getLong(0)).toSet
    recallOf(reranked, exactTop10(serving, qDf, idCol, vecCol))
  }

  /** The v61 composed path: beam walk scoring cosine against the SQ8
    * DEQUANTIZED reconstructions (no rerank tier — int8 needs none),
    * top-10 straight from the walk. */
  def sq8WalkRecall(serving: DataFrame, graph: DataFrame,
                    entries: Seq[Long], scales: DataFrame,
                    qDf: DataFrame, idCol: String, vecCol: String,
                    beam: Int, rounds: Int): Double = {
    val deq = Sq8.roundTrip(serving, idCol, vecCol, scales)
      .select(col(idCol), col(vecCol))
    val walked = Ann.graphBeamSearch(graph, deq, qDf, idCol, vecCol,
      entries, beam, rounds, k = 10)
      .select(idCol).collect().map(_.getLong(0)).toSet
    recallOf(walked, exactTop10(serving, qDf, idCol, vecCol))
  }

  /** The v76 composed path: beam walk over the REPRESENTATIVE graph
    * (the store [[graft.operators.Ann.fineBucketNearDupReps]]'s tier
    * builds on), then result EXPANSION through the (member → rep)
    * sidecar — every member of a hit rep re-enters the candidate set —
    * and an exact-cosine rerank of the expanded set. recall@10 is
    * against the FULL corpus's exact scan: the number that says the
    * collapsed store still serves full-corpus results. Returns
    * (recall@10, nodes the walk touched, members the rerank scored) —
    * the walk's cost is rep-store-sized and the rerank's is bounded by
    * the hit reps' group sizes, never the corpus. */
  /** [[nearDupExpandRecall]] with the entry derivation routed through
    * [[Ann.graphBeamSearchPerBucket]]'s size switch: below
    * [[Ann.EntryLiteralMaxBits]] identical to the literal form; above
    * it the entries stay an in-plan frame. */
  def nearDupExpandRecallPerBucket(corpus: DataFrame,
                                   collapsed: DataFrame,
                                   reps: DataFrame, graph: DataFrame,
                                   index: DataFrame, bucketBits: Int,
                                   qDf: DataFrame, idCol: String,
                                   vecCol: String, beam: Int,
                                   rounds: Int): (Double, Long, Long) =
    nearDupExpandFrom(corpus, reps,
      Ann.graphBeamSearchPerBucket(graph, collapsed, qDf, idCol,
        vecCol, index, perBucket = 2, bucketBits = bucketBits, beam,
        rounds, k = 10).localCheckpoint(),
      qDf, idCol, vecCol)

  def nearDupExpandRecall(corpus: DataFrame, collapsed: DataFrame,
                          reps: DataFrame, graph: DataFrame,
                          entries: Seq[Long], qDf: DataFrame,
                          idCol: String, vecCol: String, beam: Int,
                          rounds: Int): (Double, Long, Long) =
    nearDupExpandFrom(corpus, reps,
      Ann.graphBeamSearch(graph, collapsed, qDf, idCol, vecCol,
        entries, beam, rounds, k = 10).localCheckpoint(),
      qDf, idCol, vecCol)

  /** The expansion + rerank tail shared by both entry forms. */
  private def nearDupExpandFrom(corpus: DataFrame, reps: DataFrame,
                                walked: DataFrame, qDf: DataFrame,
                                idCol: String, vecCol: String)
      : (Double, Long, Long) = {
    val nodes = walked.agg(max("nodes_touched")).head().getLong(0)
    val hitReps = walked.select(col(idCol).as("rep_id"))
    val members = reps.join(broadcast(hitReps), Seq("rep_id"))
      .select(idCol).localCheckpoint()
    val expanded = Search.topK(corpus.join(members, Seq(idCol)), qDf,
        idCol, vecCol, "qe", 10)
      .select(idCol).collect().map(_.getLong(0)).toSet
    (recallOf(expanded, exactTop10(corpus, qDf, idCol, vecCol)),
      nodes, members.count())
  }

  /** The v62 composed path: beam walk on packed sign bits (hamming via
    * XOR+popcount, [[Ann.graphBeamWalkBq]]), exact-cosine rerank of
    * the hamming shortlist, top-10. */
  def bqWalkRecall(serving: DataFrame, graph: DataFrame,
                   entries: Seq[Long], dim: Int, q: Array[Float],
                   qDf: DataFrame, idCol: String, vecCol: String,
                   beam: Int, rounds: Int, shortlist: Int): Double = {
    val codes = Bq.pack(serving, idCol, vecCol, dim)
    val scored = Ann.graphBeamWalkBq(graph, codes, Bq.packQuery(q),
      idCol, entries, beam, rounds)
    val short = scored.orderBy(col("score").desc, col(idCol))
      .limit(shortlist).select(idCol)
    val reranked = Search.topK(
        serving.join(broadcast(short), Seq(idCol)), qDf, idCol, vecCol,
        "qe", 10)
      .select(idCol).collect().map(_.getLong(0)).toSet
    recallOf(reranked, exactTop10(serving, qDf, idCol, vecCol))
  }
}

package perfbench

import graft.{Engine, HashEmbedder}
import graft.operators.{Ann, Chunker, Ingest, Search, TextSearch}
import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Brute-force reference answers, computed by the benchmark itself with
  * the same arithmetic as the engine's cosine (float widened to double,
  * sequential sums, dot / (|a|·|b|)) and the same order: score
  * descending, then id ascending. */
object Exact {
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def topK(index: Array[(Long, Array[Float])], q: Array[Float],
           k: Int): Seq[(Long, Double)] =
    index.map { case (id, v) => (id, cosine(v, q)) }
      .sortBy { case (id, s) => (-s, id) }.take(k).toSeq

  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9
}

/** The reference-shaped read path: a few hundred chunks loaded through
  * `Engine.loadDocuments` at the reference chunking, then a closed loop
  * of search, answer, context, hybrid and diversified search. Scoring
  * is trivial at this size, so each call's time is the engine's fixed
  * per-call cost: Spark jobs, planning, and re-probing the store. */
final class RagServe(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._
  import RagServe._
  val warmupCycles = 2

  private val corpus = Gen.corpus(seed, Corpus, "doc")
  private val corpusDir = work.resolve("corpus")
  corpus.write(corpusDir)
  private val distinct = corpus.distinctChunks.size
  private val offered = corpus.texts.map(t =>
    Gen.chunks(t, Corpus.wordsPerChunk, Corpus.overlap).size).sum
  private val queries = Gen.queries(seed, corpus.texts, Queries).toIndexedSeq
  private var engine: Engine = _
  private var index: Array[(Long, Array[Float])] = _
  private var content: Map[Long, String] = _
  private var qv: Map[String, Array[Float]] = _
  private val exact = scala.collection.mutable.HashMap.empty[String, Seq[(Long, Double)]]
  private var searchHits = 0L
  private var searchSlots = 0L

  /** A fresh store, bulk-loaded, with both lazy indexes built: the
    * state a deployment is in before its first request. */
  def setup(rep: Int): Unit = {
    val e = new Engine(spark, work.resolve(s"store-$rep").toString, Dim,
      Corpus.wordsPerChunk, Corpus.overlap)
    val n = layer("Engine.loadDocuments")(e.loadDocuments(corpusDir.toString))
    if (n != distinct)
      throw new IllegalStateException(
        s"loadDocuments stored $n chunks, expected $distinct")
    observe("ingest.novel", n.toDouble)
    observe("ingest.offered", offered.toDouble)
    layer("Engine.index")(e.index())
    layer("Engine.lexicalIndex")(e.lexicalIndex())
    engine = e
    // once, on the last and warmest set-up
    if (tracer.enabled && rep == Main.SetupReps) replayIngest(rep)
  }

  /** Untimed: the brute-force answers' inputs, read back through
    * `Engine.index()` and `Engine.documents()` of the latest store. */
  override def prepare(): Unit = {
    exact.clear()
    index = engine.index().collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    content = engine.documents().select("doc_id", "content").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    qv = HashEmbedder.embed(queries.toDF("text"), "text", Dim)
      .select("text", "embedding").collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toMap
  }

  private def query(i: Int) = queries(Math.floorMod(i, queries.size))
  private def want(q: String) =
    exact.getOrElseUpdate(q, Exact.topK(index, qv(q), Shortlist))

  def cycle(i: Int): Unit = {
    val q = query(i)
    val top = want(q)
    op("search")(engine.search(q, K).collect()) { rows =>
      val got = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
        r.getAs[String]("content"))).toSeq.sortBy { case (id, s, _) => (-s, id) }
      searchHits += got.map(_._1).toSet.intersect(top.take(K).map(_._1).toSet).size
      searchSlots += K
      check(got.map(_._1) == top.take(K).map(_._1),
        s"search($q): ids ${got.map(_._1)} != exact ${top.take(K).map(_._1)}")
      check(got.zip(top).forall { case (g, t) => Exact.close(g._2, t._2) },
        s"search($q): scores differ from exact")
      check(got.forall { case (id, _, c) => content(id) == c },
        s"search($q): content mismatch")
    }
    op("answer")(engine.answer(q)) { a =>
      check(a == content(top.head._1), s"answer($q) is not the top-1 content")
    }
    op("context")(engine.context(q, K)) { c =>
      val expect = top.take(K).zipWithIndex
        .map { case ((id, _), j) => s"${j + 1}. ${content(id)}" }.mkString("\n")
      check(c == expect, s"context($q) differs from the exact top-$K")
    }
    op("hybrid")(engine.hybridSearch(q, K).collect()) { rows =>
      // checked for shape: the lexical half has no reference here
      val ids = rows.map(_.getAs[Long]("doc_id"))
      val scores = rows.map(_.getAs[Double]("rrf_score"))
      check(rows.length == K && ids.distinct.length == K,
        s"hybrid($q) returned ${ids.toSeq}")
      check(scores.sliding(2).forall(p => p(0) >= p(1)),
        s"hybrid($q): scores not descending")
      check(scores.forall(s => s > 0 && s <= 2.0 / 61 + 1e-12),
        s"hybrid($q): score outside the two-ranking RRF range")
      check(rows.forall(r => content.get(r.getAs[Long]("doc_id"))
        .contains(r.getAs[String]("content"))), s"hybrid($q): content mismatch")
    }
    op("diverse")(engine.searchDiverse(q, K).collect()) { rows =>
      val ids = rows.map(_.getAs[Long]("doc_id"))
      check(rows.map(_.getAs[Long]("rank")).toSeq == (1L to K.toLong),
        s"diverse($q): ranks not 1..$K")
      check(ids.head == top.head._1, s"diverse($q): first pick is not the top-1")
      check(ids.distinct.length == K && ids.forall(top.map(_._1).toSet),
        s"diverse($q): picks outside the $Shortlist-shortlist")
      check(rows.forall(r => content(r.getAs[Long]("doc_id")) == r.getAs[String]("content")),
        s"diverse($q): content mismatch")
    }
  }

  /** Search recall@K against the brute force, over every search call:
    * 1.0 when the engine is exact. */
  def recall: Double = if (searchSlots == 0) 0.0 else searchHits.toDouble / searchSlots

  /** Traced set-up only: `loadDocuments` again, one layer at a time,
    * into a side store, then both index builds over it. */
  private def replayIngest(rep: Int): Unit = {
    val side = work.resolve(s"side-store-$rep").toString
    val empty = engine.documents().limit(0)
    val docs = layer("Sources.textDir")(force(Sources.textDir(spark, corpusDir.toString)))
    val chunked = layer("Chunker.chunk")(force(
      Chunker.chunk(docs, "text", Corpus.wordsPerChunk, Corpus.overlap)
        .select(col("source"), col("chunk_ix"), col("chunk").as("content"))))
    val embedded = layer("Ingest.hashEmbed")(force(
      Ingest.hashEmbed(chunked, "content", Dim)
        .withColumn("batch_order", col("chunk_ix").cast("long"))))
    val novel = layer("Ingest.dedupIngest")(force(
      Ingest.dedupIngest(embedded, empty.select("content"), "content",
        "batch_order").drop("batch_order")))
    val assigned = layer("Ingest.assignIdsAfter")(force(
      Ingest.assignIdsAfter(novel, "content", empty, "doc_id")
        .select("doc_id", "source", "chunk_ix", "content", "embedding")))
    layer("Ingest.withStoreLock")(Ingest.withStoreLock(spark, side) {
      layer("Ingest.writeStore")(Ingest.writeStore(assigned, side))
    })
    val stored = spark.read.parquet(side)
    layer("Ingest.buildIndex")(
      Ingest.buildIndex(stored, "doc_id", "embedding").unpersist())
    layer("TextSearch.buildBm25Index")(TextSearch.buildBm25Index(
      stored.select("doc_id", "content"), "doc_id", "content")).release()
    val idx = engine.index()
    observe("index.rows", idx.count().toDouble)
    observe("index.partitions", idx.rdd.getNumPartitions.toDouble)
  }

  /** Traced runs: the cycle's read path again, one layer at a time. */
  override def replay(i: Int): Unit = {
    val q = query(i)
    val docs = layer("Engine.documents")(engine.documents())
    val qe = layer("Embedder.embed")(force(
      HashEmbedder.embed(Seq(q).toDF("text"), "text", Dim)
        .select(col("embedding").as("qe"))))
    val idx = engine.index()
    val hits = layer("Search.topK")(force(
      Search.topK(idx, qe, "doc_id", "embedding", "qe", K)))
    val enriched = layer("Search.enrich")(force(
      Search.enrich(hits, docs.select("doc_id", "content"), "doc_id")))
    layer("Search.contextAgg")(Search.contextAgg(
      enriched.withColumn("query_id", lit(0L)), "query_id", "doc_id",
      "content").collect())
    val shortlist = layer("Search.topKWithVec")(force(
      Search.topKWithVec(idx, qe, "doc_id", "embedding", "qe", Shortlist)))
    layer("Search.mmrRerank")(Search.mmrRerank(shortlist, "doc_id",
      "embedding", "score", K, 0.5).collect())
    val lexical = layer("TextSearch.bm25ScoresIndexed")(force(
      TextSearch.bm25ScoresIndexed(engine.lexicalIndex(),
        q.toLowerCase.trim.split("\\s+").toSeq)))
    val vector = layer("Search.scoreAll")(force(
      Search.scoreAll(idx, qe.withColumn("query_id", lit(0L)), "doc_id",
        "embedding", "query_id", "qe").select("doc_id", "score")))
    layer("TextSearch.rrfFuse")(
      TextSearch.rrfFuse(lexical, vector, "doc_id", K).collect())
  }
}

object RagServe {
  /** ~250k words in 20 files at the reference chunking (1000 words, 50
    * overlap; a document is 12.5 chunks long), one file in ten a
    * verbatim copy of another: a few hundred stored chunks. */
  val Corpus = Gen.CorpusSpec(files = 20, docChunks = 12.5,
    wordsPerChunk = 1000, overlap = 50, dupShare = 0.1)
  val Dim = 64
  val Queries = 64
  val K = 5
  /** `searchDiverse`'s default shortlist size. */
  val Shortlist = 50
}

/** Batched beam walks over a k-NN graph of clustered vectors, with
  * recall measured against the exact scan. */
final class AnnWalk(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._
  import AnnWalk._
  val warmupCycles = 4
  private val (vecs, qvecs) = Gen.clustered(seed, N, Batch * Batches, Dim,
    Clusters, Sigma)
  private val index = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
  private val vecPath = work.resolve("vectors").toString
  index.toSeq.toDF("id", "vec").repartition(spark.sparkContext.defaultParallelism)
    .write.parquet(vecPath)
  private val qdfs = (0 until Batches).map { b =>
    (0 until Batch).map(j => (j.toLong, qvecs(b * Batch + j))).toDF("qid", "qe")
  }
  private var vectors: DataFrame = _
  private var graph: DataFrame = _
  private var entries: Seq[Long] = _
  private var exact: IndexedSeq[Seq[Seq[Long]]] = _
  /** Exact top-K ids the walk found, per batch, from the first walk of
    * each batch on the latest graph: deterministic for a seed. */
  private val batchHits = scala.collection.mutable.HashMap.empty[Int, Long]

  /** Vectors read into the cache, k-NN graph built and cached, entry
    * points chosen. */
  def setup(rep: Int): Unit = {
    val v = spark.read.parquet(vecPath).persist()
    v.count()
    val g = layer("Ann.buildKnnGraph") {
      val g = Ann.buildKnnGraph(v, "id", "vec", bits = 16,
        bucketBits = BucketBits, degree = Degree).persist()
      g.count()
      g
    }
    entries = layer("Ann.topDegreeEntries")(Ann.topDegreeEntries(g, Entries))
    vectors = v; graph = g
    if (tracer.enabled) {
      observe("index.rows", v.count().toDouble)
      observe("index.partitions", v.rdd.getNumPartitions.toDouble)
    }
  }

  /** Untimed: the exact top-k of every query, by brute force, and a
    * fresh recall tally for the latest graph. */
  override def prepare(): Unit = {
    if (exact == null) exact = (0 until Batches).map(b => (0 until Batch).map(j =>
      Exact.topK(index, qvecs(b * Batch + j), K).map(_._1)))
    batchHits.clear()
  }

  def cycle(i: Int): Unit = walk(Math.floorMod(i, Batches))

  private def walk(b: Int): Unit =
    op("walk")(Ann.graphBeamSearchBatch(graph, vectors, qdfs(b), "id", "vec",
        "qid", entries, beam = Beam, rounds = Rounds, k = K).collect()) { rows =>
      val byQ = rows.groupBy(_.getAs[Long]("qid"))
      check(byQ.keySet == (0L until Batch).toSet, "walk lost a query")
      byQ.foreach { case (qid, rs) =>
        val q = qvecs(b * Batch + qid.toInt)
        val ranked = rs.sortBy(_.getAs[Long]("rank"))
        check(ranked.map(_.getAs[Long]("rank")).toSeq == (1L to ranked.length),
          s"walk query $qid: ranks not contiguous")
        check(ranked.length == K, s"walk query $qid returned ${ranked.length} ids")
        ranked.foreach { r =>
          val id = r.getAs[Long]("id")
          check(id >= 0 && id < N, s"walk returned unknown id $id")
          check(Exact.close(r.getAs[Double]("score"), Exact.cosine(vecs(id.toInt), q)),
            s"walk score of $id is not its cosine")
        }
        val scores = ranked.map(_.getAs[Double]("score"))
        check(scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
          s"walk query $qid: scores not descending")
        observe("Ann.nodes_touched", rs.head.getAs[Long]("nodes_touched").toDouble)
      }
      batchHits.getOrElseUpdate(b, byQ.map { case (qid, rs) =>
        rs.map(_.getAs[Long]("id")).toSet.intersect(exact(b)(qid.toInt).toSet).size.toLong
      }.sum)
    }

  /** Walk recall@K over all `Batches * Batch` queries. */
  def recall: Double = batchHits.values.sum.toDouble / (Batches * Batch * K)

  /** Batches no cycle reached are walked here, so recall always covers
    * every query. A walk that loses most answers fails the run outright;
    * smaller losses show in the `recall_at_k` metric. */
  override def verdict(): Boolean = {
    (0 until Batches).filterNot(batchHits.contains).foreach(walk)
    System.err.println(f"perfbench: ann_walk recall@$K = $recall%.4f")
    recall >= MinRecall
  }

  /** Traced runs: the same batch through the exact scan, which must
    * agree with the brute force. `Search.exact` spans both steps. */
  override def replay(i: Int): Unit = {
    val b = Math.floorMod(i, Batches)
    op("Search.exact") {
      val scored = layer("Search.scoreAll")(force(Search.scoreAll(vectors,
        qdfs(b), "id", "vec", "qid", "qe")))
      layer("Search.topKPerQuery")(Search.topKPerQuery(scored, "qid", "id", K).collect())
    } { rows =>
      val got = rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
        q.toInt -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("id")).toSeq }
      (0 until Batch).foreach(j => check(got.get(j).contains(exact(b)(j)),
        s"exact scan of batch $b query $j differs from brute force"))
    }
  }
}

object AnnWalk {
  val N = 5000
  val Dim = 64
  val Clusters = 50
  val Sigma = 0.08
  /** log2(N / 128): about 128 vectors per SRP bucket. */
  val BucketBits = 5
  val Degree = 16
  val Entries = 128
  val Batch = 16
  val Batches = 8
  val Beam = 16
  val Rounds = 3
  val K = 10
  val MinRecall = 0.5
}

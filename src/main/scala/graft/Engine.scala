package graft

import graft.operators.{Chunker, Ingest, Search, ServeBlock, TextSearch,
  VectorBlock}
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The user-facing facade: one method per reference endpoint, so a user
  * of the reference service can switch call-for-call.
  *
  * | reference endpoint            | here                 |
  * |-------------------------------|----------------------|
  * | POST /add (server.js:102-124) | [[addDocument]]      |
  * | GET /load-documents (161-190) | [[loadDocuments]]    |
  * | POST /search (217-265)        | [[search]] / [[answer]] |
  * | GET /count-documents (127-157)| [[countDocuments]]   |
  * | GET /documents (271-276)      | [[documents]]        |
  * | startup sync (65-94)          | [[index]] (lazy build) |
  *
  * The store is parquet at `storePath` with schema
  * (doc_id, source, chunk_ix, content, embedding) — unlike the reference
  * we keep chunk provenance (its `chunkName` is silently dropped,
  * server.js:191; SURVEY.md §2.1). The "index" is rebuilt lazily after
  * each write — synchronizeFAISS parity — in one of two forms:
  *  - When the snapshot fits (the optimizer's size estimate of its
  *    (doc_id, content, embedding) is at most
  *    `spark.sql.autoBroadcastJoinThreshold`; judging it runs no job),
  *    it is a driver-held [[graft.operators.ServeBlock]] built by one
  *    collect, as the reference holds its `FAISS` object in process.
  *    Every read then ranks on the driver and returns a local frame
  *    with the plans' rows and schema: no Spark job per read.
  *  - Otherwise (a bound of -1, a store too big, or one with a null or
  *    repeated doc_id or a null vector element) it is the cached
  *    (doc_id, embedding) projection and the BM25 frames, and each read
  *    runs its Spark plan.
  *
  * Reads go through one store snapshot ([[documents]]): the store is
  * listed once per change, not once per call, with the schema every
  * write gives it (no inference job), and nothing is persisted for it.
  * A read sees every row committed before the snapshot was taken. The
  * snapshot, its block and both indexes are dropped on this engine's
  * writes, and when the store directory's modification time differs
  * from the one recorded with the snapshot (one FS status call per
  * read, no Spark job) — that is how a write by another engine or JVM
  * shows. On file systems without directory mtimes (object stores),
  * another writer's rows show after this engine's next write. Writes
  * never read the snapshot: ingest and delete resolve the store afresh
  * under [[Ingest.withStoreLock]].
  *
  * All mutation goes through dedup-ingest (INSERT OR IGNORE parity) and
  * contiguous id assignment. Embedding is the deterministic hash
  * embedder ([[graft.expressions.HashEmbed]]); answering is extractive
  * (top-1 content) — the two intentional stand-ins for the reference's
  * network LLM calls (SURVEY.md §7.4).
  *
  * @param embedder the [[Embedder]] serving BOTH ingest and every
  *   query path — the documented seam where a deployment drops in a
  *   network embedding model (the reference's OpenAI flow) in place
  *   of the verified deterministic default ([[HashEmbedder]]). See
  *   the [[Embedder]] contract for batching and versioning notes.
  */
class Engine(spark: SparkSession, storePath: String, dim: Int = 64,
             chunkSize: Int = 1000, overlap: Int = 50,
             embedder: Embedder = HashEmbedder) {

  /** The store as the reads see it: the resolved relation, the store
    * directory's modification time when it was resolved, and what is
    * built from it on first use — the driver-held block and both
    * indexes. Dropping the snapshot releases them, so no index outlives
    * the snapshot it was built from. Its fields change only under the
    * engine's lock. */
  private final class Snapshot(val docs: DataFrame,
                               val mtime: Option[Long]) {
    /** The optimizer's size estimate of the block's columns (no job);
      * None when their types keep every read on the plans. */
    lazy val size: Option[BigInt] = ServeBlock.size(docs)
    lazy val block: Option[ServeBlock] = ServeBlock.collect(docs)
    var index: Option[DataFrame] = None
    var lexical: Option[TextSearch.Bm25Index] = None

    def release(): Unit = {
      index.foreach(_.unpersist())
      lexical.foreach(_.release())
    }
  }

  @volatile private var snapshot: Option[Snapshot] = None

  /** The store directory's modification time, `None` when it does not
    * exist: one FS status call, no Spark job. Appends and the delete's
    * directory swap both move it on file systems that keep directory
    * mtimes; any other failure propagates.
    */
  private def storeMtime(): Option[Long] = {
    val dir = new org.apache.hadoop.fs.Path(storePath)
    try Some(dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(dir).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }
  }

  private def emptyStore: DataFrame = spark.emptyDataFrame
    .select(lit(0L).as("doc_id"), lit("").as("source"),
      lit(0).as("chunk_ix"), lit("").as("content"),
      array().cast("array<float>").as("embedding"))
    .limit(0)

  /** The store resolved now with the schema every write gives it, so
    * no schema-inference job runs; None while it is empty. */
  private def readStore(): Option[DataFrame] =
    Ingest.readStore(spark, storePath, Some(emptyStore.schema))

  /** Full store scan (GET /documents): the snapshot every read goes
    * through. It is resolved (a listing, no schema inference) once per
    * store change, not per call, and is never persisted. It is dropped
    * with both indexes on this engine's writes, and when the store
    * directory's modification time moved since it was taken — another
    * engine's write.
    */
  def documents(): DataFrame = current().docs

  private def current(): Snapshot = synchronized {
    // the mtime is read BEFORE the listing: a write landing between the
    // two leaves a snapshot keyed on the older time, which the next
    // call re-resolves, never a stale snapshot keyed on the newer one
    val mtime = storeMtime()
    snapshot.filter(_.mtime == mtime).getOrElse {
      dropSnapshot()
      val s = new Snapshot(readStore().getOrElse(emptyStore), mtime)
      snapshot = Some(s)
      s
    }
  }

  private def dropSnapshot(): Unit = synchronized {
    snapshot.foreach(_.release())
    snapshot = None
  }

  /** The snapshot's driver-held block, when its size estimate is within
    * the session's broadcast bound now (-1 keeps every read on the
    * plans). The first call per snapshot collects it: one job. */
  private def held(s: Snapshot = current()): Option[ServeBlock] =
    synchronized {
      if (s.size.exists(VectorBlock.fits(s.docs, _))) s.block else None
    }

  /** GET /count-documents: the held block's row count (no job), else
    * a count of the snapshot. */
  def countDocuments(): Long = held().fold(documents().count())(_.count)

  /** The (doc_id, embedding) index, built on demand: a local frame of
    * the held block, else the cached projection of the snapshot. */
  def index(): DataFrame = synchronized {
    val s = current()
    s.index.getOrElse {
      val idx = held(s).fold(
        Ingest.buildIndex(s.docs, "doc_id", "embedding"))(_.index)
      s.index = Some(idx)
      idx
    }
  }

  /** The BM25 corpus statistics, built on demand — local frames of the
    * held block, else cached frames over the snapshot — and released
    * with it. */
  def lexicalIndex(): TextSearch.Bm25Index = synchronized {
    val s = current()
    s.lexical.getOrElse {
      val idx = held(s).fold(TextSearch.buildBm25Index(
        s.docs.select("doc_id", "content"), "doc_id", "content"))(_.bm25Index)
      s.lexical = Some(idx)
      idx
    }
  }

  /** Chunk → embed → dedup → assign ids → append. Returns the number of
    * newly stored chunks (the reference reports per-chunk add results).
    *
    * Runs under [[Ingest.withStoreLock]]: the anti-join's novelty check
    * is only sound against a store no other writer is appending to —
    * a second concurrent ingest fails loudly instead of racing past
    * the dedup and duplicating content (the single-writer contract
    * SQLite gave the reference for free).
    */
  private def ingest(docs: DataFrame): Long =
    Ingest.withStoreLock(spark, storePath) { ingestLocked(docs) }

  private def ingestLocked(docs: DataFrame): Long = {
    // resolved fresh under the lock, never the snapshot: dedup and id
    // assignment must see every row another writer committed
    val store = readStore().getOrElse(emptyStore)
    val chunked = Chunker.chunk(docs, "text", chunkSize, overlap)
      .select(col("source"), col("chunk_ix"), col("chunk").as("content"))
    val embedded = embedder.embed(chunked, "content", dim)
      // deterministic keeper when the same chunk text arrives from
      // several (source, chunk_ix) positions in one batch
      .withColumn("batch_order",
        graft.functions.HashFunctions.md5Long(
          concat_ws(":", col("source"), col("chunk_ix"))))
    val novel = Ingest.dedupIngest(embedded,
      store.select("content"), "content", "batch_order")
      .drop("batch_order")
    val assigned = Ingest.assignIdsAfter(novel, "content", store, "doc_id")
      .select("doc_id", "source", "chunk_ix", "content", "embedding")
      // count() + write would otherwise run the whole chunk→embed→
      // anti-join→window pipeline twice
      .persist()
    try {
      val n = assigned.count()
      if (n > 0) {
        Ingest.writeStore(assigned, storePath)
        dropSnapshot()
      }
      n
    } finally assigned.unpersist()
  }

  /** POST /add — one pasted document. */
  def addDocument(text: String, source: String = "inline"): Long = {
    import spark.implicits._
    ingest(Seq((source, text)).toDF("source", "text"))
  }

  /** GET /load-documents — whole-file scan of a directory. */
  def loadDocuments(dir: String): Long =
    ingest(Sources.textDir(spark, dir))

  /** One-call migration from a reference `vectors.db` (SQLite; schema
    * server.js:21-32): contents flow through the NORMAL ingest path —
    * chunk → hash-embed → content-dedup → id assignment — because this
    * engine's embedder differs from the reference's OpenAI vectors (the
    * raw 1536-dim blobs remain accessible via
    * [[Sources.fromSqliteDocuments]] for side-by-side checks). Returns
    * newly stored chunk count; re-importing the same db is a no-op
    * (INSERT OR IGNORE parity).
    */
  def importSqlite(dbPath: String): Long =
    ingest(Sources.fromSqliteDocuments(spark, dbPath)
      .select(concat(lit("sqlite:"), col("doc_id").cast("string"))
        .as("source"), col("content").as("text")))

  /** Delete by doc id — the inverse of ingest (FAISS `remove_ids` /
    * `DELETE FROM documents WHERE id IN (...)`; the reference exposes no
    * delete endpoint, but its SQLite store supports the statement and a
    * complete engine needs it). Plain parquet has no row deletes, so the
    * store is rewritten without the victims via the same temp-dir swap
    * as [[Ingest.compactStore]] (table formats layer deletion vectors on
    * top of exactly this maintenance pass). The victim set rides a
    * broadcast anti-join — the store side is never shuffled. Returns the
    * number of rows removed; ids are never reused afterwards (max-id
    * assignment keeps AUTOINCREMENT parity, like un-vacuumed SQLite).
    *
    * The victim count and the rewrite run under ONE
    * [[Ingest.withStoreLock]] section, so the returned count is exactly
    * the number of rows the rewrite removed — no writer can interleave
    * between the two jobs.
    */
  def deleteDocuments(ids: Seq[Long]): Long = {
    import spark.implicits._
    if (ids.isEmpty || storeMtime().isEmpty) return 0L
    Ingest.withStoreLock(spark, storePath) {
      readStore().fold(0L) { store =>
        val victims = ids.distinct.toDF("doc_id")
        val n = store.join(broadcast(victims), Seq("doc_id"), "left_semi")
          .count()
        if (n > 0) {
          val tmp = storePath + ".delete.tmp"
          store.join(broadcast(victims), Seq("doc_id"), "left_anti")
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .option("compression", "zstd").parquet(tmp)
          Ingest.replaceStoreDir(spark, tmp, storePath)
          dropSnapshot()
        }
        n
      }
    }
  }

  /** The query embedded through the [[Embedder]] seam, as `qe` of a
    * one-row local frame. */
  private def queryFrame(query: String): DataFrame = {
    import spark.implicits._
    embedder.embed(Seq(query).toDF("text"), "text", dim)
      .select(col("embedding").as("qe"))
  }

  /** `read` ranked on the driver, when the block is held and takes the
    * query frame `q` (see [[ServeBlock.queries]]); None sends the
    * read to the plans. */
  private def served[T](q: DataFrame)(
      read: (ServeBlock, ServeBlock.Queries) => Option[T]): Option[T] =
    held().flatMap(b => ServeBlock.queries(q).flatMap(read(b, _)))

  /** POST /search — embed the query, cosine top-k over the index,
    * enrich with content: (doc_id, score, content).
    */
  def search(query: String, k: Int = 1): DataFrame = {
    val q = queryFrame(query)
    served(q)(_.search(_, k)).getOrElse {
      val hits = Search.topK(index(), q, "doc_id", "embedding", "qe", k)
      Search.enrich(hits, documents().select("doc_id", "content"), "doc_id")
        .select("doc_id", "score", "content")
    }
  }

  /** Batched search: many queries in ONE plan — per-query top-k via the
    * ranking window, one shuffle keyed by query id (the shape that holds
    * at fleet scale; looping [[search]] would launch a job per query).
    * Returns (query_id, rank, doc_id, score, content).
    */
  def searchAll(queryTexts: Seq[String], k: Int): DataFrame = {
    import spark.implicits._
    val qs = embedder.embed(
        queryTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("query_id", "text"), "text", dim)
      .select(col("query_id"), col("embedding").as("qe"))
    served(qs)((b, q) => Some(b.searchAll(q, k))).getOrElse {
      val scored = Search.scoreAll(index(), qs, "doc_id", "embedding",
        "query_id", "qe")
      val hits = Search.topKPerQuery(scored, "query_id", "doc_id", k)
      // hits are queries×k rows — broadcast THEM into the corpus join
      documents().select("doc_id", "content")
        .join(broadcast(hits), Seq("doc_id"))
        .select("query_id", "rank", "doc_id", "score", "content")
        .orderBy("query_id", "rank")
    }
  }

  /** Diversified search: cosine retrieval narrows the corpus to a
    * `shortlistSize` shortlist, then MMR greedily re-ranks it to `k`
    * results balancing relevance against redundancy
    * ([[graft.operators.Search.mmrRerank]]) — the answer to chunked
    * corpora where the top-k fills up with near-identical chunks of one
    * document. Returns (rank, doc_id, mmr, content).
    */
  def searchDiverse(query: String, k: Int, lambda: Double = 0.5,
                    shortlistSize: Int = 50): DataFrame = {
    val q = queryFrame(query)
    served(q)(_.searchDiverse(_, k, lambda, shortlistSize)).getOrElse {
      val shortlist = Search.topKWithVec(index(), q, "doc_id",
        "embedding", "qe", shortlistSize)
      val ranked = Search.mmrRerank(shortlist, "doc_id", "embedding",
        "score", k, lambda)
      // k rows: the limit plans the sort as one top-k, not a range exchange
      Search.enrich(ranked, documents().select("doc_id", "content"),
          "doc_id")
        .select("rank", "doc_id", "mmr", "content")
        .orderBy("rank").limit(k)
    }
  }

  /** Hybrid retrieval: cosine ranking fused with BM25 lexical ranking
    * by reciprocal rank (the query string serves both as embedding
    * input and term bag). Returns (doc_id, rrf_score, content).
    */
  def hybridSearch(query: String, k: Int): DataFrame = {
    val q = queryFrame(query)
    val terms = query.toLowerCase.trim.split("\\s+").toSeq
    served(q)(_.hybrid(_, terms, k)).getOrElse {
      val vector = Search
        .scoreAll(index(), q.select(lit(0L).as("query_id"), col("qe")),
          "doc_id", "embedding", "query_id", "qe")
        .select("doc_id", "score")
      val lexical = TextSearch.bm25ScoresIndexed(lexicalIndex(), terms)
      val fused = TextSearch.rrfFuse(lexical, vector, "doc_id", k)
      Search.enrich(fused, documents().select("doc_id", "content"),
          "doc_id")
        .select("doc_id", "rrf_score", "content")
        .orderBy(col("rrf_score").desc, col("doc_id")).limit(k)
    }
  }

  /** The reference's context string (server.js:251-254): [[search]]'s
    * k rows, formatted on the driver by [[Engine.formatContext]]. */
  def context(query: String, k: Int): String =
    Engine.formatContext(search(query, k).collect().toSeq)

  /** Extractive answer — deterministic stand-in for the reference's
    * chat completion (embed.js:160-180): best-scoring content.
    */
  def answer(query: String): String = {
    val rows = search(query, k = 1).select("content").collect()
    if (rows.isEmpty) "" else rows(0).getString(0)
  }
}

object Engine {

  /** [[Search.contextAgg]]'s string for one query's (doc_id, score,
    * content) rows, built on the driver: rows with null content are
    * dropped, the rest ranked by [[Search.ranksBefore]] with doc_id as
    * tie key, and joined as "rank. content" lines. No rows give "". */
  private[graft] def formatContext(rows: Seq[Row]): String = {
    def score(r: Row): Double = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
    rows.filterNot(_.isNullAt(2))
      .sortWith((a, b) => Search.ranksBefore(score(a), a.isNullAt(1),
        a.getLong(0), score(b), b.isNullAt(1), b.getLong(0)))
      .zipWithIndex
      .map { case (r, i) => s"${i + 1}. ${r.getString(2)}" }
      .mkString("\n")
  }
}

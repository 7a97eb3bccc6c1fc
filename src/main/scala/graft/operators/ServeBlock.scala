package graft.operators

import graft.expressions.VectorInput
import graft.functions.TextFunctions.words
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A store snapshot that fits, held on the driver: the reference's
  * in-process index (its `FAISS` object, server.js:36-62, rebuilt by
  * `synchronizeFAISS`, 65-94), built from ONE collect of (doc_id,
  * content, embedding, words(lower(content))).
  *
  * The rows sit in a [[VectorBlock]] (id order), next to their
  * content and the BM25 statistics counted from the Spark-tokenized
  * arrays: per-term postings, each row's `dl`, and (N, avgdl). Every
  * read ranks with the shared driver-side rules of the plans it stands
  * in for, so it returns their rows:
  *  - the cosine is [[DriverWalk.cosine]];
  *  - every ranking is [[Search.firstK]] under [[Search.ranksBefore]]
  *    with the row (id order) as tie key;
  *  - BM25 is [[TextSearch.bm25Term]], summed in the query's
  *    distinct-term order;
  *  - RRF is [[TextSearch.rrfFuse]]'s `1.0 / (c + rank)` over `depth`;
  *  - MMR is [[Search.mmrPicks]], the loop of [[Search.mmrRerank]].
  * Results are local frames (no Spark job) with the plans' schemas.
  *
  * `docs` is the snapshot the block was collected from; it supplies
  * the output fields and the session.
  */
private[graft] final class ServeBlock private (
    docs: DataFrame, v: VectorBlock, content: Array[UTF8String],
    dl: Array[java.lang.Double],
    postings: java.util.HashMap[UTF8String, ServeBlock.Postings],
    avgdl: java.lang.Double) {
  import ServeBlock.Queries

  /** The number of rows in the snapshot. */
  def count: Long = v.size.toLong

  private def field(c: String): StructField = docs.schema(c)

  private def local(rows: Seq[InternalRow], fields: Seq[StructField])
      : DataFrame =
    Bridge.localFrame(docs.sparkSession, StructType(fields), rows)

  private def vector(i: Int): ArrayData =
    if (v.isNull(i)) null
    else if (v.f != null)
      ArrayData.toArrayData(v.f.slice(v.vecOff(i), v.vecOff(i + 1)))
    else ArrayData.toArrayData(v.d.slice(v.vecOff(i), v.vecOff(i + 1)))

  /** [[Ingest.buildIndex]]'s (doc_id, embedding) rows, unpersisted. */
  def index: DataFrame =
    local(Seq.tabulate(v.size)(i => InternalRow(v.ids(i), vector(i))),
      Seq(field("doc_id"), field("embedding")))

  /** [[TextSearch.buildBm25Index]]'s three frames, unpersisted. */
  def bm25Index: TextSearch.Bm25Index = {
    val lens = TextSearch.docLengths(docs, "doc_id", "content")
    val terms = Seq.newBuilder[InternalRow]
    postings.forEach { (t, p) =>
      for (j <- 0 until p.n)
        terms += InternalRow(v.ids(p.rows(j)), t, p.tfs(j))
    }
    TextSearch.Bm25Index(
      local(Seq.tabulate(v.size)(i => InternalRow(v.ids(i), dl(i))),
        lens.schema.fields.toSeq),
      local(terms.result(), TextSearch.termFrequencies(docs, "doc_id",
        "content").schema.fields.toSeq),
      local(Seq(InternalRow(count, avgdl)),
        TextSearch.corpusStats(lens).schema.fields.toSeq),
      "doc_id")
  }

  /** Every row's cosine against `qv`, and whether it is null (either
    * vector null). */
  private def scores(qv: Array[Double]): (Array[Double], Array[Boolean]) = {
    val nul = Array.tabulate(v.size)(i => qv == null || v.isNull(i))
    (Array.tabulate(v.size)(i => if (nul(i)) 0.0 else v.cosine(i, qv)),
      nul)
  }

  private def scoreField(q: Queries): StructField =
    StructField("score", DoubleType,
      field("embedding").nullable || q.field.nullable)

  /** The top `k` of each query: (query row, rank from 1, block row,
    * score or null). */
  private def ranked(q: Queries, k: Int): Seq[(Row, Int, Int, Any)] =
    q.rows.indices.flatMap { qi =>
      val (s, nul) = scores(q.vecs(qi))
      ServeBlock.best(0 until v.size, k, s, nul).zipWithIndex.map {
        case (i, r) => (q.rows(qi), r + 1, i, if (nul(i)) null else s(i))
      }
    }

  /** `Engine.search`'s (doc_id, score, content) rows, best first. */
  def search(q: Queries, k: Int): Option[DataFrame] =
    ServeBlock.one(q).map(_ => local(ranked(q, k).map {
      case (_, _, i, s) => InternalRow(v.ids(i), s, content(i)) },
      Seq(field("doc_id"), scoreField(q), field("content"))))

  /** `Engine.searchAll`'s (query_id, rank, doc_id, score, content)
    * rows in (query_id, rank) order. */
  def searchAll(q: Queries, k: Int): DataFrame = {
    val qid = q.schema.fieldIndex("query_id")
    val rows = ranked(q, k).sortBy { case (r, rank, _, _) =>
      (r.getLong(qid), rank) }.map { case (r, rank, i, s) =>
      InternalRow(r.getLong(qid), rank, v.ids(i), s, content(i)) }
    local(rows, Seq(q.schema(qid),
      StructField("rank", IntegerType, nullable = false),
      field("doc_id"), scoreField(q), field("content")))
  }

  /** `Engine.searchDiverse`'s (rank, doc_id, mmr, content) rows: the
    * top `shortlistSize` re-ranked by [[Search.mmrPicks]]. None when a
    * shortlisted score is null, which the shortlist's typed read in
    * [[Search.mmrRerank]] rejects. */
  def searchDiverse(q: Queries, k: Int, lambda: Double,
                    shortlistSize: Int): Option[DataFrame] =
    ServeBlock.one(q).flatMap { qv =>
      val (s, nul) = scores(qv)
      val shortlist = ServeBlock.best(0 until v.size, shortlistSize, s, nul)
      if (shortlist.exists(nul(_))) None
      else {
        val floats = shortlist.map { i =>
          val (a, b) = (v.vecOff(i), v.vecOff(i + 1))
          (v.ids(i), s(i),
            if (v.f != null) v.f.slice(a, b)
            else v.d.slice(a, b).map(_.toFloat))
        }
        val rowOf = shortlist.map(i => v.ids(i) -> i).toMap
        val rows = Search.mmrPicks(floats, k, lambda).map {
          case (rank, id, mmr) =>
            InternalRow(rank, id, mmr, content(rowOf(id)))
        }
        Some(local(rows, Seq(
          StructField("rank", LongType, nullable = false), field("doc_id"),
          StructField("mmr", DoubleType, nullable = false),
          field("content"))))
      }
    }

  /** `Engine.hybridSearch`'s (doc_id, rrf_score, content) rows: the
    * cosine ranking and the BM25 ranking of `terms`, each cut to
    * [[TextSearch.rrfFuse]]'s default depth, fused by its reciprocal
    * rank. */
  def hybrid(q: Queries, terms: Seq[String], k: Int): Option[DataFrame] =
    ServeBlock.one(q).map { qv =>
      val (s, nul) = scores(qv)
      val bm25 = new Array[Double](v.size)
      val matched = new Array[Boolean](v.size)
      for {
        t <- terms.map(_.toLowerCase).distinct
        p <- Option(postings.get(UTF8String.fromString(t)))
        j <- 0 until p.n
      } {
        val i = p.rows(j)
        bm25(i) += TextSearch.bm25Term(count, p.n, p.tfs(j),
          dl(i).doubleValue, avgdl.doubleValue)
        matched(i) = true
      }
      val none = new Array[Boolean](v.size)
      val rrf = new Array[Double](v.size)
      val fused = new Array[Boolean](v.size)
      val depth = TextSearch.RrfDepth
      Seq(ServeBlock.best((0 until v.size).filter(matched(_)), depth, bm25,
          none), ServeBlock.best(0 until v.size, depth, s, nul)).foreach {
        _.zipWithIndex.foreach { case (i, r) =>
          rrf(i) += 1.0 / (TextSearch.RrfC + r + 1); fused(i) = true }
      }
      val rows = ServeBlock.best((0 until v.size).filter(fused(_)), k, rrf,
        none).map(i => InternalRow(v.ids(i), rrf(i), content(i)))
      local(rows, Seq(field("doc_id"),
        StructField("rrf_score", DoubleType, nullable = true),
        field("content")))
    }
}

private[graft] object ServeBlock {

  /** A collected query frame: its schema, its rows, and each row's
    * `qe` widened to double (null for a null vector; a null element
    * reads as 0, as ArrayData.getFloat/getDouble do). */
  final class Queries(val schema: StructType, val rows: Array[Row],
                      val vecs: Array[Array[Double]]) {
    def field: StructField = schema("qe")
  }

  /** The rows of the local frame `q` and their `qe` vectors — no job
    * for a frame the optimizer folds to a local relation — or None when
    * `qe` is not an array<float|double>. */
  def queries(q: DataFrame): Option[Queries] = {
    val qe = q.schema.fieldIndex("qe")
    if (!VectorInput.accepts(q.schema(qe).dataType)) None
    else {
      val rows = q.collect()
      Some(new Queries(q.schema, rows, rows.map(VectorBlock.widen(_, qe))))
    }
  }

  /** The one query vector of a single-query read. */
  private def one(q: Queries): Option[Array[Double]] =
    if (q.vecs.length == 1) Some(q.vecs(0)) else None

  /** The `k` best of `rows` by score `s` (null where `nul`), the row —
    * which is id — breaking ties; best first. */
  private def best(rows: Seq[Int], k: Int, s: Array[Double],
                   nul: Array[Boolean]): Array[Int] =
    Search.firstK(rows, k)((a, b) =>
      Search.ranksBefore(s(a), nul(a), a, s(b), nul(b), b))

  private val Columns = Seq("doc_id", "content", "embedding")

  /** The optimizer's size estimate of `docs`' (doc_id, content,
    * embedding) — no job — or None when their types are not the
    * long, string and array<float|double> the block holds. */
  def size(docs: DataFrame): Option[BigInt] = {
    val s = docs.schema
    val shaped = Columns.forall(s.fieldNames.contains) &&
      s("doc_id").dataType == LongType &&
      s("content").dataType == StringType &&
      VectorInput.accepts(s("embedding").dataType)
    if (shaped) Some(VectorBlock.sizeOf(docs.select(Columns.map(col): _*)))
    else None
  }

  /** One term's postings: the block rows holding it, ascending, and
    * its count in each; `n` entries are in use. */
  private[operators] final class Postings {
    var rows = new Array[Int](4)
    var tfs = new Array[Long](4)
    var n = 0

    /** One more occurrence in `row`, which is never below the last. */
    def add(row: Int): Unit =
      if (n > 0 && rows(n - 1) == row) tfs(n - 1) += 1
      else {
        if (n == rows.length) {
          rows = java.util.Arrays.copyOf(rows, 2 * n)
          tfs = java.util.Arrays.copyOf(tfs, 2 * n)
        }
        rows(n) = row; tfs(n) = 1; n += 1
      }
  }

  /** One collect of `docs` (shaped as [[size]] requires) into a block;
    * None when a doc_id is null or repeats, or a vector holds a null
    * element, where the block could not return the plans' rows. The
    * rows stay in Spark's internal form: no conversion per token. */
  def collect(docs: DataFrame): Option[ServeBlock] = {
    val rows = docs.select(col("doc_id"), col("content"), col("embedding"),
        words(lower(col("content"))).as("tokens"))
      .queryExecution.toRdd.map(_.copy()).collect()
    val isFloat = docs.schema("embedding").dataType
      .asInstanceOf[ArrayType].elementType == FloatType
    val vecs = rows.map(r => if (r.isNullAt(2)) null else r.getArray(2))
    if (rows.exists(_.isNullAt(0)) || vecs.exists(a =>
        a != null && (0 until a.numElements()).exists(a.isNullAt)))
      return None
    VectorBlock.byId(rows.map(_.getLong(0)), vecs, isFloat).map {
      case (v, order) =>
        // size(null) in this session: -1 under the legacy rule, else null
        val nullSize: java.lang.Double =
          if (docs.queryExecution.sparkSession.sessionState.conf
              .legacySizeOfNull) -1.0 else null
        val dl = new Array[java.lang.Double](v.size)
        val postings = new java.util.HashMap[UTF8String, Postings]
        for (j <- 0 until v.size) {
          val r = rows(order(j))
          if (r.isNullAt(3)) dl(j) = nullSize
          else {
            val toks = r.getArray(3)
            dl(j) = toks.numElements().toDouble
            for (t <- 0 until toks.numElements()) {
              val term = toks.getUTF8String(t)
              val p = postings.get(term)
              if (p != null) p.add(j)
              else {
                // a copy: the token points into the collected row
                val fresh = new Postings
                postings.put(term.clone(), fresh)
                fresh.add(j)
              }
            }
          }
        }
        // Spark's avg: null lengths skipped; whole numbers sum exactly
        val known = dl.filter(_ != null).map(_.doubleValue)
        new ServeBlock(docs, v, order.map(i =>
            if (rows(i).isNullAt(1)) null
            else rows(i).getUTF8String(1).clone()),
          dl, postings,
          if (known.isEmpty) null else known.sum / known.length)
    }
  }
}

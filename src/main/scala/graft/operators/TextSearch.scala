package graft.operators

import graft.functions.TextFunctions.words
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval: BM25 scoring and reciprocal-rank fusion — the
  * lexical half of hybrid search. The reference retrieves by embedding
  * cosine only (server.js:217-265); production RAG engines pair that
  * with a term-match ranker and fuse the two rankings.
  *
  * All math is deterministic double arithmetic with fixed evaluation
  * order, so both rankers are SQL-oracle-checkable.
  *
  * Scale shape: corpus statistics (df, avg doclen) are one aggregation
  * pass each; scoring touches only postings of query terms (the term
  * filter prunes before any shuffle); per-query work is independent —
  * the classic distributed inverted-index formulation without
  * materializing an index.
  */
object TextSearch {

  /** Per-(doc, term) frequencies over lowercased whitespace tokens. */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(col(idCol),
        explode(words(lower(col(textCol)))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count("*").as("tf"))

  /** Build-once BM25 corpus statistics: per-doc lengths, per-(doc, term)
    * postings, and the (N, avgdl) corpus summary. Tokenization — the
    * expensive narrow pass over every document — runs exactly once per
    * frame here and is persisted, so any number of queries against the
    * same corpus reuse it (the same shape as the persisted vector
    * index, [[graft.operators.Ingest.buildIndex]]). (N, avgdl) is
    * collected here once and held as a one-row local frame.
    *
    * OWNERSHIP: the index holds two persisted frames; the caller that
    * built it must call [[Bm25Index.release]] (or clear the session
    * cache) when done — the library never unpersists on its own.
    */
  case class Bm25Index(lens: DataFrame, postings: DataFrame,
                       corpus: DataFrame, idCol: String) {
    def release(): Unit = { lens.unpersist(); postings.unpersist() }
  }

  def buildBm25Index(docs: DataFrame, idCol: String, textCol: String)
      : Bm25Index = {
    // lens kept separately from postings: zero-token docs still count
    // toward N and avgdl but have no postings rows
    val lens = docLengths(docs, idCol, textCol).persist()
    val postings = termFrequencies(docs, idCol, textCol).persist()
    // materialize NOW: scoring evaluates corpus stats and the df
    // aggregate inside broadcast futures that run concurrently with the
    // main join job; racing readers of a lazily-persisted frame each
    // recompute the full tokenization scan (same fix as
    // Dedup.ngramJaccardPairs). The (N, avgdl) collect is the lens
    // materialization; its one row is kept as a local frame, so no
    // scoring call re-aggregates the corpus.
    val stats = corpusStats(lens)
    val corpus = docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(stats.collect(): _*), stats.schema)
    postings.count()
    Bm25Index(lens, postings, corpus, idCol)
  }

  /** [[buildBm25Index]]'s per-doc lengths, (idCol, dl). */
  private[operators] def docLengths(docs: DataFrame, idCol: String,
                                    textCol: String): DataFrame =
    docs.select(col(idCol),
      size(words(lower(col(textCol)))).cast("double").as("dl"))

  /** [[buildBm25Index]]'s one-row (n, avgdl) summary of `lens`. */
  private[operators] def corpusStats(lens: DataFrame): DataFrame =
    lens.agg(count("*").as("n"), avg("dl").as("avgdl"))

  /** BM25 scores for one tokenized query against a prebuilt index.
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
    * with the standard Robertson/Sparck-Jones idf
    * ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Only postings of the query's terms survive the first filter, so
    * everything downstream of the (already-built) index touches
    * O(matching docs) rows — the distributed inverted-index shape.
    */
  def bm25ScoresIndexed(index: Bm25Index, queryTerms: Seq[String],
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryTerms.map(_.toLowerCase).distinct
    val idCol = index.idCol
    val tf = index.postings.filter(col("term").isin(terms: _*))
    val df = tf.groupBy("term").agg(count("*").as("df"))
    tf.join(broadcast(df), "term")
      .join(index.lens, idCol)
      .crossJoin(broadcast(index.corpus))
      .select(col(idCol), col("term"),
        (log(lit(1.0) +
          (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("term_score"))
      .groupBy(col(idCol))
      .agg(sum("term_score").as("score"))
  }

  /** One term's score in [[bm25ScoresIndexed]], in driver arithmetic:
    * the same operations in the same order, with `StrictMath.log`,
    * which is Spark's `ln`. */
  private[operators] def bm25Term(n: Long, df: Long, tf: Long, dl: Double,
                                  avgdl: Double, k1: Double = 1.2,
                                  b: Double = 0.75): Double =
    StrictMath.log(1.0 + ((n - df) + 0.5) / (df + 0.5)) *
      (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * dl / avgdl))

  /** One-shot convenience over [[buildBm25Index]] +
    * [[bm25ScoresIndexed]]. OWNERSHIP: persists the transient index's
    * two frames; the caller evaluates the result and then clears them
    * (Bench/Verify do so via `spark.catalog.clearCache()`).
    */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25ScoresIndexed(buildBm25Index(docs, idCol, textCol), queryTerms, k1, b)

  /** [[rrfFuse]]'s default rank offset and per-ranking depth. */
  private[operators] val RrfC = 60
  private[operators] val RrfDepth = 1000

  /** Reciprocal-rank fusion of two rankings of the same id space:
    * rrf(d) = Σ_r 1/(c + rank_r(d)), missing-from-a-ranking contributes
    * nothing. The standard score-scale-free hybridizer.
    *
    * Each input is first truncated to its top `depth` rows via
    * orderBy+limit (TakeOrderedAndProject — per-partition heaps), so the
    * unpartitioned ranking window only ever sees ≤ depth rows; feeding a
    * corpus-sized ranking through a global row_number would funnel every
    * row to one task. depth ≥ corpus size makes the fusion exact;
    * smaller depths are the standard top-m approximation.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, k: Int,
              c: Int = RrfC, depth: Int = RrfDepth): DataFrame = {
    def ranked(df: DataFrame): DataFrame =
      df.orderBy(col("score").desc, col(idCol)).limit(depth)
        .withColumn("rrf",
          // boundedGlobalWindow pins the (deliberate) single-partition
          // ranking stage without tripping WindowExec's no-partition
          // warning — its input is already capped at `depth` rows by the
          // TakeOrderedAndProject above, so one task is the right plan
          // (lit(0) no longer survives EliminateWindowPartitions)
          lit(1.0) / (lit(c) + row_number().over(
            Search.boundedGlobalWindow(col("score"))
              .orderBy(col("score").desc, col(idCol)))))
        .select(col(idCol), col("rrf"))
    ranked(a).unionByName(ranked(b))
      .groupBy(col(idCol))
      .agg(sum("rrf").as("rrf_score"))
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(k)
  }

  /** FastText-style subword token embeddings (Bojanowski et al. 2017,
    * public): each word embeds as the L2-normalized signed-hash bag of
    * its character 3-grams over the `<w>`-padded form, into `dim`
    * buckets — the i01 feature-hash kernel applied at SUBWORD
    * granularity, so lexically close tokens ("streem"/"stream") share
    * most n-grams and land close in cosine. Emits the sparse form
    * `(w, bucket, v)` with zero cells dropped; a token whose gram
    * signs fully cancel vanishes (cosine 0 to everything — consistent
    * with the dropped-row semantics downstream). Pure builtin
    * expressions, no UDF; the SQL oracle replays every step.
    */
  def subwordTokenEmbeddings(tokens: DataFrame, dim: Int): DataFrame = {
    import graft.functions.HashFunctions.md5Long
    val padded = "concat('<', w, '>')"
    val grams = tokens.select(col("w"), explode(expr(
      s"transform(sequence(1, length($padded) - 2), " +
        s"i -> substring($padded, i, 3))")).as("g"))
    val signed = grams.select(col("w"),
      (md5Long(col("g")) % dim).as("bucket"),
      when(md5Long(concat(lit("sign:"), col("g"))) % 2 === 1, 1.0)
        .otherwise(-1.0).as("s"))
    val sums = signed.groupBy("w", "bucket").agg(sum("s").as("v"))
      .filter(col("v") =!= 0)
    val norms = sums.groupBy("w")
      .agg(sqrt(sum(col("v") * col("v"))).as("norm"))
    sums.join(norms, "w")
      .select(col("w"), col("bucket"), (col("v") / col("norm")).as("v"))
  }

  /** ColBERT-style late-interaction retrieval (Khattab & Zaharia 2020,
    * public): `score(q, d) = Σ_{t∈q} max_{w∈d} cos(E(t), E(w))`,
    * with [[subwordTokenEmbeddings]] as the deterministic stand-in for
    * the learned token encoder. Because the embeddings are subword
    * hashes, a typo'd query token still scores against its clean
    * corpus form — the robustness BM25's exact term match (t15) lacks,
    * and a DIFFERENT retrieval axis than the doc-level dense path
    * (v01): token-level interaction, aggregated late.
    *
    * Per-query-token contributions are clamped at 0 (a token with no
    * positive match adds nothing), which also makes the relational
    * join form exact: (doc, qtoken) pairs with no shared bucket drop
    * from the join and contribute the same 0 the clamp would give.
    * Scores round to 6dp BEFORE the top-k rank (the t15 convention:
    * double accumulation-order noise must not move the cutoff).
    *
    * Scale shape (100 TB): the vocabulary embeds ONCE (distinct words
    * — Zipf makes this corpus-sublinear); the query-side frame is
    * ≤|q|·dim rows and broadcasts through the bucket join; the only
    * corpus-scale exchanges are the distinct-(doc, word) projection
    * and the per-doc aggregate. The token-level index IS the ColBERT
    * deployment shape; per-doc contribution maxes are
    * partial-aggregable, never a window.
    */
  def maxSimSearch(docs: DataFrame, idCol: String, textCol: String,
                   queryTokens: Seq[String], dim: Int = 64,
                   k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.filter(trim(col(textCol)) =!= "")
      .select(col(idCol), explode(words(lower(col(textCol)))).as("w"))
      .distinct()
      // read twice (vocabulary + the contribution join): persist, or
      // the corpus tokenizes twice — the one pass the scale story
      // promises (callers clearCache between corpora)
      .persist()
    val vemb = subwordTokenEmbeddings(toks.select("w").distinct(), dim)
    val qemb = subwordTokenEmbeddings(
      queryTokens.distinct.toDF("w"), dim)
    val sim = broadcast(qemb.select(col("w").as("qw"), col("bucket"),
        col("v").as("qv")))
      .join(vemb, "bucket")
      .groupBy(col("qw"), col("w"))
      .agg(sum(col("qv") * col("v")).as("cos"))
    val contrib = toks.join(broadcast(sim), "w")
      .groupBy(col(idCol), col("qw"))
      .agg(greatest(max(col("cos")), lit(0.0)).as("c"))
    contrib.groupBy(col(idCol))
      .agg(round(sum(col("c")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .orderBy(col(idCol))
  }
}

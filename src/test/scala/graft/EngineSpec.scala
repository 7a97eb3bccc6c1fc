package graft

import java.nio.file.Files

/** End-to-end replay of the reference's usage (SURVEY.md §5.4): ingest a
  * small corpus + pasted sentences, dedupe on re-ingest, k-NN search with
  * content enrichment, ranked context, extractive answer — the whole
  * /add → /load-documents → /search lifecycle against a real parquet
  * store on disk.
  */
class EngineSpec extends SparkSpec {

  private lazy val corpusDir: String = {
    val d = Files.createTempDirectory("graft_corpus")
    Files.writeString(d.resolve("viz.txt"),
      "charts and dashboards present data visually so analysts " +
        "can explore trends with interactive visualization tools")
    Files.writeString(d.resolve("brew.txt"),
      "steeping loose leaves in hot water makes a calming cup " +
        "preferred by tea drinkers every afternoon")
    d.toString
  }

  private def freshStore(): String =
    Files.createTempDirectory("graft_engine").toString + "/store"

  private def freshEngine: Engine =
    new Engine(spark, freshStore(), dim = 64, chunkSize = 40, overlap = 10)

  /** One-hot on text length: equal-length texts score identically. */
  private object LengthEmbedder extends Embedder {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    override def embed(df: DataFrame, textCol: String,
                       dim: Int): DataFrame =
      df.withColumn("embedding",
        transform(sequence(lit(0), lit(dim - 1)),
          i => when(i === length(col(textCol)) % dim, lit(1.0f))
            .otherwise(lit(0.0f))))
  }

  test("the Embedder seam: a custom embedder serves ingest AND query " +
      "paths; the store carries its vectors") {
    import org.apache.spark.sql.functions._
    // LengthEmbedder mocks a network embedder: deterministic per text
    // like a pinned model version, but nothing like HashEmbed, so
    // retrieval outcomes prove WHICH embedder ran
    val store = Files.createTempDirectory("graft_mock").toString + "/store"
    val e = new Engine(spark, store, dim = 64, chunkSize = 40,
      overlap = 10, embedder = LengthEmbedder)
    e.addDocument("exact", "a")         // length 5 -> one-hot at 5
    e.addDocument("same!", "b")         // length 5 -> same vector
    e.addDocument("different length", "c")
    // stored vectors are the mock's, not HashEmbed's
    val stored = e.documents()
      .select(col("content"), col("embedding")).collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    assert(stored("exact")(5) == 1.0f &&
      stored("exact").count(_ != 0.0f) == 1)
    // the query path embeds with the SAME seam: a 5-char query scores
    // both 5-char docs at cosine 1 and the longer doc at 0
    val hits = e.search("12345", k = 3).collect()
      .map(r => r.getString(2) -> r.getDouble(1)).toMap
    assert(hits("exact") == 1.0 && hits("same!") == 1.0)
    assert(hits("different length") == 0.0)
  }

  test("full lifecycle: load, add, dedupe, count, search, answer") {
    val e = freshEngine
    assert(e.countDocuments() == 0)

    // GET /load-documents
    val loaded = e.loadDocuments(corpusDir)
    assert(loaded == 2) // both files are shorter than one chunk window

    // POST /add
    assert(e.addDocument("john likes tea") == 1)
    assert(e.addDocument("john likes beer") == 1)
    assert(e.countDocuments() == 4)

    // INSERT OR IGNORE parity: exact re-adds store nothing
    assert(e.addDocument("john likes tea") == 0)
    assert(e.loadDocuments(corpusDir) == 0)
    assert(e.countDocuments() == 4)

    // ids are contiguous from 1
    val ids = e.documents().select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L, 4L))

    // topical search ranks the right corpus doc first (reference §5.4:
    // a visualization query must beat the tea sentences)
    val vizTop = e.search(
      "interactive charts visualization dashboards data", k = 2)
      .orderBy(org.apache.spark.sql.functions.col("score").desc)
      .select("content").collect().map(_.getString(0))
    assert(vizTop.head.contains("visualization"))

    val teaTop = e.answer("a calming cup of tea every afternoon")
    assert(teaTop.contains("tea"))

    // ranked context format
    val ctx = e.context("visualization dashboards", k = 2)
    assert(ctx.startsWith("1. ") && ctx.contains("\n2. "))
  }

  test("searchAll answers many queries in one plan, per-query ranked") {
    val e = freshEngine
    e.loadDocuments(corpusDir)
    e.addDocument("john likes tea")
    val got = e.searchAll(Seq(
        "interactive charts visualization dashboards data",
        "a calming cup of tea"), k = 2)
      .select("query_id", "rank", "content").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(got.length == 4)
    assert(got.count(_._1 == 0L) == 2 && got.count(_._1 == 1L) == 2)
    assert(got.find(g => g._1 == 0L && g._2 == 1).get._3.contains("visualization"))
    assert(got.find(g => g._1 == 1L && g._2 == 1).get._3.contains("tea"))
  }

  test("hybridSearch fuses lexical and vector evidence") {
    val e = freshEngine
    e.loadDocuments(corpusDir)
    e.addDocument("john likes tea")
    // "tea" appears verbatim (lexical hit) and the tea doc should also
    // be the vector neighbor → fused rank 1
    val top = e.hybridSearch("tea drinkers prefer a calming cup", k = 3)
      .select("content").collect().map(_.getString(0))
    assert(top.nonEmpty && top.head.contains("tea"))
  }

  test("searchDiverse de-duplicates the result list via MMR") {
    val e = freshEngine
    e.loadDocuments(corpusDir)
    // a near-duplicate of the brew.txt tea doc (exact re-adds dedup
    // away at ingest; near-dups are what MMR exists for)
    e.addDocument("steeping loose leaves in hot water makes a calming " +
      "cup preferred by tea drinkers every afternoon indeed")
    e.addDocument("charts are visual")
    val got = e.searchDiverse(
      "calming tea cup afternoon", k = 3, lambda = 0.3)
    val rows = got.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    val contents = rows.sortBy(_.getAs[Long]("rank"))
      .map(_.getAs[String]("content"))
    // rank 1 is the pure-relevance winner (a tea doc); its near-twin
    // must be demoted below the unrelated docs at diversity-heavy λ
    assert(contents(0).contains("tea"))
    assert(contents.take(2).count(_.contains("steeping")) == 1,
      s"near-duplicate pair must not fill ranks 1-2: ${contents.toSeq}")
  }

  test("deleteDocuments removes rows, ids stay unreused, search adapts") {
    val e = freshEngine
    assert(e.addDocument("john likes tea") == 1)
    assert(e.addDocument("john likes beer") == 1)
    assert(e.addDocument("data visualization dashboards") == 1)

    // delete one real id + one unknown id: only the real one counts
    assert(e.deleteDocuments(Seq(2L, 99L)) == 1)
    assert(e.countDocuments() == 2)
    assert(e.deleteDocuments(Seq(2L)) == 0) // already gone
    assert(e.deleteDocuments(Nil) == 0)

    // the deleted doc no longer surfaces; the index was invalidated
    val hits = e.search("john likes beer", k = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!hits.contains(2L))

    // AUTOINCREMENT parity: the next ingest continues AFTER the old
    // max (3), never back-filling the hole at 2
    assert(e.addDocument("an entirely new document") == 1)
    val ids = e.documents().select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L, 4L))
  }

  test("deleteDocuments of every row leaves a working empty store") {
    val e = freshEngine
    assert(e.addDocument("only doc") == 1)
    assert(e.deleteDocuments(Seq(1L)) == 1)
    assert(e.countDocuments() == 0)
    // ingest after full delete restarts cleanly
    assert(e.addDocument("fresh start") == 1)
    assert(e.countDocuments() == 1)
  }

  test("search on an empty store returns no hits, not an error") {
    val e = freshEngine
    assert(e.search("anything", k = 3).count() == 0)
    assert(e.answer("anything") == "")
    assert(e.context("anything", 2) == "")
  }

  test("an existing-but-file-less store directory is treated as empty") {
    // a crashed first write can leave the directory with no data files
    val dir = java.nio.file.Files
      .createTempDirectory("graft_empty_store").toString
    val e = new Engine(spark, dir)
    assert(e.countDocuments() == 0)
    assert(e.search("anything", k = 1).count() == 0)
    assert(e.addDocument("now it has content") > 0)
    assert(e.countDocuments() == 1)
  }

  test("resolving a written store runs no job and reads the schema " +
      "inference would give") {
    val path = freshStore()
    val e = new Engine(spark, path, dim = 64, chunkSize = 40, overlap = 10)
    assert(e.addDocument("a store with one chunk") == 1)
    var docs: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { docs = e.documents() } == 0)
    assert(docs.schema == spark.read.parquet(path).schema)
  }

  test("long documents chunk with overlap and remain searchable") {
    val e = freshEngine
    val long = (1 to 120).map(i => s"token$i").mkString(" ") +
      " unique anchor phrase appears here"
    // chunkSize 40 / overlap 10 → stride 30 → ceil((124-40)/30)+1 = 4 chunks
    assert(e.addDocument(long, "long.txt") == 4)
    val hit = e.search("unique anchor phrase appears here", k = 1)
      .select("content").collect()(0).getString(0)
    assert(hit.contains("anchor"))
  }

  test("single-writer lock: a concurrent second writer fails loudly") {
    val store = Files.createTempDirectory("graft_lock").toString + "/store"
    val e = new Engine(spark, store, dim = 64, chunkSize = 40, overlap = 10)
    assert(e.addDocument("first document body", "a") > 0)
    // simulate another live writer: its lock file sits next to the store
    val lock = new org.apache.hadoop.fs.Path(store + ".lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lock, false); out.close()
    try {
      val ex = intercept[IllegalStateException] {
        e.addDocument("second document body", "b")
      }
      assert(ex.getMessage.contains("locked by another writer"))
      val ex2 = intercept[IllegalStateException] { e.deleteDocuments(Seq(1L)) }
      assert(ex2.getMessage.contains("locked by another writer"))
      // nothing was silently appended or removed while locked
      assert(e.countDocuments() == 1)
    } finally fs.delete(lock, false)
    // lock released -> writes flow again, and the engine's own locking
    // cleans up after itself (a full cycle leaves no lock file behind)
    assert(e.addDocument("second document body", "b") > 0)
    assert(e.countDocuments() == 2)
    assert(!fs.exists(lock))
  }

  test("two concurrent writers never corrupt the store") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_race").toString + "/store"
    val e = new Engine(spark, store, dim = 64, chunkSize = 40, overlap = 10)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val results = Seq("alpha body text", "beta body text").map { t =>
        pool.submit(new java.util.concurrent.Callable[scala.util.Try[Long]] {
          def call(): scala.util.Try[Long] =
            scala.util.Try(e.addDocument(t, t.take(5)))
        })
      }.map(_.get())
      // every outcome is either a clean write or the LOUD lock failure
      results.foreach {
        case scala.util.Success(n) => assert(n == 1L)
        case scala.util.Failure(ex) =>
          assert(ex.isInstanceOf[IllegalStateException] &&
            ex.getMessage.contains("locked by another writer"), ex)
      }
      val oks = results.count(_.isSuccess)
      assert(oks >= 1) // at least one writer must have won
      // store is consistent: one row per successful add, ids unique
      assert(e.countDocuments() == oks)
      val ids = e.documents().select("doc_id").as[Long].collect()
      assert(ids.distinct.length == ids.length)
    } finally pool.shutdown()
  }

  /** Spark jobs of each read on a warmed engine over a small store. */
  private def warmReadJobs(): Map[String, Int] = {
    val e = freshEngine
    e.loadDocuments(corpusDir)
    e.addDocument("john likes tea")
    e.addDocument("charts are visual")
    val q = "a calming cup of tea"
    val reads = Seq[(String, () => Unit)](
      "search" -> (() => e.search(q, k = 2).collect()),
      "answer" -> (() => e.answer(q)),
      "context" -> (() => e.context(q, k = 2)),
      "searchDiverse" -> (() => e.searchDiverse(q, k = 2).collect()),
      "hybridSearch" -> (() => e.hybridSearch(q, k = 2).collect()),
      "countDocuments" -> (() => e.countDocuments()))
    // warm: snapshot resolved, both indexes built
    reads.foreach(_._2())
    reads.map { case (name, read) => name -> jobsOf(read()) }.toMap
  }

  test("reads on a warmed engine reuse the store snapshot: search and " +
      "searchDiverse run in at most 3 Spark jobs, hybridSearch in 8") {
    // the plans, which serve every read under a broadcast bound of -1
    val jobs = withBroadcastDisabled(warmReadJobs())
    assert(jobs("search") <= 3, jobs)
    assert(jobs("searchDiverse") <= 3, jobs)
    assert(jobs("hybridSearch") <= 8, jobs)
  }

  test("reads on a warmed engine over a store that fits run no Spark job") {
    val jobs = warmReadJobs()
    assert(jobs.values.forall(_ == 0), jobs)
  }

  test("the query side runs no job: HashEmbedder over a one-row local " +
      "frame, collected") {
    import spark.implicits._
    assert(jobsOf(HashEmbedder.embed(Seq("a calming cup of tea")
      .toDF("text"), "text", 64).collect(): Unit) == 0)
  }

  /** A row with each double replaced by its bits: equal means equal to
    * the last bit. */
  private def bits(r: org.apache.spark.sql.Row): Seq[Any] = r.toSeq.map {
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case x         => x
  }

  /** Every read of `e`, with each frame's schema: search's and the
    * indexes' rows as a multiset, every other read's in order. */
  private def reads(e: Engine, queries: Seq[String], k: Int,
                    shortlistSize: Int): Seq[(String, Any)] = {
    import org.apache.spark.sql.DataFrame
    def ordered(df: DataFrame) = (df.schema, df.collect().toSeq.map(bits))
    def multiset(df: DataFrame) = (df.schema,
      df.collect().toSeq.map(bits).groupBy(identity).map {
        case (r, rs) => r -> rs.size })
    val lexical = e.lexicalIndex()
    Seq("countDocuments" -> e.countDocuments(),
        "index" -> multiset(e.index()),
        "lexicalIndex.lens" -> multiset(lexical.lens),
        "lexicalIndex.postings" -> multiset(lexical.postings),
        "lexicalIndex.corpus" -> ordered(lexical.corpus)) ++
      queries.flatMap(q => Seq(
        s"search($q)" -> multiset(e.search(q, k)),
        s"answer($q)" -> e.answer(q),
        s"context($q)" -> e.context(q, k),
        s"searchDiverse($q)" -> ordered(e.searchDiverse(q, k, 0.3,
          shortlistSize)),
        s"hybridSearch($q)" -> ordered(e.hybridSearch(q, k)))) :+
      ("searchAll" -> ordered(e.searchAll(queries, k)))
  }

  /** Runs every read on `block` at the session's default broadcast
    * bound and on `plans` at -1, and checks both give the same rows
    * and schemas. `block` must serve them all from its driver-held
    * block: at most the one collect that builds it. */
  private def onBothPaths(block: Engine, plans: Engine,
                          queries: Seq[String], k: Int,
                          shortlistSize: Int = 50): Unit = {
    var got: Seq[(String, Any)] = Nil
    block.documents() // lists the store under its fixed schema: no job
    val jobs = jobsOf { got = reads(block, queries, k, shortlistSize) }
    val want = withBroadcastDisabled(reads(plans, queries, k, shortlistSize))
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case ((name, a), (_, b)) =>
      assert(a == b, s"$name differs between the block and the plans")
    }
    assert(jobs <= 1, s"$jobs jobs: the block did not serve")
  }

  private def enginePair(store: String, embedder: Embedder = HashEmbedder)
      : (Engine, Engine) = {
    def engine() = new Engine(spark, store, dim = 64, chunkSize = 40,
      overlap = 10, embedder = embedder)
    (engine(), engine())
  }

  private val probes = Seq(
    "a calming cup of tea", "tea drinkers prefer a calming cup",
    "interactive charts visualization dashboards data", "john likes",
    "tea", "absent words only", "")

  test("both paths give the same rows: multi-term hybrid queries, " +
      "shortlistSize below k, and k beyond the store") {
    val store = freshStore()
    val (w, _) = enginePair(store)
    w.loadDocuments(corpusDir)
    Seq("john likes tea", "john likes beer", "charts are visual",
      "tea tea tea and more tea for the tea drinkers",
      "steeping loose leaves in hot water makes a calming cup")
      .foreach(w.addDocument(_))
    val (block, plans) = enginePair(store)
    onBothPaths(block, plans, probes, k = 3)
    onBothPaths(block, plans, probes, k = 4, shortlistSize = 2)
    onBothPaths(block, plans, probes.take(2), k = 20)
  }

  test("both paths give the same rows when every score ties") {
    val store = freshStore()
    val w = new Engine(spark, store, dim = 64, chunkSize = 40,
      overlap = 10, embedder = LengthEmbedder)
    Seq("bbbbb", "aaaaa", "ccccc", "ddddd", "longer text", "other text!")
      .foreach(w.addDocument(_))
    val (block, plans) = enginePair(store, LengthEmbedder)
    onBothPaths(block, plans, Seq("12345", "1234567890a", "x"), k = 3)
    onBothPaths(block, plans, Seq("12345"), k = 3, shortlistSize = 2)
  }

  test("both paths give the same rows on an empty store") {
    val dir = Files.createTempDirectory("graft_empty_both").toString
    val (block, plans) = enginePair(dir + "/store")
    onBothPaths(block, plans, probes.take(2), k = 3)
    // an existing directory without data files
    val (block2, plans2) = enginePair(dir)
    onBothPaths(block2, plans2, probes.take(2), k = 3)
  }

  test("both paths give the same rows for a store another engine " +
      "writes, before and after its next append") {
    val store = freshStore()
    val (writer, _) = enginePair(store)
    writer.loadDocuments(corpusDir)
    writer.addDocument("john likes tea")
    val (block, plans) = enginePair(store)
    onBothPaths(block, plans, probes, k = 3)
    writer.addDocument("tea and charts for john")
    assert(writer.deleteDocuments(Seq(1L)) == 1)
    onBothPaths(block, plans, probes, k = 3)
  }

  test("countDocuments counts rows with a null doc_id on both paths") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val store = freshStore()
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("chunk_ix", IntegerType),
      StructField("content", StringType),
      StructField("embedding", ArrayType(FloatType))))
    spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, "a", 0, "one", Seq(1f, 0f)),
        Row(null, "b", 0, "two", Seq(0f, 1f)),
        Row(null, "c", 0, "three", null)), schema)
      .write.parquet(store)
    val (block, plans) = enginePair(store)
    assert(block.countDocuments() == 3)
    assert(withBroadcastDisabled(plans.countDocuments()) == 3)
  }

  test("two engines on one store: each sees the other's appends and " +
      "deletes on its next read, and writes never read a stale snapshot") {
    twoEngines()
    // with both of A's indexes persisted over the store path, B's append
    // re-caches them in place (Spark's recacheByPath); the rules hold
    withBroadcastDisabled(twoEngines())
  }

  private def twoEngines(): Unit = {
    import spark.implicits._
    val store = freshStore()
    def engine() = new Engine(spark, store, dim = 64, chunkSize = 40,
      overlap = 10)
    val a = engine()
    val b = engine()
    val alpha = "alpha body text"
    val beta = "beta body text"
    def contents(e: Engine) =
      e.documents().select("content").as[String].collect().toSet
    def searched(e: Engine, q: String) =
      e.search(q, k = 3).select("content").as[String].collect().toSet
    def ids(e: Engine) = e.documents().select("doc_id").as[Long].collect()

    assert(a.addDocument(alpha, "a") == 1)
    // A's snapshot and both of its indexes are built before B writes
    assert(a.countDocuments() == 1)
    a.index()
    a.lexicalIndex()

    assert(b.addDocument(beta, "b") == 1)
    // ingest resolves the store under the lock: B's row is a duplicate
    // for A although A has not read since B's write
    assert(a.addDocument(beta, "a") == 0)
    assert(a.countDocuments() == 2)
    assert(contents(a) == Set(alpha, beta))
    assert(searched(a, beta).contains(beta))
    assert(a.hybridSearch(beta, k = 2).select("content").as[String]
      .collect().toSet == Set(alpha, beta))
    // both of A's indexes are now built over B's row

    val betaId = b.documents().filter($"content" === beta)
      .select("doc_id").as[Long].head()
    assert(b.deleteDocuments(Seq(betaId)) == 1)
    // A's snapshot pointed at files the delete removed: the next reads
    // re-resolve instead of failing with FileNotFoundException
    assert(a.countDocuments() == 1)
    assert(contents(a) == Set(alpha))
    // top-1 reads: a stale index would rank B's deleted row first, and
    // the enrich join against the fresh snapshot would then drop it
    assert(a.answer(beta) == alpha)
    assert(a.hybridSearch(beta, k = 1).select("content").as[String]
      .collect().toSeq == Seq(alpha))

    // B's snapshot is warm, then A appends: B's next id follows A's
    assert(b.countDocuments() == 1)
    assert(a.addDocument("gamma body text", "a") == 1)
    assert(b.addDocument("delta body text", "b") == 1)
    assert(ids(a).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  /** [[graft.operators.Search.contextAgg]]'s string for `rows` of
    * (doc_id, score, content), through Spark. */
  private def contextAggOf(rows: Seq[org.apache.spark.sql.Row]): String = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("score", DoubleType), StructField("content", StringType)))
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r => Row(r.toSeq: _*)), 2),
        schema)
      .withColumn("query_id", lit(0L))
    val got = graft.operators.Search
      .contextAgg(df, "query_id", "doc_id", "content")
      .select("context").collect()
    if (got.isEmpty) "" else got(0).getString(0)
  }

  test("formatContext equals contextAgg: tied, NaN, signed-zero and null " +
      "scores, a null content, and no rows") {
    import org.apache.spark.sql.Row
    val rows = Seq(
      Row(7L, 0.5, "seven"), Row(3L, 0.5, "three"), // tie -> doc_id
      Row(5L, 0.9, null),                         // dropped, no rank
      Row(9L, 0.0, "nine"), Row(2L, -0.0, "two"), // -0.0 equals 0.0
      Row(4L, Double.NaN, "nan"),                 // NaN ranks first
      Row(8L, null, "null score"),                // null ranks last
      Row(1L, 0.75, "one"))
    val want = contextAggOf(rows)
    assert(want == Seq("1. nan", "2. one", "3. three", "4. seven",
      "5. two", "6. nine", "7. null score").mkString("\n"))
    assert(Engine.formatContext(rows) == want)
    assert(Engine.formatContext(rows.reverse) == want)
    assert(Engine.formatContext(Seq(Row(5L, 0.9, null))) ==
      contextAggOf(Seq(Row(5L, 0.9, null))))
    assert(Engine.formatContext(Seq.empty) == contextAggOf(Seq.empty))
  }

  test("context on an engine equals contextAgg over its search rows, " +
      "ties included, and runs no more jobs than search") {
    val store = Files.createTempDirectory("graft_ctx").toString + "/store"
    val e = new Engine(spark, store, dim = 64, chunkSize = 40,
      overlap = 10, embedder = LengthEmbedder)
    assert(e.context("abcde", 3) == "")
    Seq("bbbbb", "aaaaa", "ccccc", "longer text").foreach(e.addDocument(_))
    val ctx = e.context("12345", k = 3)
    assert(ctx == contextAggOf(e.search("12345", k = 3).collect().toSeq))
    // three docs tie at cosine 1: doc_id order, which is ingest order
    assert(ctx == "1. bbbbb\n2. aaaaa\n3. ccccc")
    val searchJobs = jobsOf(e.search("12345", k = 3).collect(): Unit)
    assert(jobsOf(e.context("12345", k = 3): Unit) <= searchJobs)
  }
}

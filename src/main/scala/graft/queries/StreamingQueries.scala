package graft.queries

import graft.queries.OracleSql.{parquet, rankedPerQuery, withSrpSketch}
import graft.streaming.Streaming
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming surface, verified through batch/stream parity:
  * each query runs a finite (AvailableNow) streaming pipeline to a
  * memory sink, and its oracle is the equivalent BATCH SQL — so the
  * correctness gate proves the incremental plan converges to the batch
  * answer.
  */
object StreamingQueries {

  /** Watermarked hourly windowed aggregation, streaming twin of
    * r12_hourly_events. */
  def streamHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = Streaming.hourlyCounts(Streaming.eventsStream(spark, sfDir))
    Streaming.runAvailableNow(spark, agg, "graft_s01", "complete")
      .select(col("hour"), col("event_type"), col("n"),
        round(col("sum_value"), 4).as("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** Stateful streaming dedup (dropDuplicates on user_id) + count — the
    * streaming INSERT-OR-IGNORE: one surviving row per user.
    */
  def streamDedupUsers(spark: SparkSession, sfDir: String): DataFrame = {
    // dedup state and the count stay in separate plans (chaining two
    // stateful operators in one streaming query is mode-restricted):
    // append-mode dedup drains into the sink, the count is batch on top
    val deduped = Streaming
      .streamingDedup(Streaming.eventsStream(spark, sfDir), "user_id")
      .select("user_id")
    Streaming.runAvailableNow(spark, deduped, "graft_s02", "append")
      // countDistinct, not count(*): the watermark-BOUNDED dedup
      // re-emits a key whose state was evicted (multi-batch inputs), so
      // raw sink rows could overcount vs the batch answer
      .agg(countDistinct("user_id").as("n_users"))
  }

  /** Custom-state sessionization (mapGroupsWithState) — must equal the
    * batch lag/cumsum formulation r11. A group may be re-emitted once
    * per micro-batch in update mode, and a user whose state was
    * watermark-evicted re-appears as a NEW state segment (keyed by
    * `seg_start`); the final row per segment is the one with the highest
    * event count, and per-user totals are the sum over segments —
    * correct because eviction only fires after the session gap provably
    * elapsed, so segment boundaries are also session boundaries.
    */
  def streamSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val sess = Streaming
      .sessionCounts(Streaming.eventsStream(spark, sfDir)).toDF()
    Streaming.runAvailableNow(spark, sess, "graft_s03", "update")
      .groupBy("user_id", "seg_start")
      .agg(max_by(struct(col("n_sessions"), col("n_events")),
        col("n_events")).as("f"))
      .groupBy("user_id")
      .agg(sum("f.n_sessions").as("n_sessions"),
        sum("f.n_events").as("n_events"))
      .orderBy("user_id")
  }

  /** Stream-static join: the event stream enriched against the static
    * customer dimension (broadcast — the dim is re-read per micro-batch
    * but never shuffled), then a running aggregate per market segment.
    * The canonical streaming-enrichment shape: facts stream, dims are
    * slowly-changing tables on disk.
    */
  def streamEnriched(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Streaming.eventsStream(spark, sfDir)
    val dim = broadcast(graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment")))
    val agg = ev.join(dim, "user_id")
      .groupBy("c_mktsegment")
      .agg(count("*").as("n"), sum("value").as("sum_value"))
      .select(col("c_mktsegment"), col("n"),
        round(col("sum_value"), 4).as("sum_value"))
    Streaming.runAvailableNow(spark, agg, "graft_s04", "complete")
      .orderBy("c_mktsegment")
  }

  /** Store-backed streaming upsert end-to-end
    * ([[Streaming.upsertToStore]]): events streamed into a fresh
    * parquet store with per-batch anti-join dedup on user_id — the
    * zero-state INSERT OR IGNORE. The oracle pins both the surviving
    * row count AND which row won per key (the min-event_id keeper), so
    * the keeper rule is verified, not just cardinality.
    */
  def streamUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val base = java.nio.file.Files
      .createTempDirectory("graft_s05").toString
    val ev = Streaming.eventsStream(spark, sfDir)
      .select(col("user_id").cast("string").as("content"), col("event_id"))
    val q = Streaming.upsertToStore(ev, s"$base/store", s"$base/chk",
      "content", "event_id")
    q.awaitTermination()
    spark.read.parquet(s"$base/store")
      .agg(count("*").as("n_users"),
        sum("event_id").as("sum_keeper_events"))
  }

  /** Stream-stream join: every click joined to the purchases the same
    * user makes within the following 30 minutes. Both sides carry
    * watermarks AND the join condition bounds event time on both ends,
    * so the join state is EVICTABLE: a click older than watermark +
    * 30 min can never match a future purchase and is dropped — the
    * state-bounding contract stream-stream joins require at 100 TB.
    * Inner-join results emit as soon as they match (append mode); the
    * batch-parity oracle is the identical interval self-join in SQL.
    */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Streaming.eventsStream(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value"))
      .withWatermark("p_ts", "10 minutes")
    val pairs = clicks.join(purchases,
      expr("""user_id = p_user AND
              p_ts >= click_ts AND
              p_ts <= click_ts + interval 30 minutes"""))
    Streaming.runAvailableNow(spark, pairs, "graft_s06", "append")
      .groupBy("user_id")
      .agg(count("*").as("n_pairs"), round(sum("value"), 4).as("sum_value"))
      .orderBy("user_id")
  }

  /** SRP sketch width / bucket prefix for s07 — 16-bit sketches routed
    * by their low 4 bits into 16 buckets, queries multi-probing their
    * own bucket plus the 4 at hamming distance 1 (5 of 16 buckets →
    * the exact kernel touches ~5/16 of the index per query). Shared
    * with the oracle SQL below, which replays the identical routing.
    */
  private val SrpBits = 16
  private val SrpBucketBits = 4

  /** Continuous vector search: a STREAM of query vectors against the
    * STATIC index — the serving shape of the reference's /search at
    * fleet scale (queries arrive continuously, the index is a table).
    *
    * The index is NEVER broadcast and never crossed: both sides carry
    * an SRP prefix-bucket ([[graft.operators.Ann.srpBucketIndex]] /
    * [[Ann.srpProbeBuckets]]) and meet in a stream-static EQUI-JOIN on
    * `bucket` — at 100 TB the static side is the bucket-partitioned
    * sketch index on disk and each micro-batch joins against only the
    * probed buckets, which no broadcast-the-corpus plan survives.
    * Per-query top-5 runs as the bounded-heap UDAF inside the streaming
    * aggregation (≤k rows of state per query — the only top-k
    * formulation legal in a stream, where sort+limit is not); bucket
    * routing guarantees each (query, candidate) pair arrives at most
    * once, so no stateful dedup precedes the aggregation. The oracle
    * replays the identical sketch/probe/rerank pipeline in SQL — the
    * approximation is pinned, not hidden (v20/v21's convention).
    */
  def streamSearch(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.TopKAggregator
      .explodeHits(
        Streaming.runAvailableNow(spark, streamSearchAgg(spark, sfDir),
          "graft_s07", "complete"),
        "query_id")
      .orderBy("query_id", "rank")

  /** The streaming aggregation s07 drains — exposed so PlanSpec can
    * start it under `autoBroadcastJoinThreshold=-1` and assert the
    * executed plan keeps the index un-broadcast and cartesian-free.
    */
  /** The persisted SRP sketch index, ONE per corpus dir (an
    * [[Artifacts.memo]], like dupComponents): repeated invocations in one
    * JVM — bench min-of-3, a service re-planning the stream — reuse
    * the same frame instead of stacking a fresh persisted copy per
    * call. `clearCache()` hygiene drops the materialization, never
    * correctness (the frame recomputes deterministically on next use).
    */
  def streamSearchAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ann
    val schema = spark.read.parquet(s"$sfDir/embeddings.parquet").schema
    val qStream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(sfDir)
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val probes = Ann.srpProbeBuckets(qStream, "qe", SrpBits, SrpBucketBits)
    // persisted: the static side of a stream-static join re-evaluates
    // per micro-batch, and a long-running service must not re-sketch
    // the corpus every trigger — this is the in-memory stand-in for
    // the bucket-partitioned sketch index a 100 TB deployment keeps on
    // disk (srpBucketIndex doc)
    val index = Artifacts.memo("streamSearchAgg", sfDir)(
      Ann.srpBucketIndex(
        graft.Tables.embeddings(spark, sfDir)
          .filter(col("vec_id") >= 8)
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", SrpBits, SrpBucketBits)
        .persist())
    val scored = probes.join(index, Seq("bucket"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.VectorFunctions
          .cosineSim(col("embedding"), col("qe")).as("score"))
    val topk = graft.operators.TopKAggregator.topKUdaf(5)
    scored.groupBy("query_id")
      .agg(topk(col("vec_id"), col("score")).as("hits"))
  }

  /** Continuous benchmark decontamination — t22's streaming twin, the
    * shape a continuous-ingest training pipeline needs: documents
    * STREAM in, the held-out eval set is a static table whose distinct
    * shingle hashes broadcast into a stream-static LEFT join, and one
    * streaming aggregate counts per-doc totals and hits
    * ([[graft.operators.Dedup.decontaminate]] is already
    * streaming-legal: a narrow shingle kernel, one broadcast join, ONE
    * stateful aggregate). At 100 TB the corpus side never shuffles for
    * the probe and per-doc state is two counters. Oracle = t22's SQL
    * verbatim — continuous decontamination ≡ batch.
    */
  def streamDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val corpusStream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      .filter(col("doc_id") >= 5)
      .select("doc_id", "text")
    val eval = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 5)
    val counts = graft.operators.Dedup
      .decontaminate(corpusStream, eval, "doc_id", "text", n = 3)
    TextQueries.decontaminateSelect(
      Streaming.runAvailableNow(spark, counts, "graft_s09", "complete"))
  }

  /** CONTINUOUS near-dup index maintenance — t31's streaming form and
    * the shape a live ingest pipeline runs: the base corpus (80%) is
    * indexed once ([[graft.operators.Dedup.buildJaccardIndex]], the
    * persisted artifact), then the remaining docs arrive as TWO
    * micro-batches (maxFilesPerTrigger=1 over two staged files) and
    * `foreachBatch` folds each into the index with
    * [[graft.operators.Dedup.updateJaccardIndex]] — delta-proportional
    * work per trigger, never an O(corpus) rescan. The oracle is t03's
    * full-corpus SQL verbatim: TWO sequential incremental updates must
    * compose to exactly the full rebuild (the equivalence holds
    * per-update, so it holds by induction — and the hash gate checks
    * the composition, not the claim).
    */
  def streamIncrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    // delta staged ONCE per (app, corpus): the two files → two
    // AvailableNow micro-batches; only the checkpoint must be fresh
    // per run (a reused checkpoint would consider the files processed)
    val base = IngestQueries.stagedDir(spark,
      s"graft_s10_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}") { dir =>
      Seq(8, 9).foreach { m =>
        docs.filter(pmod(col("doc_id"), lit(10)) === m)
          .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$dir/delta")
      }
    }
    // the same per-corpus base artifact t31 consumes — built once.
    // AtomicReference, not a captured var: foreachBatch runs on the
    // micro-batch thread and the final read happens on the caller
    // thread after awaitTermination — the reference provides the
    // cross-thread visibility edge explicitly instead of leaning on
    // StreamExecution internals.
    val ixRef = new java.util.concurrent.atomic.AtomicReference(
      TextQueries.baseJaccardIndex(spark, sfDir))
    val chk = s"$base/chk_${java.util.UUID.randomUUID().toString.take(8)}"
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/delta")
    // shuffle partitions pinned for the whole start→drain window: the
    // micro-batch session is cloned at .start(), so the delta-sized
    // update joins inside foreachBatch would otherwise run at the
    // CPU-derived session default (32 on the bench host) — measured
    // 2.4× slower than the delta-proportional count for pure per-task
    // overhead (the round-2 s03 lesson, applied to foreachBatch)
    Streaming.withStatePartitions(spark) {
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // driver-side fold: each micro-batch advances the index
          // artifact — delta-proportional (the base postings ride along
          // by reference; each update adds one delta-sized sidecar)
          ixRef.updateAndGet(ix =>
            Dedup.updateJaccardIndex(ix, batch, "doc_id", "text",
              n = 3, threshold = 0.1, maxDf = 1000L)._1)
          ()
        }
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // the checkpoint is per-run scratch (a reused one would consider
    // the staged files already processed): reclaim it now, not at exit
    val chkPath = new org.apache.hadoop.fs.Path(chk)
    chkPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(chkPath, true)
    TextQueries.pairsSelect(ixRef.get().pairs)
  }

  /** CONTINUOUS classifier scoring — t33's streaming twin and the
    * serving shape of the curation filter: embeddings stream in, the
    * trained class-means model (10 × 64 floats, an [[Artifacts]]
    * parquet) is collected once and rides in the projection AS A
    * LITERAL ([[graft.operators.Classify.nearestClassLit]], the Pq
    * kernel convention) — so per-row scoring is a pure narrow map
    * with ZERO streaming state, no join and no watermark. The
    * accuracy aggregate runs batch-side on the drained rows; the
    * oracle is t33's SQL verbatim: continuous scoring ≡ batch.
    */
  def streamClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val (corpusDir, _, meansDf) =
      TextQueries.classifierArtifacts(spark, sfDir)
    val model = meansDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toSeq.sortBy(_._1)
    val schema = spark.read.parquet(corpusDir).schema
    val scored = spark.readStream.schema(schema).parquet(corpusDir)
      .filter(pmod(col("vec_id"), lit(7)) === 0)
      .select(col("vec_id"),
        graft.operators.Classify
          .nearestClassLit(col("embedding"), model).as("pred"))
    Streaming.runAvailableNow(spark, scored, "graft_s11", "append")
      .withColumn("actual", pmod(col("vec_id"), lit(10)))
      .groupBy(col("actual").as("cls"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("pred") === col("actual"), 1L).otherwise(0L))
          .as("n_correct"))
      .orderBy("cls")
  }

  /** CONTINUOUS corpus profiling — t36's streaming twin: documents
    * stream in, the per-language HLL registers are ONE streaming
    * aggregate whose state is FIXED-SIZE (|langs| × 64 small ints)
    * regardless of throughput or horizon — the profiling shape that
    * runs forever at 100 TB/day where any exact-distinct state grows
    * without bound. Estimates and the (all) merge are computed
    * batch-side from the drained registers; the oracle is t36's SQL
    * verbatim — continuous profiling ≡ batch.
    */
  def streamProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Sketch
    val docs = graft.Tables.documents(spark, sfDir)
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
    // the single-pass ShingleHashes kernel (per-doc DISTINCT hashes):
    // HLL registers are duplicate-insensitive, so per-doc dedup leaves
    // them bit-identical to the all-positions enumeration the oracle
    // replays — at a fraction of the per-trigger cost
    val sh = stream.select(col("lang"),
      explode(graft.functions.HashFunctions.shingleHashes(
        graft.functions.TextFunctions.words(col("text")), 8)).as("sh"))
    // localCheckpoint: the estimate self-joins the register table
    // (dense grid ← groups × buckets); the memory-sink relation's
    // lineage must be cut or the self-join's attribute refs conflict.
    // |langs| × 64 rows — register-sized, the whole point.
    val regs = Streaming.runAvailableNow(spark,
        Sketch.hllRegistersFromHash(sh, Seq("lang"), col("sh"), 6),
        "graft_s12", "complete")
      .localCheckpoint()
    val batchSh = TextQueries.positionalShingleIndex(spark, sfDir)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
    val perLang = Sketch.hllEstimate(regs, Seq("lang"), 6)
      .join(batchSh.groupBy("lang")
        .agg(countDistinct(col("sh")).as("ndv_exact")), Seq("lang"))
    val merged = Sketch.hllEstimate(
        Sketch.hllMerge(regs, Nil).withColumn("lang", lit("(all)")),
        Seq("lang"), 6)
      .join(batchSh.agg(countDistinct(col("sh")).as("ndv_exact"))
        .withColumn("lang", lit("(all)")), Seq("lang"))
    perLang.unionByName(merged)
      .select(col("lang"), col("ndv_exact"), col("ndv_hll"),
        round(abs(col("ndv_hll") - col("ndv_exact")) / col("ndv_exact"),
          4).as("rel_err"))
      .orderBy("lang")
  }

  /** CONTINUOUS heavy hitters — t38's streaming twin: the token
    * stream folds into ONE streaming aggregate whose state is the
    * Count-Min counter grid (3 × 1024 small ints at any throughput or
    * horizon — the frequency monitor that runs forever where an exact
    * per-token count grows with the vocabulary). The drained grid is
    * probed batch-side with the exact top-12; the oracle is t38's SQL
    * verbatim: continuous counting ≡ batch (the streamed global grid
    * IS the cell-wise merge of t38's per-language tables, counts
    * partition by language).
    */
  def streamHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Sketch
    val docs = graft.Tables.documents(spark, sfDir)
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
    val toks = stream.select(explode(
      graft.functions.TextFunctions.words(col("text"))).as("tok"))
    // localCheckpoint: grid-sized (3 × 1024); cuts the memory-sink
    // lineage before the broadcast probe join (s12's convention)
    val cms = Streaming.runAvailableNow(spark,
        Sketch.cmsTable(toks, Nil, col("tok"), depth = 3, width = 1024),
        "graft_s13", "complete")
      .localCheckpoint()
    val top = docs.select(explode(
        graft.functions.TextFunctions.words(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt_exact"))
      .orderBy(col("cnt_exact").desc, col("tok").asc).limit(12)
    Sketch.cmsEstimate(cms, top, col("tok"), depth = 3, width = 1024)
      .select(col("tok"), col("cnt_exact"), col("cnt_cms"),
        (col("cnt_cms") - col("cnt_exact")).as("overest"))
      .orderBy(col("cnt_exact").desc, col("tok").asc)
  }

  /** CONTINUOUS drift monitoring — t41's streaming twin, completing
    * the monitor suite (s12 cardinality, s13 frequency, s14 drift):
    * the INCOMING side folds into its 1024-cell hashed histogram as
    * one streaming aggregate (fixed-size state at any throughput);
    * the base corpus's cells are the batch artifact; the drained
    * sketch meets it in [[graft.operators.Sketch.distCompare]] —
    * ≤ 1024 rows however long the stream ran. Oracle = t41's SQL
    * verbatim: continuous drift ≡ batch.
    */
  def streamDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Sketch
    val docs = graft.Tables.documents(spark, sfDir)
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
    def cells(df: DataFrame, keep: Column => Column) = df
      .filter(keep(pmod(col("doc_id"), lit(10))))
      .select(explode(
        graft.functions.TextFunctions.words(col("text"))).as("tok"))
      .select(pmod(graft.functions.HashFunctions.md5Long(col("tok")),
        lit(1024L)).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
    // the incoming-delta sketch, folded continuously; localCheckpoint
    // cuts the memory-sink lineage before the comparison join
    val deltaCells = Streaming.runAvailableNow(spark,
        cells(stream, _ >= 8), "graft_s14", "complete")
      .localCheckpoint()
    val baseCells = cells(docs, _ < 8)
    val ns = baseCells.agg(sum("cnt").as("n_base"))
      .crossJoin(deltaCells.agg(sum("cnt").as("n_delta")))
    Sketch.distCompare(baseCells, deltaCells)
      .crossJoin(broadcast(ns))
      .select("js_divergence", "l1_distance", "n_base", "n_delta")
  }

  /** CONTINUOUS Bloom decontamination — t42's streaming twin,
    * completing the monitor suite's membership leg (s12 cardinality,
    * s13 frequency, s14 drift): the eval-set Bloom is built batch-side
    * and collected into ⌈mBits/32⌉ longs that ride the projection AS A
    * LITERAL ([[graft.operators.Sketch.bloomMemberLit]] — s11's
    * model-as-literal convention), so per-shingle membership is a pure
    * narrow map with NO join, and the stream's single stateful
    * operator stays the per-doc rollup. The exact side rides the same
    * stream-static broadcast join s09 uses, so the FP overcount is
    * measured continuously next to the truth. At 100 TB the filter is
    * 1 KiB of plan literal however large the benchmark suite — the
    * probe side never grows. Oracle = t42's SQL verbatim: continuous
    * Bloom probing ≡ batch.
    */
  def streamBloomDecontaminate(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import graft.operators.{Dedup, Sketch}
    val docs = graft.Tables.documents(spark, sfDir)
    val evalSg = Dedup.shingleHashSet(
      docs.filter(col("doc_id") < 5), "doc_id", "text", n = 3)
    val words = Sketch.bloomWordArray(
      Sketch.bloomMerge(
        Sketch.bloomWordsFromHash(
          evalSg.select(pmod(col("doc_id"), lit(2)).as("shard"),
            col("shingle")),
          Seq("shard"), col("shingle"),
          TextQueries.BloomBits, TextQueries.BloomK),
        Nil),
      TextQueries.BloomBits)
    val bitsSet = words.map(java.lang.Long.bitCount(_).toLong).sum
    val evalDistinct = evalSg.select("shingle").distinct()
      .withColumn("hit", lit(1))
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      .filter(col("doc_id") >= 5)
    val counts = Dedup.shingleHashSet(stream, "doc_id", "text", n = 3)
      .withColumn("is_member", Sketch.bloomMemberLit(col("shingle"),
        words, TextQueries.BloomBits, TextQueries.BloomK))
      .join(broadcast(evalDistinct), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("is_member")).as("bloom_hits"),
        count(col("hit")).as("exact_hits"))
    Streaming.runAvailableNow(spark, counts, "graft_s15", "complete")
      .filter(col("bloom_hits") >= 1)
      .select(col("doc_id"), col("n_shingles"), col("bloom_hits"),
        col("exact_hits"),
        (col("bloom_hits") - col("exact_hits")).as("fp_hits"),
        lit(bitsSet).as("bits_set"))
      .orderBy("doc_id")
  }

  /** CONTINUOUS ANN-PREFILTERED SEMANTIC DECONTAMINATION — t72's
    * streaming twin and the deployment shape of the semantic
    * contamination filter: documents stream in (the ingest tap), the
    * bucketed eval index rides the projection AS A LITERAL (s11/s15's
    * model-as-literal convention — a `map_from_entries` literal of
    * SRP bucket → sorted (eval_id, evec) array, benchmark-sized bytes
    * of plan however large the corpus), and per-document probing +
    * candidate argmax ([[TextQueries.semPrefilterCols]], the exact
    * batch kernel) is a pure narrow map: NO join, NO watermark, ZERO
    * streaming state — the cheapest legal streaming plan, so the
    * filter composes under any downstream stateful operator. Output
    * is the flag stream itself (doc, attributed eval item, sim) —
    * what a quarantine sink consumes. Oracle = the t72 prefilter
    * replay's per-doc flags: continuous ≡ batch, and t72's own gate
    * already pins those flags' recall 1.0 against the exact argmax.
    */
  def streamSemanticPrefilter(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val eval = TextQueries.t71EvalSet(spark, sfDir)
    val bb = TextQueries.SemPrefilterBits
    // the model collect: 36 (bucket, eval_id, evec) rows → a literal
    val entries = eval
      .withColumn("bucket", graft.functions.HashFunctions
        .cosineLshBits(col("evec"), bb).bitwiseAND(lit((1L << bb) - 1)))
      .select("bucket", "eval_id", "evec")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
    val evmapLit = map_from_entries(array(entries.map {
      case (b, items) =>
        struct(lit(b).as("bucket"),
          array(items.sortBy(_._2).map { case (_, id, vec) =>
            struct(lit(id).as("eval_id"),
              typedLit(vec).as("evec"))
          }: _*).as("items"))
    }: _*))
    val corpusDir = Artifacts.resolve("t71_corpus", sfDir)
    val schema = spark.read.parquet(corpusDir).schema
    val stream = spark.readStream.schema(schema).parquet(corpusDir)
    val flagged = TextQueries.semPrefilterCols(stream, evmapLit)
      .filter(col("best").getField("s") >= 0.95)
      .select(col("vec_id"),
        col("best").getField("eval_id").as("eval_id"),
        round(col("best").getField("s"), 6).as("sim"))
    Streaming.runAvailableNow(spark, flagged, "graft_s26", "append")
      .orderBy("vec_id")
  }

  /** CONTINUOUS SEMANTIC DECONTAMINATION AT THE 10K-ITEM EVAL SET —
    * t73's hamming-margin prefilter as a stream, replacing the
    * geometry s26 rides (t72's bucket-prefix probing, which t73
    * measured as NOT scaling past a benchmark-sized eval set: the
    * round-17 verdict's item 3). The deployment shape is unchanged
    * from s26 — documents stream in, the eval side rides the
    * projection, flags come out — but the kernel is t73's: BOTH
    * sides sketched at [[TextQueries.SemMarginPlanes]] planes,
    * candidates = eval items within the closed-form 4σ margin
    * ([[TextQueries.semMarginH]]) flips of the doc's sketch (one
    * XOR+popcount per eval item), exact-cosine rescore of candidates
    * only. The 10k (eval_id, sketch, evec) array is ONE static
    * 1-row frame crossed in as a broadcast (stream-static nested-
    * loop of one row — ~2.6 MB, past the model-as-LITERAL size s26's
    * 36-item index tolerates), and everything per-document is narrow
    * columns inside the scan: NO shuffle of the corpus, NO
    * watermark, ZERO streaming state — the filter still composes
    * under any downstream stateful operator. Output is the flag
    * stream (doc, attributed eval item, sim); oracle = t73's margin
    * replay CTEs emitting per-doc flags — continuous ≡ batch, and
    * t73's own gate pins those flags' recall 1.0 (every stratum)
    * against the exact 10k-cosine argmax at cand_per_doc ≈ 27.
    */
  def streamSemanticMargin(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import graft.functions.VectorFunctions.cosineSim
    val (_, eval) = TextQueries.t73Fixture(spark, sfDir)
    val planes = TextQueries.SemMarginPlanes
    val h = TextQueries.semMarginH(0.95, planes)
    val evRow = eval
      .withColumn("sk", graft.functions.HashFunctions
        .cosineLshBits(col("evec"), planes))
      .agg(sort_array(collect_list(
        struct(col("eval_id"), col("sk"), col("evec")))).as("evsk"))
      .localCheckpoint()
    val corpusDir = Artifacts.resolve("t73_corpus", sfDir)
    val schema = spark.read.parquet(corpusDir).schema
    val stream = spark.readStream.schema(schema).parquet(corpusDir)
    // fan the micro-batch out before the margin kernel: the staged
    // corpus is one small file, so the scan is ONE task, and the
    // kernel behind it is ~10k XOR+popcounts plus the candidate
    // rescore PER ROW (measured r19: a single 4.3 s task while 31
    // cores idled) — the guide-§2.5 unsplittable-input case. The
    // rows moved are narrow (id + d=64 vector), the per-row flops
    // huge, exactly the fan-out trade srpBucketIndex documents the
    // other side of. Kernels.fanOut cannot probe a streaming plan,
    // so the width is set directly from the cluster's parallelism.
    val flagged = stream
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("dsk", graft.functions.HashFunctions
        .cosineLshBits(col("embedding"), planes))
      .crossJoin(broadcast(evRow))
      .withColumn("_cands", filter(col("evsk"), e =>
        bit_count(e.getField("sk").bitwiseXOR(col("dsk"))) <= h))
      .withColumn("best", aggregate(col("_cands"),
        struct(lit(-2.0).as("s"), lit(-1L).as("eval_id")),
        (acc, e) => {
          val s = cosineSim(e.getField("evec"), col("embedding"))
          when(s > acc.getField("s") ||
              (s === acc.getField("s") &&
                e.getField("eval_id") < acc.getField("eval_id")),
            struct(s.as("s"), e.getField("eval_id").as("eval_id")))
            .otherwise(acc)
        }))
      .filter(col("best").getField("s") >= 0.95)
      .select(col("vec_id"),
        col("best").getField("eval_id").as("eval_id"),
        round(col("best").getField("s"), 6).as("sim"))
    Streaming.runAvailableNow(spark, flagged, "graft_s28", "append")
      .orderBy("vec_id")
  }

  /** CONTINUOUS LSM GRAPH MAINTENANCE — the O(delta) incremental
    * graph update ([[graft.operators.Ann.updateKnnGraphIncremental]])
    * run as a STREAM: v73's accretion sequence (base 40× store, then
    * three clustered delta batches) with each delta arriving as a
    * micro-batch and `foreachBatch` as the maintenance loop — fold
    * the delta's fine histogram onto the persisted one, emit the
    * delta's sidecar edges, extend the bucket index; the carried
    * (index, histogram, edges) triple IS the store, exactly what a
    * deployment persists between triggers, and there is ZERO Spark
    * streaming state beyond it (no watermark, no state store — the
    * s10 foreachBatch convention applied to the graph family). Per
    * trigger the work is delta-proportional: one sketch pass over
    * the delta, an O(distinct buckets) histogram fold, a bucket
    * equi-join against the carried index — nothing rescans the base.
    * Emits v72's drift decision table (step 0 = the base snapshot,
    * steps 1-3 after each micro-batch: the maintenance verdict
    * [[graft.operators.Ann.GraphMaintenance]] returns beside each
    * sidecar) plus `edges_diff_vs_batch` — the symmetric difference
    * between the streamed store's edge set and v73's BATCH-accreted
    * frozen graph, computed on BOTH sides (Spark diffs the two
    * frames; the oracle diffs the two persisted artifacts) and
    * pinned 0: stream ≡ batch, edge-set-identical after the same
    * batches. The decision-table half of the oracle is v71/v72's
    * from-scratch SQL replay verbatim — the fold chain crossing a
    * foreachBatch boundary changes nothing the oracle can see.
    */
  def streamGraphLsmMaintain(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import graft.operators.Ann
    import spark.implicits._
    val all = VectorQueries.v71Accreted(spark, sfDir)
    val base = all.filter(col("_k") < 40).drop("_k")
    // the three delta batches staged ONCE per (app, corpus) as three
    // files in accretion order → three AvailableNow micro-batches
    val staged = IngestQueries.stagedDir(spark,
      s"graft_s27_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}") { dir =>
      // deterministic mtimes per accretion step: the file stream
      // orders micro-batches by modification time, and three rapid
      // sequential appends can TIE — a tie would reorder the
      // accretion sequence and flip the edges_diff gate flakily.
      // Stamp each step's part files with a fixed increasing clock.
      val dp = new org.apache.hadoop.fs.Path(s"$dir/delta")
      val fs = dp.getFileSystem(spark.sessionState.newHadoopConf())
      var seen = Set.empty[String]
      Seq((40L, 80L), (80L, 160L), (160L, 320L)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          all.filter(col("_k") >= lo && col("_k") < hi).drop("_k")
            .coalesce(1).write
            .mode(org.apache.spark.sql.SaveMode.Append)
            .parquet(s"$dir/delta")
          val parts = fs.listStatus(dp)
            .filter(_.getPath.getName.startsWith("part-"))
          parts.filterNot(p => seen(p.getPath.getName)).foreach(p =>
            fs.setTimes(p.getPath, 1600000000000L + i * 60000L, -1))
          seen ++= parts.map(_.getPath.getName)
      }
    }
    // the snapshot the stream starts from: the base store's three
    // persisted artifacts (the same shapes v73Stores carries). ONE
    // base sketch pass feeds everything: the fine histogram is
    // checkpointed, its 18-row occupancy table collected once, and
    // both the geometry choice (identical to occupancyBucketBits —
    // same table, same rule) and the step-0 verdict read that one
    // collect (the previous bootstrap re-sketched the base for the
    // chooser and re-aggregated the histogram for the verdict).
    val hist0 = Ann.fineOccupancyHistogram(base, "embedding",
      bits = 20, bbMax = 20).localCheckpoint()
    val (occ0, n0) = Ann.occupancyAndCount(hist0, bbMin = 3, bbMax = 20)
    val frozenBits = Ann.chooseFromOcc(occ0)
    val m0 = Ann.maintenanceFromOcc(occ0, frozenBits)
    // the carried store keeps edges (and index) as LSM PIECES — one
    // checkpointed delta-sized frame per trigger, unioned lazily —
    // instead of re-materializing the accumulated union every batch:
    // the previous loop's per-trigger cost grew with STORE size (the
    // edges checkpoint rewrote every prior sidecar each batch),
    // quietly violating the delta-proportional contract this query
    // exists to demonstrate. Only the sidecar must materialize inside
    // its trigger (the micro-batch frame is invalid after it).
    case class Store(index: DataFrame, hist: DataFrame,
                     edges: Seq[DataFrame],
                     rows: Seq[(Long, Long, Long, Double, Long,
                       Double, Long)])
    def verdictRow(step: Long, n: Long, m: Ann.GraphMaintenance)
        : (Long, Long, Long, Double, Long, Double, Long) =
      (step, n, m.currentBits.toLong, m.currentLoad,
        m.chosenBits.toLong, m.chosenLoad, if (m.rebucket) 1L else 0L)
    val ref = new java.util.concurrent.atomic.AtomicReference(Store(
      Ann.srpBucketIndex(base, "vec_id", "embedding", 20, frozenBits)
        .localCheckpoint(),
      hist0,
      Seq(Ann.buildKnnGraph(base, "vec_id", "embedding", bits = 20,
        bucketBits = frozenBits, degree = 8).localCheckpoint()),
      Seq(verdictRow(0L, n0, m0))))
    val chk =
      s"$staged/chk_${java.util.UUID.randomUUID().toString.take(8)}"
    val stream = spark.readStream
      .schema(base.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$staged/delta")
    // deliberately NOT Streaming.withStatePartitions: that pin exists
    // for KB-sized deltas whose in-batch joins drown in per-task
    // overhead (the s10 regime). THIS loop's micro-batches are
    // 13k-51k wide d=1536 rows and the in-batch work is the salted
    // cosine-scoring join + the top-k window — measured r19 (isolated
    // event log): 7.5 s of task time squeezed through the 4 pinned
    // partitions on trigger 3 while 28 cores idled. The stream itself
    // carries zero Spark streaming state (foreachBatch only), so the
    // in-batch joins inherit the session's CPU-derived width instead.
    locally {
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          ref.updateAndGet { st =>
            // the update's one delta sketch pass also yields the
            // index extension rows (deltaIdx), the folded histogram
            // it returns is already checkpointed, and the post-fold
            // total rides the verdict's collect — the previous loop
            // re-sketched the batch for the index, re-checkpointed
            // the fold, and ran a separate SUM per trigger: three
            // extra Spark round trips per micro-batch
            val (sidecar, folded, deltaIdx, m, n) =
              Ann.updateKnnGraphIncremental(
                st.index, st.hist, batch, "vec_id", "embedding",
                bits = 20, bucketBits = frozenBits, degree = 8,
                bbMin = 3, bbMax = 20)
            Store(
              // deltaIdx is a select over the update's checkpointed
              // delta sketch — the union of checkpointed pieces needs
              // no re-materialization of the growing store
              st.index.unionByName(deltaIdx),
              folded,
              st.edges :+ sidecar.localCheckpoint(),
              st.rows :+ verdictRow(st.rows.size.toLong, n, m))
          }
          ()
        }
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val chkPath = new org.apache.hadoop.fs.Path(chk)
    chkPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(chkPath, true)
    val st = ref.get()
    val edges = st.edges.reduce(_ unionByName _)
    // persist the streamed store's edges so the oracle can diff the
    // two ARTIFACTS (not trust a Spark-side claim)
    Artifacts.write(edges, "s27_edges", sfDir)
    val (fDir, _, _, _) = VectorQueries.v73Stores(spark, sfDir)
    val fg = spark.read.parquet(fDir)
    val diff = Ann.symDiffCountDistinct(edges, fg)
    st.rows.toDF("step", "n_vectors", "frozen_bits", "frozen_load",
        "chosen_bits", "chosen_load", "rebucket")
      .withColumn("edges_diff_vs_batch", lit(diff))
      .orderBy("step")
  }

  /** Streaming DSIR scoring — the deployment split of t52: the bucket
    * model is fit OFFLINE over the full corpus (one batch job; the
    * artifact is ≤1024 (bucket, micro-unit-weight) rows, collected
    * driver-side like the PQ codebooks and re-broadcast), then arriving
    * documents are scored CONTINUOUSLY: featurize (narrow, stateless),
    * broadcast-join the model, per-doc integer sum. The only streaming
    * state is the per-doc aggregate of the in-flight micro-batch.
    * Integer micro-unit weights make stream ≡ batch EXACT, so the
    * oracle is t52's scoring CTE verbatim over all docs — continuous
    * scoring converges to the batch answer bit-for-bit.
    */
  def streamDsirScore(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val docs = graft.Tables.documents(spark, sfDir)
    // the model only needs per-(bucket, target) TOTALS, so feed the
    // occurrence stream straight into the fold (c = 1 per occurrence,
    // map-side-combined to ≤buckets rows) — the per-doc grouping the
    // batch t52 pays is for its scoring reuse, which the STREAM side
    // here re-featurizes anyway; one exchange instead of two, same
    // sums, bit-identical model
    val occ = TextAnalysis.hashedNgramBuckets(
        docs.select(col("doc_id"), (col("lang") === "en").as("_tgt"),
          col("text")), "text", TextQueries.DsirBuckets)
      .select(col("_tgt"), col("b"), lit(1L).as("c"))
    // artifact-sized collect (≤1024 rows): pins the fitted model so
    // micro-batches re-read a local table, never re-fit the corpus
    val model = TextAnalysis.dsirModel(occ, TextQueries.DsirBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    import spark.implicits._
    val modelDf = model.toDF("b", "lwu")
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
    val scored = TextAnalysis.hashedNgramBuckets(
        stream.select(col("doc_id"), col("text")),
        "text", TextQueries.DsirBuckets)
      .join(broadcast(modelDf), "b")
      .groupBy("doc_id")
      .agg(sum("lwu").as("lw_units"))
    Streaming.runAvailableNow(spark, scored, "graft_s18", "complete")
      .orderBy("doc_id")
  }

  /** Sessionization through the BUILT-IN session_window operator
    * ([[Streaming.sessionWindowCounts]]) — s03's twin without custom
    * state. The oracle's session rule is `gap >= 1800` (window bound
    * [start, last+gap) — one tick stricter than r11/s03's `gap > 1800`),
    * so the boundary semantics of the native operator are themselves
    * pinned by the parity check.
    */
  def streamSessionWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val sess = Streaming
      .sessionWindowCounts(Streaming.eventsStream(spark, sfDir))
    Streaming.runAvailableNow(spark, sess, "graft_s08", "complete")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .orderBy("user_id")
  }

  /** s16's staged media directory, written once per (JVM, corpus) —
    * i12's media mix ([[MediaFixtures.mixFile]], so the oracle replays
    * from the documents table), laid out as files for the streaming
    * binaryFile source. */
  private def mediaStage(spark: SparkSession, sfDir: String): String =
    Artifacts.memo("mediaStage", sfDir) {
      MediaFixtures.stage(spark, sfDir, java.nio.file.Files
        .createTempDirectory("graft_s16_media").toString)(MediaFixtures.mixFile)
    }

  /** CONTINUOUS MULTIMODAL INGEST — i12's binary scan as a stream, the
    * shape an image/audio/video shard crawl actually runs: media files
    * arrive through the streaming binaryFile source, each micro-batch
    * decodes container headers with the per-partition codec
    * ([[graft.operators.Multimodal.decodeBatch]] — the mapPartitions
    * init-once contract holds per batch), and one streaming aggregate
    * maintains per-format counts and dimension sums. The oracle
    * recomputes every header field from the id formulas (i12's
    * convention) and aggregates in SQL — continuous decode ≡ batch.
    * At 100 TB the decode is a narrow map over the file stream and the
    * state is 4 rows of counters; adding a real pixel decoder changes
    * [[graft.operators.Multimodal.HeaderCodec]], not this plan.
    */
  def streamMedia(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Multimodal
    val raw = MediaFixtures.fileStream(spark, mediaStage(spark, sfDir))
    val agg = Multimodal.decodeBatch(raw, featureDim = 0)
      .groupBy("format")
      .agg(count(lit(1)).as("n"),
        sum(col("width").cast("long")).as("sum_w"),
        sum(col("height").cast("long")).as("sum_h"),
        sum(col("byte_len").cast("long")).as("sum_bytes"))
    Streaming.runAvailableNow(spark, agg, "graft_s16", "complete")
      .orderBy("format")
  }

  /** s17's staged PCM directory — the [[mediaStage]] convention over
    * the t50 fixtures: real WAV files with real int16 sample streams. */
  private def pcmStage(spark: SparkSession, sfDir: String): String =
    Artifacts.memo("pcmStage", sfDir) {
      import graft.operators.Audio.SynthAudio
      MediaFixtures.stage(spark, sfDir, java.nio.file.Files
        .createTempDirectory("graft_s17_pcm").toString)(
        id => (SynthAudio.wavForId(id), "wav"))
    }

  /** CONTINUOUS AUDIO INGEST with REAL sample decode — s16 upgraded
    * from headers to content: WAV files arrive through the streaming
    * binaryFile source and each micro-batch runs the full PCM decode +
    * integer feature kernel ([[graft.operators.Audio.pcmFeatures]] —
    * stateless mapPartitions, streaming-legal as-is). Append output,
    * ZERO streaming state: each file reduces to one 5-long feature row
    * inside the scan, the property that makes a 100 TB shard crawl's
    * state size independent of throughput. Oracle = t50's SQL
    * VERBATIM — continuous decode ≡ batch, at sample granularity.
    */
  def streamAudioPcm(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Audio
    val raw = MediaFixtures.fileStream(spark, pcmStage(spark, sfDir))
    val feats = Audio.pcmFeatures(raw)
      .select(col("doc_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_samples"), col("energy"),
        col("zero_crossings"), col("clip_count"))
    Streaming.runAvailableNow(spark, feats, "graft_s17", "append")
      .orderBy("doc_id")
  }

  /** CONTINUOUS merge-on-read deletes — i20's streaming form and the
    * GDPR/right-to-erasure pipeline shape: delete keys arrive as TWO
    * micro-batches (staged files, maxFilesPerTrigger=1) and
    * `foreachBatch` commits each as a tombstone snapshot through
    * [[graft.operators.Ingest.deleteStoreKeysMor]] — O(batch) work per
    * trigger against a store of ANY size, zero streaming state. The
    * oracle is the batch filter: however the keys were chunked into
    * triggers, the manifested read must equal deleting them all at
    * once (tombstone commits compose; re-deleting a key is idempotent,
    * so re-runs against the staged store converge to the same answer).
    */
  def streamMorDelete(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ingest
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val base = IngestQueries.stagedDir(spark,
      s"graft_s19_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}") { dir =>
      Ingest.commitStoreSnapshot(spark, s"$dir/store") { d =>
        Ingest.writeStore(docs, d)
      }
      Seq(7, 11).foreach { m =>
        docs.filter(pmod(col("doc_id"), lit(m)) === 0).select("doc_id")
          .coalesce(1).write
          .mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$dir/deletes")
      }
    }
    val store = s"$base/store"
    val chk = java.nio.file.Files
      .createTempDirectory("graft_s19_chk").toString
    val keys = spark.readStream
      .schema(spark.read.parquet(s"$base/deletes").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/deletes")
    val q = keys.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Ingest.deleteStoreKeysMor(batch.sparkSession, store,
          batch.select("doc_id"))
        ()
      }
      .option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Ingest.readStoreManifested(spark, store)
      .agg(count(lit(1)).as("n_live"), sum("doc_id").as("sum_ids_live"))
  }

  /** CONTINUOUS MERGE INTO — i22's streaming form: the merge batch
    * arrives split into TWO micro-batches with DISJOINT keys (split by
    * id parity, the shape a keyed CDC feed guarantees per partition),
    * each trigger committing one [[graft.operators.Ingest
    * .mergeIntoStore]] snapshot. Disjoint-key merges commute, so the
    * oracle is i22's one-shot SQL VERBATIM — however the feed chunks,
    * the store converges to the same relation, and each trigger's
    * cost is one key-join against the live snapshot (co-located on a
    * bucketed store), zero streaming state.
    */
  def streamMergeInto(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ingest
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val base = IngestQueries.stagedDir(spark,
      s"graft_s20_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}") { dir =>
      Ingest.commitStoreSnapshot(spark, s"$dir/store") { d =>
        Ingest.writeStore(docs, d)
      }
      val batch = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id"), col("text"), lit(true).as("_delete"))
        .unionByName(docs
          .filter(pmod(col("doc_id"), lit(13)) === 0 &&
            pmod(col("doc_id"), lit(97)) =!= 0)
          .select(col("doc_id"),
            concat(col("text"), lit(" v2")).as("text"),
            lit(false).as("_delete")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(31)) === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
            lit(false).as("_delete")))
      Seq(0, 1).foreach { par =>
        batch.filter(pmod(col("doc_id"), lit(2)) === par)
          .coalesce(1).write
          .mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$dir/merges")
      }
    }
    val store = s"$base/store"
    val chk = java.nio.file.Files
      .createTempDirectory("graft_s20_chk").toString
    val feed = spark.readStream
      .schema(spark.read.parquet(s"$base/merges").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/merges")
    val q = feed.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        Ingest.mergeIntoStore(b.sparkSession, store, b,
          "doc_id", "text", "_delete")
        ()
      }
      .option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Ingest.readStoreManifested(spark, store)
      .select(col("doc_id"),
        md5(concat(col("doc_id"), lit(":"), col("text"))).as("doc_fp"))
      .agg(count(lit(1)).as("n_final"), sum("doc_id").as("sum_ids"),
        md5(array_join(array_sort(collect_list(col("doc_fp"))), ","))
          .as("fp"))
  }

  /** WATERMARK LATE-DATA accounting — the one streaming semantic the
    * parity suite hadn't pinned: what the watermark actually DROPS.
    * The event feed arrives inverted — the newer half (ts ≥ Jan 16)
    * first, then the older half as a second micro-batch, by which
    * time the 20-day watermark (max seen ts − 20d ≈ Jan 10/11) has
    * passed: an old event survives iff its hourly window still ends
    * AFTER the watermark (Spark's `window.end > watermark` rule —
    * mirrored literally in the oracle), so days 1-10 drop and the
    * tail survives. The oracle computes the same cutoff in SQL from
    * the staged split — the drop POLICY itself is the hash-checked
    * claim, not just the happy path. State stays bounded BY the same
    * mechanism: this is the eviction contract that makes 100 TB
    * streams finite-memory.
    */
  def streamLateData(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir).select("event_id", "ts")
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    // fresh dirs per invocation: the feed MUTATES between the two
    // runs, so staging/memoizing it would hand re-runs both files in
    // run 1 and erase the lateness being tested
    val dir = java.nio.file.Files.createTempDirectory("graft_s21")
      .toString
    val feedDir = s"$dir/feed"
    val chk = s"$dir/chk"
    ev.filter(col("ts") >= cut).coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Append).parquet(feedDir)
    // two .start() runs over ONE checkpoint: run 1 drains the on-time
    // half and PERSISTS its watermark; the late half lands between
    // runs, and run 2 restores watermark + window state from the
    // checkpoint before processing it — deterministic late arrival
    // with no reliance on file-listing order, and a restart-survival
    // claim for free
    // UPDATE mode, deliberately: complete mode never drops late rows
    // (it must retain all state to re-emit it), so the drop policy is
    // only observable where eviction is live. The sink is foreachBatch
    // appending each trigger's emissions to parquet — the memory sink
    // refuses checkpoint recovery, and recovery is the point here.
    // The two halves' hourly windows are disjoint (the cut is
    // midnight), so the appended emissions are exactly the surviving
    // window set, each window once.
    val outDir = s"$dir/out"
    def drain(): Unit =
      Streaming.withStatePartitions(spark) {
        val q = spark.readStream
          .schema(spark.read.parquet(feedDir).schema)
          .parquet(feedDir)
          .withWatermark("ts", "20 days")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"))
          .writeStream
          .outputMode("update")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode(org.apache.spark.sql.SaveMode.Append)
              .parquet(outDir)
            ()
          }
          .option("checkpointLocation", chk)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    drain()
    ev.filter(col("ts") < cut).coalesce(1).write
      .mode(org.apache.spark.sql.SaveMode.Append).parquet(feedDir)
    drain()
    spark.read.parquet(outDir)
      .agg(count(lit(1)).as("n_windows"),
        sum("n").as("n_events_kept"))
  }

  /** LEFT OUTER stream-stream interval join — s06's inner join plus
    * the half the battery was missing: the NULL row for a click with
    * no purchase in its 30-minute window, which a stream can only
    * emit once the watermark PROVES no match can still arrive
    * (global watermark = min of both sides' = max event ts − 10 min;
    * a click finalizes unmatched when click_ts + 30 min drops below
    * it — clicks near the stream's end stay unemitted forever, and
    * the oracle replays exactly that partial-result rule rather than
    * pretending the batch answer). Also pins that AvailableNow runs
    * the terminal no-data batch that flushes watermark-dependent
    * outer results before terminating.
    */
  def streamOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Streaming.eventsStream(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value"))
      .withWatermark("p_ts", "10 minutes")
    val joined = clicks.join(purchases,
      expr("""user_id = p_user AND
              p_ts >= click_ts AND
              p_ts <= click_ts + interval 30 minutes"""),
      "left_outer")
    Streaming.runAvailableNow(spark, joined, "graft_s22", "append")
      .groupBy("user_id")
      .agg(sum(when(col("p_ts").isNotNull, 1L).otherwise(0L))
        .as("n_matched"),
        sum(when(col("p_ts").isNull, 1L).otherwise(0L))
          .as("n_unmatched"),
        round(sum(coalesce(col("value"), lit(0.0))), 4).as("sum_value"))
      .orderBy("user_id")
  }

  /** Continuous-ingest graph-ANN serving — v48's STREAMING twin, the
    * LSM pair completed: delta vectors ARRIVE AS A STREAM (the
    * memtable filling up) and must be searchable immediately without
    * touching the immutable base graph. Per micro-batch the new
    * vectors score against the query in a narrow stateless projection
    * (the 1-row query frame broadcasts into a stream-static equi-join
    * on a constant key) and fold into ONE bounded-heap top-10 UDAF
    * (≤10 rows of state — the only top-k formulation legal in a
    * stream); after the drain the heap's contents merge with the
    * batch base-graph walk exactly as v48
    * ([[VectorQueries.graphLsmMerge]] — shared code, shared oracle
    * shape, different artifact). Same output, so the gate proves the
    * incremental serving plan converges to the batch answer.
    */
  def streamGraphServe(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/embeddings.parquet").schema
    val qv = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === 0)
      .select(lit(0L).as("qid"), col("embedding").as("qe"))
    val deltaStream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(sfDir)
      .filter(pmod(col("vec_id"), lit(10)) === 9)
      .withColumn("qid", lit(0L))
    val scored = deltaStream.join(broadcast(qv), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorFunctions
          .cosineSim(col("embedding"), col("qe")).as("score"))
    val topk = graft.operators.TopKAggregator.topKUdaf(10)
    val agg = scored.groupBy("qid")
      .agg(topk(col("vec_id"), col("score")).as("hits"))
    val deltaTop =
      Streaming.runAvailableNow(spark, agg, "graft_s23", "complete")
      .select(posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("hit._1").as("vec_id"), col("hit._2").as("score"))
    VectorQueries.graphLsmMerge(spark, sfDir, "s23_base_graph", deltaTop)
  }

  /** CONTINUOUS tokenization — t67's streaming twin, the shape a live
    * ingest pipeline runs once a tokenizer is frozen: documents arrive
    * as a stream and each micro-batch tokenizes by the SAME broadcast
    * stream-static join against the trained model's (word → lengths)
    * vocab ([[TextQueries.bpeTokenSums]] — shared code), folding into
    * a per-doc running aggregation. The ratios project AFTER the
    * drain (sort/division are post-aggregation, outside streaming
    * state). Oracle = t67's SQL verbatim: the continuous plan must
    * converge to exactly the batch tokenization.
    */
  def streamBpeTokenize(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val docsStream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      .select("doc_id", "text")
    val agg = TextQueries.bpeTokenSums(docsStream,
      TextQueries.bpeVocab(spark, sfDir))
    TextQueries.bpeRatiosSelect(
      Streaming.runAvailableNow(spark, agg, "graft_s24", "complete"))
  }

  /** CONTINUOUS QUANTIZED-STORE BUILD → compressed serving — the
    * round-13 advice's missing deployment shape: the serving tier a
    * 100 TB deployment actually runs holds a COMPRESSED store, and
    * its vectors arrive as a stream (the ingest memtable), so the
    * quantization snapshot must be derivable continuously. SQ8 makes
    * that exact, not approximate: the scale row (per-dimension
    * max |x|) is SQ8's ONLY cross-vector coupling, and max is an
    * order-free streaming aggregate — 1,536 rows of bounded state, no
    * watermark needed. Per micro-batch the vector stream explodes to
    * (dim, |x|) and folds into the running per-dimension max; at the
    * drain (the snapshot boundary) the scale row freezes, the store
    * quantizes in the same narrow broadcast pass as batch, and the
    * SAME v61 serving walk runs over the int8 reconstruction
    * ([[VectorQueries.sq8ServeWith]] — shared code). Oracle = v61's
    * SQL verbatim: the continuously-derived store must serve
    * byte-identically to the batch-built one — streaming changes WHEN
    * the scales are learned, never what the tier answers.
    */
  def streamSq8Store(spark: SparkSession, sfDir: String): DataFrame = {
    val corpusDir = VectorQueries.v57Corpus(spark, sfDir)
    val schema = spark.read.parquet(corpusDir).schema
    val vecStream = VectorQueries.servingOf(spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet").parquet(corpusDir))
    // identical arithmetic to Sq8.scalesRow's batch pass (abs/max in
    // float, one exact double widening, dead-dim floor) — max is
    // order-free, so streamed == batch to the last bit
    val dimMax = vecStream
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(greatest(max(abs(col("x"))).cast("double"),
        lit(graft.operators.Sq8.DeadDimFloor)).as("s"))
    val scales =
      Streaming.runAvailableNow(spark, dimMax, "graft_s25", "complete")
      .agg(array_sort(collect_list(struct(col("pos"), col("s"))))
        .as("ps"))
      .select(transform(col("ps"), p => p.getField("s")).as("scales"))
    VectorQueries.sq8ServeWith(spark, sfDir, scales)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s24_stream_bpe_tokenize" -> (streamBpeTokenize(_, _)),
    "s23_stream_graph_serve" -> (streamGraphServe(_, _)),
    "s25_stream_sq8_store" -> (streamSq8Store(_, _)),
    "s26_stream_sem_prefilter" -> (streamSemanticPrefilter(_, _)),
    "s28_stream_sem_margin" -> (streamSemanticMargin(_, _)),
    "s27_stream_graph_lsm" -> (streamGraphLsmMaintain(_, _)),
    "s22_outer_join" -> (streamOuterJoin(_, _)),
    "s21_late_data" -> (streamLateData(_, _)),
    "s20_stream_merge" -> (streamMergeInto(_, _)),
    "s19_stream_mor" -> (streamMorDelete(_, _)),
    "s17_stream_audio" -> (streamAudioPcm(_, _)),
    "s16_stream_media" -> (streamMedia(_, _)),
    "s08_session_window" -> (streamSessionWindows(_, _)),
    "s01_stream_hourly" -> (streamHourly(_, _)),
    "s02_stream_dedup" -> (streamDedupUsers(_, _)),
    "s03_stream_sessions" -> (streamSessions(_, _)),
    "s04_stream_enrich" -> (streamEnriched(_, _)),
    "s05_stream_upsert" -> (streamUpsert(_, _)),
    "s06_stream_join" -> (streamStreamJoin(_, _)),
    "s07_stream_search" -> (streamSearch(_, _)),
    "s09_stream_decontaminate" -> (streamDecontaminate(_, _)),
    "s10_stream_dedup_index" -> (streamIncrementalDedup(_, _)),
    "s11_stream_classify" -> (streamClassify(_, _)),
    "s12_stream_profile" -> (streamProfile(_, _)),
    "s13_stream_heavy" -> (streamHeavyHitters(_, _)),
    "s14_stream_drift" -> (streamDrift(_, _)),
    "s15_stream_bloom" -> (streamBloomDecontaminate(_, _)),
    "s18_stream_dsir" -> (streamDsirScore(_, _)))

  /** DuckDB oracles. A `def`: artifact globs resolve at dump time
    * ([[OracleSql]]). */
  def oracles: Map[String, String] = Map(
    // t67's replay verbatim: stream ≡ batch tokenization, hash-gated
    "s24_stream_bpe_tokenize" -> TextQueries.oracles("t67_bpe_apply"),
    "s23_stream_graph_serve" ->
      VectorQueries.graphLsmOracleSql("s23_base_graph"),
    "s25_stream_sq8_store" -> VectorQueries.oracles("v61_sq8_serve"),
    // v71/v72's drift-table replay verbatim + the artifact-vs-artifact
    // edge diff: the streamed store must be edge-set-identical to
    // v73's batch-accreted frozen graph after the same three batches
    "s27_stream_graph_lsm" -> VectorQueries.driftTableOracle(
      s""",
         |sg AS (SELECT src, dst
         |       FROM ${parquet("s27_edges")}),
         |fg AS (SELECT src, dst
         |       FROM ${parquet("v73_frozen_graph")}),
         |ed AS (SELECT count(*) AS ediff FROM (
         |  (SELECT src, dst FROM sg EXCEPT SELECT src, dst FROM fg)
         |  UNION ALL
         |  (SELECT src, dst FROM fg EXCEPT SELECT src, dst FROM sg)))"""
        .stripMargin,
      ",\n       ed.ediff AS edges_diff_vs_batch",
      ", ed"),
    // t72's prefilter replay, per-doc flags: continuous == batch
    "s26_stream_sem_prefilter" ->
      s"""WITH ${TextQueries.semPrefilterOracleCtes}
         |SELECT vec_id, eval_id, round(s, 6) AS sim
         |FROM pb WHERE rn = 1 AND s >= 0.95
         |ORDER BY vec_id""".stripMargin,
    // t73's margin replay, per-doc flags: continuous == batch at the
    // 10k-item eval set (the geometry that actually scales)
    "s28_stream_sem_margin" ->
      s"""WITH ${TextQueries.semMarginOracleCtes}
         |SELECT vec_id, eval_id, round(s, 6) AS sim
         |FROM pb WHERE rn = 1 AND s >= 0.95
         |ORDER BY vec_id""".stripMargin,
    // inner matches are the batch interval join; NULL rows emit only
    // for clicks finalized by the final global watermark (min of both
    // sides' max ts − 10 min) — the stream's partial-result rule
    // replayed, not the batch LEFT JOIN
    "s22_outer_join" ->
      """WITH c AS (
        |  SELECT user_id, ts AS click_ts FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id AS p_user, ts AS p_ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT least((SELECT max(click_ts) FROM c),
        |               (SELECT max(p_ts) FROM p))
        |         - INTERVAL 10 MINUTE AS w),
        |matched AS (
        |  SELECT c.user_id, 1 AS m, p.value FROM c JOIN p
        |    ON p.p_user = c.user_id AND p.p_ts >= c.click_ts
        |   AND p.p_ts <= c.click_ts + INTERVAL 30 MINUTE),
        |nulls AS (
        |  SELECT c.user_id, 0 AS m, CAST(NULL AS DOUBLE) AS value
        |  FROM c, wm
        |  WHERE c.click_ts + INTERVAL 30 MINUTE < wm.w
        |    AND NOT EXISTS (
        |      SELECT 1 FROM p
        |      WHERE p.p_user = c.user_id AND p.p_ts >= c.click_ts
        |        AND p.p_ts <= c.click_ts + INTERVAL 30 MINUTE)),
        |allrows AS (SELECT * FROM matched UNION ALL SELECT * FROM nulls)
        |SELECT user_id,
        |       CAST(sum(m) AS BIGINT) AS n_matched,
        |       CAST(sum(1 - m) AS BIGINT) AS n_unmatched,
        |       round(sum(coalesce(value, 0.0)), 4) AS sum_value
        |FROM allrows GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the watermark drop policy replayed in SQL: the late (older) half
    // survives iff its hourly window ends after max(on-time ts) − 20d
    "s21_late_data" ->
      """WITH a AS (
        |  SELECT event_id, ts FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'),
        |wm AS (SELECT max(ts) - INTERVAL 20 DAY AS w FROM a),
        |b AS (
        |  SELECT event_id, ts FROM events
        |  WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
        |kept AS (
        |  SELECT ts FROM a
        |  UNION ALL
        |  SELECT b.ts FROM b, wm
        |  WHERE date_trunc('hour', b.ts) + INTERVAL 1 HOUR > wm.w),
        |win AS (
        |  SELECT date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM kept GROUP BY 1)
        |SELECT count(*) AS n_windows, CAST(sum(n) AS BIGINT)
        |  AS n_events_kept
        |FROM win""".stripMargin,
    // i22's one-shot MERGE oracle VERBATIM: disjoint-key merge chunks
    // commute, so the chunked stream converges to the single batch
    "s20_stream_merge" -> IngestQueries.oracles("i22_merge_into"),
    // i20's live legs: however the delete keys were chunked into
    // micro-batch tombstone commits, the read equals the batch filter
    "s19_stream_mor" ->
      """SELECT count(*) AS n_live, CAST(sum(doc_id) AS BIGINT)
        |  AS sum_ids_live
        |FROM documents
        |WHERE NOT (doc_id % 7 = 0 OR doc_id % 11 = 0)""".stripMargin,
    // t50's sample-formula replay VERBATIM — continuous PCM decode ≡
    // batch, at sample granularity
    "s17_stream_audio" -> TextQueries.oracles("t50_audio_pcm"),
    // t52's scoring CTE verbatim over ALL docs — stream scoring against
    // the offline-fit model ≡ batch, bit-for-bit (integer micro-units)
    "s18_stream_dsir" -> TextQueries.dsirScoresOracle,
    // i12's id-formula replay, aggregated — continuous decode ≡ batch
    "s16_stream_media" ->
      """WITH m AS (SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 33 WHEN 1 THEN 35
        |       WHEN 2 THEN 44 ELSE 88 END AS byte_len,
        |  CASE doc_id % 4
        |       WHEN 0 THEN (doc_id * 37) % 1280 + 1
        |       WHEN 1 THEN (doc_id * 11) % 640 + 1
        |       WHEN 2 THEN 8000 + 1000 * (doc_id % 5)
        |       ELSE (doc_id * 17) % 1920 + 1 END AS width,
        |  CASE doc_id % 4
        |       WHEN 0 THEN (doc_id * 53) % 720 + 1
        |       WHEN 1 THEN (doc_id * 13) % 480 + 1
        |       WHEN 2 THEN doc_id % 2 + 1
        |       ELSE (doc_id * 19) % 1080 + 1 END AS height,
        |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |       WHEN 2 THEN 'wav' ELSE 'avi' END AS format
        |FROM documents WHERE doc_id < 60)
        |SELECT format, count(*) AS n,
        |       CAST(sum(width) AS BIGINT) AS sum_w,
        |       CAST(sum(height) AS BIGINT) AS sum_h,
        |       CAST(sum(byte_len) AS BIGINT) AS sum_bytes
        |FROM m GROUP BY format ORDER BY format""".stripMargin,
    // t36's oracle verbatim — continuous HLL profiling ≡ batch
    "s12_stream_profile" -> TextQueries.hllOracle,
    // t38's oracle verbatim — continuous heavy hitters ≡ batch
    "s13_stream_heavy" -> TextQueries.cmsOracle,
    // t41's oracle verbatim — continuous drift monitoring ≡ batch
    "s14_stream_drift" -> TextQueries.driftOracle,
    "s15_stream_bloom" -> TextQueries.bloomDecontaminateOracle,
    // t33's oracle verbatim — continuous classifier scoring ≡ batch
    "s11_stream_classify" -> TextQueries.classifierOracle,
    // t22's oracle verbatim — continuous decontamination ≡ batch
    "s09_stream_decontaminate" -> TextQueries.decontaminateOracle,
    // t03's full-corpus oracle verbatim — two sequential incremental
    // index updates must compose to exactly the full rebuild
    "s10_stream_dedup_index" -> TextQueries.fullPairsOracle,
    // gap >= 1800s, NOT > 1800s: session_window bounds are [start,
    // last+gap). Gap measured in MICROSECONDS: session_window compares
    // exact event-time timestamps, while date_diff('second') truncates
    // — a 1799.3 s gap that straddles a second boundary would otherwise
    // read as 1800 and split a session the operator merges (r11/s03 are
    // immune: their Spark side uses unix_timestamp, which truncates the
    // same way their oracle does).
    "s08_session_window" ->
      """WITH g AS (
        |  SELECT user_id,
        |         date_diff('microsecond',
        |           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |           ts) AS gap
        |  FROM events)
        |SELECT user_id,
        |       CAST(sum(CASE WHEN gap IS NULL OR gap >= 1800000000
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    // batch replay of the SRP bucket-routed pipeline (v20/v21's sketch
    // CTE): sketch → low-4-bit bucket → multi-probe (own bucket + the 4
    // at hamming distance 1) → equi-join → exact cosine top-5. The
    // parity statement: continuous bucket-join search ≡ the same
    // approximate pipeline run as batch SQL.
    "s07_stream_search" ->
      s"""${withSrpSketch(SrpBits)},
         |q AS (SELECT vec_id AS query_id, e AS qe,
         |             sketch % ${1 << SrpBucketBits} AS qb
         |      FROM s WHERE vec_id < 8),
         |probes AS (
         |  SELECT query_id, qe,
         |         unnest([qb${(0 until SrpBucketBits)
                     .map(b => s", xor(qb, ${1L << b})").mkString}]) AS bucket
         |  FROM q),
         |idx AS (SELECT vec_id, e, sketch % ${1 << SrpBucketBits} AS bucket
         |        FROM s WHERE vec_id >= 8),
         |cand AS (
         |  SELECT p.query_id, i.vec_id,
         |         list_cosine_similarity(i.e, p.qe) AS score
         |  FROM idx i JOIN probes p USING (bucket)),
         |${rankedPerQuery("cand")}
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
         |       round(score, 6) AS score
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // identical to the batch r12 oracle — THE parity statement
    "s01_stream_hourly" -> RelationalQueries.oracles("r12_hourly_events"),
    "s02_stream_dedup" ->
      "SELECT count(DISTINCT user_id) AS n_users FROM events",
    "s04_stream_enrich" -> RelationalQueries.oracles("r26_salted_join"),
    // SINGLE-BATCH ASSUMPTION: upsertToStore's keeper is "min event_id
    // within the FIRST batch that saw the key"; this oracle pins the
    // GLOBAL min, which coincides only because the events fixture is one
    // parquet file drained in one AvailableNow batch. If the fixture
    // ever splits across files/triggers, weaken this to count-only —
    // the multi-batch keeper rule itself is pinned by
    // StreamingIngestSpec ("first batch wins over later lower-order").
    "s05_stream_upsert" ->
      """SELECT count(*) AS n_users,
        |       CAST(sum(me) AS BIGINT) AS sum_keeper_events
        |FROM (SELECT min(event_id) AS me FROM events GROUP BY user_id)""".stripMargin,
    "s06_stream_join" ->
      """WITH c AS (SELECT user_id, ts AS click_ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user, ts AS p_ts, value FROM events
        |      WHERE event_type = 'purchase')
        |SELECT user_id, count(*) AS n_pairs,
        |       round(sum(value), 4) AS sum_value
        |FROM c JOIN p ON user_id = p_user
        |  AND p_ts >= click_ts
        |  AND p_ts <= click_ts + INTERVAL 30 MINUTE
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // identical to the batch r11 oracle — custom state ≡ lag/cumsum
    "s03_stream_sessions" -> RelationalQueries.oracles("r11_sessionize"))
}

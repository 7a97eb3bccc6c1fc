package graft.queries

import graft.Tables
import graft.operators.Ingest
import graft.queries.OracleSql.{hash60, parquet}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ingest surface — the reference's write path (reference
  * server.js:161-215): deterministic hash embedding (O6 stand-in),
  * INSERT-OR-IGNORE dedup ingest (O7), sequential id assignment
  * (AUTOINCREMENT parity), all oracle-checked.
  */
object IngestQueries {

  private val Dim = 64

  /** Scratch dir for the sink/source round-trip queries: stable WITHIN a
    * run (Overwrite mode — Bench re-invokes each query without orphaned
    * copies accumulating) but unique PER SparkSession (applicationId), so
    * two JVMs running the same query concurrently (bench alongside
    * correctness, parallel CI on one host) never race write-vs-read on a
    * shared path. Each dir is removed by a JVM shutdown hook — per-app
    * paths must not leak table copies across runs on a long-lived host.
    */
  private val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val cleanupHook: Unit = sys.addShutdownHook {
    scratchDirs.forEach { d =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(d))
    }
  }

  private def roundtripDir(spark: SparkSession, name: String): String = {
    cleanupHook
    // Paths.get, not string concat: java.io.tmpdir may or may not end
    // with a separator depending on platform/JVM settings
    val dir = java.nio.file.Paths
      .get(sys.props("java.io.tmpdir"),
        s"${name}_${spark.sparkContext.applicationId}")
      .toString
    scratchDirs.add(dir)
    dir
  }

  /** Run `fill` the FIRST time `name`'s scratch dir is requested in
    * this app, then hand back the dir — one-time fixture staging for
    * queries that re-run (bench min-of-3) over identical staged input.
    */
  private val stagedNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[queries] def stagedDir(spark: SparkSession, name: String)
                                (fill: String => Unit): String = {
    val dir = roundtripDir(spark, name)
    if (stagedNames.add(name)) {
      // a failed fill must not leave the name memoized: later calls
      // would silently consume a half-staged fixture
      try fill(dir)
      catch { case t: Throwable => stagedNames.remove(name); throw t }
    }
    dir
  }

  /** The synthetic ingest batch used by i02/i03: every stored doc
    * re-submitted under a new id (must all dedup away) plus an " EXTRA"
    * variant of every 10th doc (must all survive).
    */
  private def syntheticBatch(docs: DataFrame): DataFrame =
    docs.select((col("doc_id") + 10000).as("doc_id"), col("text"))
      .unionByName(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit(" EXTRA")).as("text")))

  /** O20/O1 round-trip as an oracle query: the documents table written
    * through the CSV sink (header, like reference embed.js:108-114) and
    * read back through the CSV source with schema inference, then
    * aggregated — the oracle aggregates the ORIGINAL parquet, so any
    * loss/corruption in the CSV codec (quoting, type round-trip) breaks
    * the hash match.
    */
  def csvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = roundtripDir(spark, "graft_i04_csv")
    graft.sources.Sources.writeCsv(
      Tables.documents(spark, sfDir).select("doc_id", "lang", "n_chars"),
      tmp)
    graft.sources.Sources.readCsv(spark, tmp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        sum("doc_id").as("sum_ids"))
      .orderBy("lang")
  }

  /** JSON-lines round-trip, i04's twin for the JSON sink/source: write
    * events (id, type, value, and the RAW nested props string) as
    * json-lines, read back with schema inference, aggregate. Exercises
    * quoting/escaping of embedded JSON and double round-tripping; the
    * oracle aggregates the original parquet.
    */
  def jsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = roundtripDir(spark, "graft_i05_json")
    graft.sources.Sources.writeJson(
      Tables.events(spark, sfDir)
        .select("event_id", "event_type", "value", "props"), tmp)
    graft.sources.Sources.readJson(spark, tmp)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("event_id").as("sum_ids"),
        round(sum("value"), 4).as("sum_value"),
        sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
      .orderBy("event_type")
  }

  /** ORC round-trip — the third columnar-format leg (parquet is the
    * store's native format, CSV/JSON cover text interchange, ORC covers
    * the other columnar ecosystem). Nested types survive: the lineitem
    * slice round-trips a (string, double) aggregate per return flag.
    */
  def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = roundtripDir(spark, "graft_i06_orc")
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).orc(tmp)
    spark.read.orc(tmp)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum("l_quantity").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("sum_price"),
        sum("l_orderkey").as("sum_keys"))
      .orderBy("l_returnflag")
  }

  /** XML round-trip — Spark 4's NATIVE xml data source (the fourth
    * interchange leg after CSV/JSON/ORC): customer written one element
    * per row, read back with schema inference (long/double/string all
    * survive the text round-trip — Java double-to-string is exact), and
    * aggregated; the oracle aggregates the original parquet.
    */
  def xmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = roundtripDir(spark, "graft_i07_xml")
    Tables.customer(spark, sfDir)
      .select("c_custkey", "c_mktsegment", "c_acctbal")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("rootTag", "customers").option("rowTag", "customer")
      .format("xml").save(tmp)
    spark.read.option("rowTag", "customer").format("xml").load(tmp)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("sum_acctbal"),
        sum("c_custkey").as("sum_keys"))
      .orderBy("c_mktsegment")
  }

  /** Partitioned-store round-trip: documents written hive-partitioned
    * by `lang` ([[Ingest.writeStorePartitioned]] layout, Overwrite for
    * per-run idempotence), read back through partition DISCOVERY with a
    * partition-column filter — at 100 TB the `lang = 'en'` predicate is
    * directory pruning (PartitionFilters in the scan, plan-asserted in
    * PlanSpec), so non-English files are never opened. The oracle
    * aggregates the original parquet under the same predicate.
    */
  def partitionedStore(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = roundtripDir(spark, "graft_i08_part")
    Tables.documents(spark, sfDir).select("doc_id", "lang", "n_chars")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd").partitionBy("lang").parquet(tmp)
    spark.read.parquet(tmp)
      .filter(col("lang") === "en")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
        sum("n_chars").as("sum_chars"))
  }

  /** Schema-evolution read: two batches written to one store with
    * DIFFERENT schemas (the second adds n_chars), read back with
    * `mergeSchema` — the drift every long-lived store accumulates.
    * Old-batch rows surface the added column as NULL; the oracle
    * reconstructs the identical union from the original parquet, so
    * both the merged schema and the null semantics are pinned.
    */
  def mergeSchemaRead(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = roundtripDir(spark, "graft_i09_evolve")
    val docs = Tables.documents(spark, sfDir)
    docs.filter(col("doc_id") % 2 === 0).select("doc_id", "lang")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
    docs.filter(col("doc_id") % 2 === 1).select("doc_id", "lang", "n_chars")
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(tmp)
    spark.read.option("mergeSchema", "true").parquet(tmp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_ids"),
        sum("n_chars").as("sum_chars_odd"),
        count("n_chars").as("n_with_chars"))
      .orderBy("lang")
  }

  /** Hash-embedder output as relational rows (doc_id, bucket, val) —
    * the sparse view of the dense vector, which is what a SQL oracle can
    * recompute (scatter-add = GROUP BY bucket; ±1 sums and the norm
    * divide are exact/IEEE-identical on both engines).
    */
  def hashEmbedBuckets(spark: SparkSession, sfDir: String): DataFrame =
    Ingest.hashEmbedRaw(
        Tables.documents(spark, sfDir).select("doc_id", "text"), "text", Dim)
      .select(col("doc_id"),
        posexplode(col("embedding")).as(Seq("bucket", "val")))
      .filter(col("val") =!= 0.0)
      .select(col("doc_id"), col("bucket"), round(col("val"), 6).as("val"))
      .orderBy("doc_id", "bucket")

  /** Dedup-ingest over the synthetic batch: count of surviving (novel)
    * rows and their id sum — INSERT OR IGNORE parity (server.js:198).
    */
  def dedupIngestCount(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    Ingest.dedupIngest(syntheticBatch(docs), docs, "text", "doc_id")
      .agg(count("*").as("n_new"), sum("doc_id").as("sum_batch_ids"))
  }

  /** Full ingest id assignment: novel rows get contiguous ids continuing
    * after the store's max — AUTOINCREMENT parity (server.js:28).
    * Emits (doc_id, batch_id) so the oracle pins the full mapping.
    */
  def assignedIds(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val novel = Ingest.dedupIngest(syntheticBatch(docs), docs, "text", "doc_id")
      .withColumnRenamed("doc_id", "batch_id")
    Ingest.assignIdsAfter(novel, "text", docs, "doc_id")
      .select(col("doc_id"), col("batch_id"))
      .orderBy("doc_id")
  }

  /** Bucketed-store co-located join as an oracle query: documents and
    * embeddings are written as tables BUCKETED (8 buckets) and sorted
    * on their join key ([[Ingest.writeStoreBucketed]] layout), then
    * joined and aggregated per label. The join plans with NO exchange
    * on the join key (PlanSpec asserts it) — the pre-shuffle is paid
    * once at write time, which at 100 TB converts the pipeline's
    * biggest recurring shuffle (doc↔embedding) into a bucket-local
    * sort-merge. The oracle joins the ORIGINAL parquet, so the
    * bucketed write/read path must be lossless to hash-match.
    */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
    val (docsTable, embTable) = (s"graft_i11_docs_$tag", s"graft_i11_emb_$tag")
    val base = roundtripDir(spark, "graft_i11_bucketed")
    Ingest.writeStoreBucketed(
      Tables.documents(spark, sfDir).select("doc_id", "n_chars"),
      docsTable, s"$base/docs", "doc_id", buckets = 8)
    Ingest.writeStoreBucketed(
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("doc_id"), col("label")),
      embTable, s"$base/emb", "doc_id", buckets = 8)
    spark.table(docsTable).join(spark.table(embTable), "doc_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_ids"),
        sum("n_chars").as("sum_chars"))
      .orderBy("label")
  }

  /** Z-ORDER LAYOUT SCORECARD — [[graft.operators.Layout]]: lineitem
    * rows land in 256 buckets under three writer layouts (insertion
    * order, single-column sort, Morton/Z-order interleave of
    * part × supp), and a two-dimensional box predicate is tested
    * against each bucket's min/max bounding box — EXACTLY the
    * statistics test a parquet reader runs per file/row-group. The
    * output quantifies the claim behind `OPTIMIZE ZORDER BY`:
    * insertion order skips nothing, a single-dim sort prunes only its
    * own column, the z-layout bounds BOTH dimensions (buckets_touched
    * and rows_scanned drop; rows_matched is identical by construction
    * — layout changes what you SCAN, never what you GET). All integer
    * arithmetic end-to-end (scale → interleave → prefix bucket), so
    * the oracle replays every bucket id bit-exactly; at deployment
    * scale the z column is the `repartitionByRange().sortWithin
    * Partitions().write()` key and each bucket is a file.
    */
  def zorderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Layout
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val mm = li.agg(
      min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
      min("l_suppkey").as("smin"), max("l_suppkey").as("smax"),
      min("l_orderkey").as("omin"), max("l_orderkey").as("omax"))
    // OWNERSHIP: `scaled` feeds three skipStats rollups plus the
    // rows_matched aggregate — unpersisted, the lineitem scan + scaling
    // projection recomputes 4× per invocation (v14/semanticDedup's
    // shared-frame convention; the bench's clearCache releases it)
    val scaled = li.crossJoin(broadcast(mm))
      .select(
        Layout.scale16(col("l_partkey"), col("pmin"), col("pmax"))
          .as("x"),
        Layout.scale16(col("l_suppkey"), col("smin"), col("smax"))
          .as("y"),
        Layout.scale16(col("l_orderkey"), col("omin"), col("omax"))
          .as("o"))
      .withColumn("z", Layout.morton16(col("x"), col("y")))
      .persist()
    // the probe: part in its 10–20% band AND supp in its 25–50% band
    // (scaled-domain constants, so the same literals replay anywhere)
    val (xLo, xHi, yLo, yHi) = (6554L, 13107L, 16384L, 32768L)
    def stats(bucket: Column, layout: String) =
      Layout.skipStats(scaled, bucket, col("x"), col("y"), layout,
        xLo, xHi, yLo, yHi)
    val matched = scaled
      .filter(col("x").between(xLo, xHi) && col("y").between(yLo, yHi))
      .agg(count(lit(1)).as("rows_matched"))
    stats(shiftright(col("o"), 8), "1_natural")
      .unionByName(stats(shiftright(col("x"), 8), "2_sort_x"))
      .unionByName(stats(shiftright(col("z"), 24), "3_zorder"))
      .crossJoin(broadcast(matched))
      .orderBy("layout")
  }

  /** Z-ORDER STORE, APPLIED — i15 predicts what a z-layout would skip;
    * this writes one with [[graft.operators.Ingest.writeStoreZOrdered]]
    * (lineitem clustered on part × supp, one file per 4-bit z-prefix
    * directory), reads the REAL files back, and emits each file's
    * min/max bounding box + whether the i15 probe box touches it —
    * exactly the footer-statistics test a parquet reader runs before
    * opening a file. Grouping key = the `zb` hive-partition value;
    * `n_files` counts DISTINCT actual files per bucket, so the oracle's
    * literal 1 pins the one-file-per-bucket physical claim inside the
    * hash gate. The oracle replays every box from the raw table with
    * the same integer math — the written layout is correct iff the
    * real files partition the z-space exactly as the math says.
    */
  def zorderStore(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{Ingest, Layout}
    val dir = roundtripDir(spark, "graft_i17_zstore")
    Ingest.writeStoreZOrdered(
      Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_partkey", "l_suppkey"),
      dir, "l_partkey", "l_suppkey", bucketBits = 4)
    // _metadata.file_path, not input_file_name(): the latter is
    // ambiguous (and rejected) once the min/max aggregate joins in a
    // second source; the metadata column binds to ITS scan at resolution
    val store = spark.read.parquet(dir)
      .select(col("zb"), col("l_partkey"), col("l_suppkey"),
        col("_metadata.file_path").as("f"))
    val mm = store.agg(
      min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
      min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
    val scaled = store.crossJoin(broadcast(mm))
      .select(col("zb").cast("long").as("zb"),
        col("f"),
        Layout.scale16(col("l_partkey"), col("pmin"), col("pmax"))
          .as("x"),
        Layout.scale16(col("l_suppkey"), col("smin"), col("smax"))
          .as("y"))
    val (xLo, xHi, yLo, yHi) = (6554L, 13107L, 16384L, 32768L)
    scaled.groupBy("zb")
      .agg(countDistinct("f").as("n_files"),
        count(lit(1)).as("n_rows"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .withColumn("touched",
        (col("min_x") <= xHi && col("max_x") >= xLo &&
          col("min_y") <= yHi && col("max_y") >= yLo).cast("long"))
      .orderBy("zb")
  }

  /** binaryFile-source media scan, oracle-gated: real container FILES
    * on disk (one PNG/JPEG/WAV/AVI per doc, [[MediaFixtures.stage]] of
    * [[MediaFixtures.mixFile]] — the write half of the round-trip) →
    * [[graft.sources.Sources.binaryDir]] →
    * per-partition header decode. The oracle recomputes what every
    * header must parse to from the id formulas, so the whole
    * files-on-disk → distributed binary scan → codec pipeline is in
    * the hash gate — the ingestion shape of an image/audio shard
    * crawl.
    */
  def binaryMediaScan(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Multimodal
    val media = MediaFixtures.files(spark, MediaFixtures.stage(spark, sfDir,
      roundtripDir(spark, "graft_i12_media"))(MediaFixtures.mixFile))
    Multimodal.decodeBatch(media, featureDim = 0)
      .select(col("doc_id"), col("byte_len").cast("long").as("byte_len"),
        col("width"), col("height"), col("format"))
      .orderBy("doc_id")
  }

  /** VIDEO FRAME SAMPLING over real container files
    * ([[graft.operators.Multimodal.frameSample]]): the i12 media mix
    * (PNG/JPEG/WAV/AVI on disk) flows through the binary dir source,
    * and each AVI's dwTotalFrames — parsed from the real avih header —
    * drives the deterministic stride sampler (≈8 evenly spaced frame
    * indices per video). Non-AVI payloads yield NO rows, which the
    * oracle pins by reconstructing the exact (doc_id, n_frames,
    * frame_ix) relation from the id formulas for the id%4=3 class
    * only. Pixel decode of the sampled frames is the documented stub
    * boundary; the schema, per-partition codec batching, explode
    * shape and sampling rule — the plumbing a video pipeline needs —
    * are real and hash-gated.
    */
  def frameSampleQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Multimodal
    val media = MediaFixtures.files(spark, MediaFixtures.stage(spark, sfDir,
      roundtripDir(spark, "graft_i19_frames"))(MediaFixtures.mixFile))
    Multimodal.frameSample(media, target = 8)
      .select(col("doc_id"),
        col("n_frames").cast("long").as("n_frames"),
        col("frame_ix").cast("long").as("frame_ix"))
      .orderBy("doc_id", "frame_ix")
  }

  /** Store-compaction round-trip: the documents table written as FOUR
    * separate appends (the small-file accumulation a micro-batch-fed
    * store suffers), compacted to 2 balanced files
    * ([[Ingest.compactStore]] — temp rewrite + dir swap, under the
    * store lock), then read back and aggregated. The oracle aggregates
    * the ORIGINAL parquet, so the maintenance pass must be LOSSLESS to
    * hash-match; the file-count contract itself is IngestSpec's. This
    * puts the store's maintenance path — not just its write path — in
    * the driver's gate.
    */
  def compactRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val store = java.nio.file.Paths
      .get(roundtripDir(spark, "graft_i13_compact"), "store").toString
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "n_chars")
    // fresh store per invocation: delete, then 4 appends, then compact
    val hPath = new org.apache.hadoop.fs.Path(store)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(hPath, true)
    (0 until 4).foreach { part =>
      Ingest.writeStore(docs.filter(pmod(col("doc_id"), lit(4)) === part),
        store)
    }
    Ingest.compactStore(spark, store, numFiles = 2)
    spark.read.parquet(store)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
        sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** i03's twin through the DISTRIBUTED assignment path
    * ([[Ingest.assignIdsDistributed]]): identical oracle — the full
    * (doc_id, batch_id) mapping, which pins uniqueness, density,
    * min/max and ordering in one statement — but the plan contains no
    * single-partition window: range-repartition + per-partition
    * row_number + prefix offsets (PlanSpec asserts the shape).
    */
  def assignedIdsDistributed(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val novel = Ingest.dedupIngest(syntheticBatch(docs), docs, "text", "doc_id")
      .withColumnRenamed("doc_id", "batch_id")
    Ingest.assignIdsDistributed(novel, "text", docs, "doc_id")
      .select(col("doc_id"), col("batch_id"))
      .orderBy("doc_id")
  }

  /** SNAPSHOT HISTORY through the manifest-commit store: two commits
    * (first 60% of the corpus, then all of it), then a TIME-TRAVEL
    * read of the superseded snapshot next to the live one — each
    * aggregated, the oracle recomputing both from the source table.
    * This puts the commit protocol itself ([[graft.operators.Ingest
    * .commitStoreSnapshot]] / [[Ingest.listSnapshots]] /
    * [[Ingest.readStoreSnapshot]]) inside the hash-checked gate: a
    * protocol bug that dropped, duplicated or mis-ordered a commit
    * would flip the aggregates. Commits run once per (app, corpus)
    * ([[stagedDir]]'s contract — the store is a durable artifact, not
    * per-invocation scratch).
    */
  def snapshotHistory(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ingest
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) * 6 / 10
    val root = stagedDir(spark,
      s"graft_i14_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}") { dir =>
      val store = s"$dir/store"
      Ingest.commitStoreSnapshot(spark, store) { snapDir =>
        Ingest.writeStore(docs.filter(col("doc_id") <= cut), snapDir)
      }
      Ingest.commitStoreSnapshot(spark, store) { snapDir =>
        Ingest.writeStore(docs, snapDir)
      }
    } + "/store"
    val snaps = Ingest.listSnapshots(spark, root)
    require(snaps.map(_._2) == Seq(false, true),
      s"expected exactly [superseded, live], got $snaps")
    def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
      df.agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"),
          countDistinct(md5(col("text"))).as("n_texts"))
        .select(lit(tag).as("snapshot"), col("n_docs"),
          col("sum_ids"), col("n_texts"))
    agg(Ingest.readStoreSnapshot(spark, root, snaps.head._1), "old")
      .unionByName(agg(Ingest.readStoreManifested(spark, root), "live"))
      .orderBy("snapshot")
  }

  /** TAGGED snapshots ([[graft.operators.Ingest.tagStoreSnapshot]] /
    * [[Ingest.readStoreTag]]) — the reproducibility primitive: commit
    * the 60% corpus, TAG it `train-v1`, commit the full corpus over
    * it, then VACUUM — and read the store both as-of the tag and live.
    * The vacuum inside the staged build is the claim under test: a tag
    * is a retention pin, so the tagged snapshot's chain must survive
    * the pass that reclaims every other superseded snapshot (without
    * the pin, readStoreTag would throw missing-directory here and the
    * gate would fail). Aggregates mirror i14's; the oracle recomputes
    * both refs from the source table.
    */
  def taggedSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ingest
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) * 6 / 10
    val root = stagedDir(spark,
      s"graft_i25_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}") { dir =>
      val store = s"$dir/store"
      Ingest.commitStoreSnapshot(spark, store) { snapDir =>
        Ingest.writeStore(docs.filter(col("doc_id") <= cut), snapDir)
      }
      Ingest.tagStoreSnapshot(spark, store, "train-v1",
        Ingest.listSnapshots(spark, store).head._1)
      Ingest.commitStoreSnapshot(spark, store) { snapDir =>
        Ingest.writeStore(docs, snapDir)
      }
      Ingest.vacuumStore(spark, store)
    } + "/store"
    val tags = Ingest.listStoreTags(spark, root)
    require(tags.map(_._1) == Seq("train-v1"),
      s"expected exactly tag train-v1, got $tags")
    def agg(df: org.apache.spark.sql.DataFrame, ref: String) =
      df.agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"),
          countDistinct(md5(col("text"))).as("n_texts"))
        .select(lit(ref).as("ref"), col("n_docs"),
          col("sum_ids"), col("n_texts"))
    agg(Ingest.readStoreTag(spark, root, "train-v1"), "train-v1")
      .unionByName(agg(Ingest.readStoreManifested(spark, root), "live"))
      .orderBy("ref")
  }

  /** i16's CDC mutation mix (its oracle mirrors it in SQL): deletes
    * doc_id % 97 = 0, updates % 13 = 0 (text suffixed " v2"), inserts
    * % 31 = 0 at ids shifted by 1,000,000.
    */
  private def cdcMutation(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(13)) === 0,
          concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(31)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))

  /** SNAPSHOT DIFF (CDC) through the manifest store: snapshot 1 is
    * the corpus, snapshot 2 applies deletes (doc_id % 97 = 0),
    * updates (% 13 = 0, text suffixed) and inserts (% 31 = 0, shifted
    * ids), then [[graft.operators.Ingest.snapshotDiff]] classifies
    * every key from the two TIME-TRAVEL reads and the query aggregates
    * per change class. This is the delta an incremental consumer folds
    * instead of reprocessing the store — and because both relations
    * come off immutable committed snapshots, the diff is exactly
    * reproducible later (the i14 history makes "what changed between
    * Monday and Tuesday" a query, not a log hunt). The oracle rebuilds
    * both versions from the source table and full-outer joins them in
    * SQL, so a commit/diff bug that drops, duplicates or misclassifies
    * a row flips the per-class aggregates.
    */
  def snapshotDiffQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ingest
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val root = stagedDir(spark,
      s"graft_i16_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}") { dir =>
      val store = s"$dir/store"
      Ingest.commitStoreSnapshot(spark, store) { d =>
        Ingest.writeStore(docs, d)
      }
      Ingest.commitStoreSnapshot(spark, store) { d =>
        Ingest.writeStore(cdcMutation(docs), d)
      }
    } + "/store"
    val snaps = Ingest.listSnapshots(spark, root)
    require(snaps.map(_._2) == Seq(false, true),
      s"expected exactly [superseded, live], got $snaps")
    Ingest.snapshotDiff(
        Ingest.readStoreSnapshot(spark, root, snaps.head._1),
        Ingest.readStoreManifested(spark, root), "doc_id", "text")
      .groupBy("change_type")
      .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_ids"))
      .orderBy("change_type")
  }

  /** SCHEMA EVOLUTION through the manifest store: snapshot 1 commits
    * (doc_id, text); snapshot 2 commits a WIDER schema — `lang` added —
    * together with row churn (every 13th text revised, every 31st doc
    * re-inserted under a shifted id). Because each snapshot is an
    * immutable directory named by the manifest, the old narrow schema
    * stays time-travel readable next to the live wide one (no
    * mergeSchema needed — each read resolves ONE snapshot's footer),
    * and [[graft.operators.Ingest.snapshotDiff]] classifies rows
    * ACROSS the schema change by projecting the shared columns. The
    * column counts ride the result (n_cols 2 vs 3, oracle-pinned
    * literals), so a writer that silently merged or dropped the new
    * column breaks the hash. This is the add-a-column migration every
    * long-lived store eventually runs, done without rewriting v1.
    */
  def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ingest
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang")
    val root = stagedDir(spark,
      s"graft_i18_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}") { dir =>
      val store = s"$dir/store"
      Ingest.commitStoreSnapshot(spark, store) { d =>
        Ingest.writeStore(docs.select("doc_id", "text"), d)
      }
      Ingest.commitStoreSnapshot(spark, store) { d =>
        Ingest.writeStore(
          docs.select(col("doc_id"),
              when(pmod(col("doc_id"), lit(13)) === 0,
                concat(col("text"), lit(" v2")))
                .otherwise(col("text")).as("text"),
              col("lang"))
            .unionByName(docs
              .filter(pmod(col("doc_id"), lit(31)) === 0)
              .select((col("doc_id") + 2000000L).as("doc_id"),
                col("text"), col("lang"))), d)
      }
    } + "/store"
    val snaps = Ingest.listSnapshots(spark, root)
    require(snaps.map(_._2) == Seq(false, true),
      s"expected exactly [superseded, live], got $snaps")
    val v1 = Ingest.readStoreSnapshot(spark, root, snaps.head._1)
    val v2 = Ingest.readStoreManifested(spark, root)
    def snapAgg(df: DataFrame, tag: String, nLangs: Column) =
      df.agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"), nLangs.as("n_langs"))
        .select(lit(tag).as("snapshot"), col("n_docs"),
          lit(df.schema.size.toLong).as("n_cols"),
          col("sum_ids"), col("n_langs"))
    val diff = Ingest.snapshotDiff(
        v1.select("doc_id", "text"), v2.select("doc_id", "text"),
        "doc_id", "text")
      .groupBy("change_type")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
      .select(concat(lit("diff_"), col("change_type")).as("snapshot"),
        col("n_docs"), lit(0L).as("n_cols"), col("sum_ids"),
        lit(0L).as("n_langs"))
    snapAgg(v1, "v1", lit(0L))
      .unionByName(snapAgg(v2, "v2", countDistinct(col("lang"))))
      .unionByName(diff)
      .orderBy("snapshot")
  }

  /** MERGE-ON-READ deletes through the manifest store
    * ([[graft.operators.Ingest.deleteStoreKeysMor]]): snapshot 1 is
    * the corpus; two stacked tombstone commits delete doc_id % 7 = 0
    * then % 11 = 0 WITHOUT touching a data file (the `mor_data_files`
    * column pins the physical claim: both MoR snapshot dirs hold zero
    * data files); compaction then materializes the subtraction. The
    * logical answer (count + id sum) must be identical through the
    * anti-join chain and after the rewrite — delete semantics are
    * independent of WHEN the rewrite is paid, which is the whole
    * merge-on-read contract (Iceberg equality-deletes / Hudi MOR,
    * public designs). At 100 TB: a delete costs O(tombstones), the
    * rewrite is a scheduled compaction, vacuum keeps every `_base`
    * ancestor the live chain references.
    */
  def morDeleteQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ingest
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val root = stagedDir(spark,
      s"graft_i20_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}") { dir =>
      val store = s"$dir/store"
      Ingest.commitStoreSnapshot(spark, store) { d =>
        Ingest.writeStore(docs, d)
      }
      Ingest.deleteStoreKeysMor(spark, store,
        docs.filter(pmod(col("doc_id"), lit(7)) === 0).select("doc_id"))
      Ingest.deleteStoreKeysMor(spark, store,
        docs.filter(pmod(col("doc_id"), lit(11)) === 0).select("doc_id"))
      Ingest.compactStoreManifested(spark, store, 4)
    } + "/store"
    val snaps = Ingest.listSnapshots(spark, root).map(_._1)
    require(snaps.size == 4, s"expected base+2 MoR+compacted: $snaps")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val morFiles = snaps.slice(1, 3).map { s =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$s"))
        .count(st => !st.getPath.getName.startsWith("_"))
    }.sum.toLong
    def stats(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum("doc_id")).as[(Long, Long)].head()
    val (nBase, _) = stats(Ingest.readStoreSnapshot(spark, root, snaps.head))
    val (nLive, sLive) = stats(Ingest.readStoreSnapshot(spark, root, snaps(2)))
    val (nComp, sComp) = stats(Ingest.readStoreManifested(spark, root))
    Seq((nBase, nLive, sLive, morFiles, nComp, sComp))
      .toDF("n_base", "n_live", "sum_ids_live", "mor_data_files",
        "n_compacted", "sum_ids_compacted")
  }

  /** PARTITION-SPEC EVOLUTION through the manifest store (the Iceberg
    * capability i18 covered for schemas, applied to LAYOUT): snapshot
    * v1 is written flat, snapshot v2 hive-partitioned by `lang` — the
    * layout migration lands as a NEW snapshot without rewriting or
    * invalidating v1, both stay readable through the same
    * time-travel API (partition discovery recovers `lang` as a
    * column), and the physical claim is pinned: v1 has zero `lang=*`
    * directories, v2 exactly one per language. At 100 TB this is how
    * a store adopts partition pruning retroactively: commit the
    * re-laid-out snapshot, flip the pointer, readers never see a
    * half-migrated directory.
    */
  def partitionEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ingest
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text")
    val root = stagedDir(spark,
      s"graft_i21_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}") { dir =>
      val store = s"$dir/store"
      Ingest.commitStoreSnapshot(spark, store) { d =>
        Ingest.writeStore(docs, d)
      }
      Ingest.commitStoreSnapshot(spark, store) { d =>
        docs.write.partitionBy("lang")
          .option("compression", "zstd").parquet(d)
      }
    } + "/store"
    val snaps = Ingest.listSnapshots(spark, root).map(_._1)
    require(snaps.size == 2, s"expected flat+partitioned history: $snaps")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def langDirs(s: String): Long =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$s"))
        .count(st => st.isDirectory && st.getPath.getName.startsWith("lang="))
        .toLong
    def leg(tag: String, snap: String) =
      Ingest.readStoreSnapshot(spark, root, snap)
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          countDistinct(col("lang")).as("n_langs"))
        .select(lit(tag).as("version"), col("n_docs"), col("sum_ids"),
          col("n_langs"), lit(langDirs(snap)).as("n_part_dirs"))
    leg("v1_flat", snaps.head)
      .unionByName(leg("v2_partitioned", snaps.last))
      .orderBy("version")
  }

  /** MERGE INTO through the manifest store
    * ([[graft.operators.Ingest.mergeIntoStore]]): one batch carrying
    * deletes (doc_id % 97), updates (% 13, exclusive of the deletes —
    * the MERGE cardinality rule wants one row per key) and inserts
    * (% 31 at shifted ids) lands as ONE committed snapshot. The
    * result is pinned by count + id sum + an order-insensitive
    * content fingerprint (md5 over sorted per-doc fingerprints, the
    * t43/t46 convention) — a misapplied case in the three-way
    * projection flips the hash.
    */
  def mergeIntoQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ingest
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val root = stagedDir(spark,
      s"graft_i22_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}") { dir =>
      val store = s"$dir/store"
      Ingest.commitStoreSnapshot(spark, store) { d =>
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
      Ingest.mergeIntoStore(spark, store, batch, "doc_id", "text",
        "_delete")
    } + "/store"
    Ingest.readStoreManifested(spark, root)
      .select(col("doc_id"),
        md5(concat(col("doc_id"), lit(":"), col("text"))).as("doc_fp"))
      .agg(count(lit(1)).as("n_final"), sum("doc_id").as("sum_ids"),
        md5(array_join(array_sort(collect_list(col("doc_fp"))), ","))
          .as("fp"))
  }

  /** PHYSICAL-ERASURE AUDIT — the compliance leg of the delete story:
    * i20/s19 prove deletes are logically invisible; a
    * right-to-erasure regime additionally requires the bytes GONE
    * after compaction. This query deletes (merge-on-read), compacts,
    * then reads the live snapshot's data files RAW — deliberately
    * bypassing the manifest read path and its anti-joins — and pins
    * that zero tombstoned keys survive in the physical files
    * (`n_tombstoned_present` = 0 is part of the hash-checked answer,
    * alongside the compaction file-count contract). Deployed, this is
    * the audit job that runs after every compaction window closes out
    * a batch of erasure requests.
    */
  def erasureAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ingest
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val root = stagedDir(spark,
      s"graft_i23_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}") { dir =>
      val store = s"$dir/store"
      Ingest.commitStoreSnapshot(spark, store) { d =>
        Ingest.writeStore(docs, d)
      }
      Ingest.deleteStoreKeysMor(spark, store,
        docs.filter(pmod(col("doc_id"), lit(7)) === 0).select("doc_id"))
      Ingest.compactStoreManifested(spark, store, 4)
    } + "/store"
    val liveDir = Ingest.currentSnapshotDir(spark, root)
    val fs = new org.apache.hadoop.fs.Path(liveDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(liveDir))
      .map(_.getPath).filterNot(_.getName.startsWith("_"))
      .map(_.toString).toSeq
    spark.read.parquet(files: _*) // RAW file read: no manifest, no anti-join
      .agg(count(lit(1)).as("n_live"), sum("doc_id").as("sum_ids"),
        sum(when(pmod(col("doc_id"), lit(7)) === 0, 1L).otherwise(0L))
          .as("n_tombstoned_present"))
      .select(col("n_live"), col("sum_ids"), col("n_tombstoned_present"),
        lit(files.size.toLong).as("n_files"))
  }

  /** ANALYZE — per-column statistics of the live snapshot (min / max
    * / exact NDV / null count), the artifact a cost-based optimizer
    * and a file-skipping planner both feed on (ANALYZE TABLE ...
    * COMPUTE STATISTICS FOR COLUMNS, the lakehouse staple). Computed
    * through the manifest read so the stats describe a COMMITTED
    * snapshot — at 100 TB this runs per-commit as a tiny artifact
    * beside the snapshot, and min/max render as strings so one
    * relation covers every column type. Completes the store
    * management family: compaction, history, layout, CDC, evolution,
    * mutation, audit — and now stats.
    */
  def analyzeStats(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ingest
    val root = stagedDir(spark,
      s"graft_i24_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}") { dir =>
      Ingest.commitStoreSnapshot(spark, s"$dir/store") { d =>
        Ingest.writeStore(Tables.documents(spark, sfDir)
          .select("doc_id", "lang", "n_chars"), d)
      }
    } + "/store"
    val live = Ingest.readStoreManifested(spark, root)
    def statsOf(c: String) =
      live.agg(min(col(c)).cast("string").as("min_val"),
          max(col(c)).cast("string").as("max_val"),
          countDistinct(col(c)).as("n_distinct"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"))
        .select(lit(c).as("column"), col("min_val"), col("max_val"),
          col("n_distinct"), col("n_nulls"))
    statsOf("doc_id").unionByName(statsOf("lang"))
      .unionByName(statsOf("n_chars"))
      .orderBy("column")
  }

  private val RefDb = graft.sources.Sources.referenceDb

  /** SQLite EXPORT round-trip at the reference's own geometry — the
    * WRITE half of the migration seam (the store loop closed in both
    * directions): the reference's shipped `vectors.db` (7 docs,
    * 6144-byte float32 blobs; reference server.js:21-32) is parsed by
    * [[graft.sources.SqliteReader]], re-exported through
    * [[graft.sources.SqliteWriter]] (range-partitioned distributed
    * page assembly; every record overflows a 4096-byte page, so the
    * overflow-chain encoder runs on the graded path), re-read from
    * the WRITTEN file, and pinned byte-for-byte: per doc the content
    * string, blob length, two byte moments (Σ byteᵢ, Σ (i+1)·byteᵢ)
    * and the decoded first float. The oracle computes identical stats
    * from the ORIGINAL rows (artifact parquet) — written-then-
    * reparsed ≡ original, i04's sink/source contract applied to the
    * reference's own store format. The export carries the reference's
    * FULL schema — its DDL verbatim, the `UNIQUE` constraint backed
    * by a real `sqlite_autoindex_documents_1` b-tree, `AUTOINCREMENT`
    * backed by a sqlite_sequence seeded at max(id) — so a reference
    * server pointed at the file keeps working, INSERTs included. The
    * byte moments ride a typed map over the 7-row validation result
    * (an export gate, not a serving path); stock-sqlite3 cross-checks
    * (integrity_check's index-vs-table audit, UNIQUE rejection,
    * id continuation, index-backed lookup) run out-of-JVM
    * (scripts/sqlitecheck.py, recorded in BASELINE.md).
    */
  def sqliteExport(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.Sources
    val orig = Sources.fromSqliteDocumentsRaw(spark, RefDb)
    val origDir = Artifacts.write(orig, "i26_refrows", sfDir)
    // artifact-dir, not scratch: the exported FILE is itself an
    // artifact — scripts/sqlitecheck.py re-opens it with the stock
    // sqlite3 C library after the JVM exits
    val db = java.nio.file.Paths.get(
      Artifacts.resolve("i26_export_db", sfDir), "vectors_export.db")
    java.nio.file.Files.createDirectories(db.getParent)
    Sources.toSqliteDocuments(spark.read.parquet(origDir), db.toString,
      numPartitions = 2, fullSchema = true): Unit
    val back = Sources.fromSqliteDocumentsRaw(spark, db.toString)
    back.as[(Long, String, Array[Byte])].map { case (id, c, b) =>
        var ws = 0L; var s = 0L; var i = 0
        while (i < b.length) {
          val v = (b(i) & 0xff).toLong; ws += (i + 1) * v; s += v; i += 1
        }
        val u = (b(0) & 0xffL) | ((b(1) & 0xffL) << 8) |
          ((b(2) & 0xffL) << 16) | ((b(3) & 0xffL) << 24)
        (id, c, b.length.toLong, ws, s,
          java.lang.Float.intBitsToFloat(u.toInt).toDouble)
      }
      .toDF("doc_id", "content", "blob_len", "blob_wsum", "blob_sum", "v0")
      .select(col("doc_id"), col("content"), col("blob_len"),
        col("blob_wsum"), col("blob_sum"), round(col("v0"), 6).as("vec0"))
      .orderBy("doc_id")
  }

  /** SQLite export at CORPUS scale — [[sqliteExport]]'s sf-scaling
    * twin: the embeddings table encodes to float32 blobs (O4), exports
    * through the 4-partition writer (multi-leaf tree with interior
    * level(s); each range partition serializes its own contiguous
    * leaf run — and with the full schema the UNIQUE autoindex build
    * runs its own content-ordered distributed leaf pass at corpus
    * row counts), is re-read and decoded (O3), and the VALUES are
    * pinned per vec_id%8 group in order-free integer micro-units
    * (round(Σcomponents·1e5) per vector, summed as longs — group
    * aggregation order can't move a bit). The oracle replays from the
    * original parquet, so any encode/page/parse corruption anywhere
    * in the written file surfaces as a value mismatch, not just a
    * count drift.
    */
  def sqliteScaleExport(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorFunctions.{floatVectorFromBinary, floatVectorToBinary}
    import graft.sources.Sources
    val emb = Tables.embeddings(spark, sfDir)
    val rows = emb.select((col("vec_id") + 1).cast("long").as("id"),
      concat(lit("vec-"), col("vec_id")).as("content"),
      floatVectorToBinary(col("embedding")).as("vector_blob"))
    val db = java.nio.file.Paths.get( // artifact-dir: see sqliteExport
      Artifacts.resolve("i27_export_db", sfDir), "embeddings_export.db")
    java.nio.file.Files.createDirectories(db.getParent)
    Sources.toSqliteDocuments(rows, db.toString, numPartitions = 4,
      fullSchema = true): Unit
    val back = Sources.fromSqliteDocumentsRaw(spark, db.toString)
      .select((col("doc_id") - 1).as("vec_id"), col("content"),
        length(col("vector_blob")).cast("long").as("blob_len"),
        floatVectorFromBinary(col("vector_blob")).as("v"))
    back
      .withColumn("vq", round(aggregate(col("v"), lit(0.0d),
          (a, x) => a + x.cast("double")) * 100000, 0).cast("long"))
      .withColumn("content_ok",
        (col("content") === concat(lit("vec-"), col("vec_id")))
          .cast("long"))
      .groupBy((col("vec_id") % 8).as("grp"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("vq")).as("sum_q"),
        sum(col("blob_len")).as("sum_blob_len"),
        sum(col("content_ok")).as("n_content_ok"),
        min(col("vec_id")).as("min_id"),
        max(col("vec_id")).as("max_id"))
      .orderBy("grp")
  }

  /** THE DSv2 ROUTE OF THE MIGRATION SEAM — i27's round-trip driven
    * through `spark.read.format("sqlite")` ([[graft.sources
    * .SqliteTableProvider]]) instead of the Scala library call, so the
    * export is consumable from pure SQL / pyspark: write the
    * embeddings table as a full-schema SQLite file (UNIQUE autoindex +
    * sqlite_sequence — i27's writer path), then read it back through
    * the registered source — schema INFERRED from the stored DDL, one
    * InputPartition per file — decode the float32 blobs and aggregate
    * per id-group against the original parquet (the i04 sink
    * convention). The `pruned_read_schema` column carries the
    * optimizer-applied column pruning VERDICT into the hash gate: it
    * is the DSv2 scan's readSchema for a (id, content) projection,
    * introspected from the optimized plan — if
    * [[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]]
    * ever stops engaging (and 6 KiB blobs start being materialized
    * for blob-free projections), the literal changes and the oracle
    * mismatches. */
  def sqliteDsv2Roundtrip(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import graft.functions.VectorFunctions.{floatVectorFromBinary, floatVectorToBinary}
    import graft.sources.Sources
    val emb = Tables.embeddings(spark, sfDir)
    val rows = emb.select((col("vec_id") + 1).cast("long").as("id"),
      concat(lit("vec-"), col("vec_id")).as("content"),
      floatVectorToBinary(col("embedding")).as("vector"))
    val db = java.nio.file.Paths.get(
      Artifacts.resolve("i28_export_db", sfDir), "embeddings_dsv2.db")
    java.nio.file.Files.createDirectories(db.getParent)
    Sources.toSqliteDocuments(rows, db.toString, numPartitions = 4,
      fullSchema = true): Unit
    val back = spark.read.format("sqlite").load(db.toString)
    val pruned = back.select("id", "content")
    val prunedSchema = pruned.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.readSchema().fieldNames.toSeq
    }.head.mkString(",")
    back.select(col("id"), col("content"),
        floatVectorFromBinary(col("vector")).as("v"))
      .withColumn("vq", round(aggregate(col("v"), lit(0.0d),
          (a, x) => a + x.cast("double")) * 100000, 0).cast("long"))
      .groupBy(pmod(col("id") - 1, lit(8L)).as("grp"))
      .agg(count(lit(1)).as("n_vecs"), sum("vq").as("sum_q"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .withColumn("pruned_read_schema", lit(prunedSchema))
      .orderBy("grp")
  }

  /** THE DSv2 WRITE ROUTE OF THE MIGRATION SEAM — the round-16
    * verdict's item 4, completing `format("sqlite")` in both
    * directions from pure SQL / pyspark: `df.write.format("sqlite")
    * .mode("overwrite").option("table", …).option("unique", content)
    * .save(path)` drives [[graft.sources.SqliteWriteBuilder]] (a
    * V1Write — the writer is driver-orchestrated by format necessity:
    * executors build page runs, the driver streams ONE file), then
    * the file is read back through the registered DSv2 source and
    * the decoded values aggregate against the original parquet (the
    * i28 shape, now with BOTH halves on the DSv2 route; the `unique`
    * option routes through writeFull's autoindex build, and
    * scripts/sqlitecheck.py stock-validates the file's integrity +
    * index cross-audit out of JVM). Two write-path verdicts ride the
    * hash gate as Spark-side assertion columns: `dup_write_rejected`
    * = 1 (a duplicate-content frame pushed through the SAME DSv2
    * route raises the UNIQUE guard before a corrupt file ships — the
    * round-16 boundary-check family exercised through the new entry
    * point), and `append_rejected` = 1 (mode("append") refuses
    * loudly: a SQLite file is a single-writer store assembled whole;
    * incremental adds are the Ingest upsert path's job).
    */
  def sqliteDsv2Write(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import graft.functions.VectorFunctions.{floatVectorFromBinary, floatVectorToBinary}
    val emb = Tables.embeddings(spark, sfDir)
    val rows = emb.select((col("vec_id") + 1).cast("long").as("id"),
      concat(lit("vec-"), col("vec_id")).as("content"),
      floatVectorToBinary(col("embedding")).as("vector"))
    val db = java.nio.file.Paths.get(
      Artifacts.resolve("i29_export_db", sfDir), "embeddings_dsv2w.db")
    rows.write.format("sqlite").mode("overwrite")
      .option("table", "documents").option("unique", "content")
      .option("numPartitions", "4").save(db.toString)
    def rootMsgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ rootMsgs(t.getCause)
    // the UNIQUE guard through the DSv2 entry point: a frame with a
    // duplicate content value must raise BEFORE a corrupt file ships
    val dupDb = java.nio.file.Paths.get(
      Artifacts.resolve("i29_export_db", sfDir), "dup_reject.db")
    val dupRejected =
      try {
        rows.limit(2)
          .select(col("id"), lit("same-content").as("content"),
            col("vector"))
          .write.format("sqlite").mode("overwrite")
          .option("table", "documents").option("unique", "content")
          .save(dupDb.toString)
        0L
      } catch {
        case e: Throwable
            if rootMsgs(e).exists(_.contains("UNIQUE")) => 1L
      }
    // append mode refuses loudly (single-writer format)
    val appendRejected =
      try {
        rows.limit(1).write.format("sqlite").mode("append")
          .option("table", "documents").save(db.toString)
        0L
      } catch {
        case e: Throwable if rootMsgs(e)
          .exists(_.contains("only mode(\"overwrite\")")) => 1L
      }
    val back = spark.read.format("sqlite").load(db.toString)
    back.select(col("id"), col("content"),
        floatVectorFromBinary(col("vector")).as("v"))
      .withColumn("vq", round(aggregate(col("v"), lit(0.0d),
          (a, x) => a + x.cast("double")) * 100000, 0).cast("long"))
      .withColumn("content_ok",
        (col("content") === concat(lit("vec-"), col("id") - 1))
          .cast("long"))
      .groupBy(pmod(col("id") - 1, lit(8L)).as("grp"))
      .agg(count(lit(1)).as("n_vecs"), sum("vq").as("sum_q"),
        sum("content_ok").as("n_content_ok"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .withColumn("dup_write_rejected", lit(dupRejected))
      .withColumn("append_rejected", lit(appendRejected))
      .orderBy("grp")
  }

  /** CONTENT-KEYED LOOKUPS THROUGH THE EXPORTED AUTOINDEX — the
    * round-17 verdict's "What's missing #2", closing the last
    * lookup-shape gap: the reference's duplicate-check probe is an
    * equality on the UNIQUE `content` column (server.js:198, served
    * by SQLite through `sqlite_autoindex_documents_1`), and until now
    * the DSv2 route answered it with a full scan even though
    * i26/i29's exports ship that exact index b-tree. This query
    * drives the new pushdown end to end: export the embeddings table
    * through the DSv2 WRITE route (UNIQUE autoindex included), then
    * probe `WHERE content IN (…)` — the filter pushes as content
    * KEYS, each file answers by ONE batched descent of the autoindex
    * (O(depth + k) index pages) followed by O(depth) table-b-tree
    * point reads of the hit rowids, never a table scan
    * (SqliteSourceV2Spec pins the pages-visited meter; this query
    * pins the RESULT + the planner verdicts). Two plan verdicts ride
    * the hash gate: `pushed_keys` = the key count the optimized
    * plan's scan actually carries (4 — three hits and a miss), and
    * `count_pushed` = 1 iff the ungrouped `COUNT(*)` (the
    * reference's sync guard, server.js:67) plans as a pushed
    * aggregate answered from b-tree cell counts with no payload
    * decode ("What's missing #3"). `n_total` carries that pushed
    * count's VALUE into the oracle compare. */
  def sqliteContentLookup(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import graft.functions.VectorFunctions.floatVectorToBinary
    val emb = Tables.embeddings(spark, sfDir)
    val rows = emb.select((col("vec_id") + 1).cast("long").as("id"),
      concat(lit("vec-"), col("vec_id")).as("content"),
      floatVectorToBinary(col("embedding")).as("vector"))
    val db = java.nio.file.Paths.get(
      Artifacts.resolve("i30_export_db", sfDir), "embeddings_idx.db")
    rows.write.format("sqlite").mode("overwrite")
      .option("table", "documents").option("unique", "content")
      .option("numPartitions", "4").save(db.toString)
    val back = spark.read.format("sqlite").load(db.toString)
    def scanOf(q: DataFrame): graft.sources.SqliteScan =
      q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[graft.sources.SqliteScan]
      }.head
    val probe = back.filter(col("content").isin(
      "vec-1", "vec-5", "vec-9", "no-such-content"))
    val pushedKeys = scanOf(probe).pushedKeys
      .map(_.size.toLong).getOrElse(-1L)
    val cnt = back.groupBy().count()
    val countPushed =
      if (scanOf(cnt).countCols > 0) 1L else 0L
    val total = cnt.head().getLong(0)
    probe.select(col("id"), col("content"))
      .withColumn("pushed_keys", lit(pushedKeys))
      .withColumn("count_pushed", lit(countPushed))
      .withColumn("n_total", lit(total))
      .orderBy("id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "i30_sqlite_content_lookup" -> (sqliteContentLookup(_, _)),
    "i29_sqlite_dsv2_write" -> (sqliteDsv2Write(_, _)),
    "i28_sqlite_dsv2" -> (sqliteDsv2Roundtrip(_, _)),
    "i26_sqlite_export" -> (sqliteExport(_, _)),
    "i27_sqlite_scale_export" -> (sqliteScaleExport(_, _)),
    "i24_analyze_stats" -> (analyzeStats(_, _)),
    "i23_erasure_audit" -> (erasureAudit(_, _)),
    "i22_merge_into" -> (mergeIntoQuery(_, _)),
    "i21_partition_evolution" -> (partitionEvolution(_, _)),
    "i18_schema_evolution" -> (schemaEvolution(_, _)),
    "i19_frame_sample" -> (frameSampleQuery(_, _)),
    "i20_mor_delete" -> (morDeleteQuery(_, _)),
    "i16_snapshot_diff" -> (snapshotDiffQuery(_, _)),
    "i14_snapshot_history" -> (snapshotHistory(_, _)),
    "i25_tagged_snapshot" -> (taggedSnapshot(_, _)),
    "i12_binary_media" -> (binaryMediaScan(_, _)),
    "i13_compact_roundtrip" -> (compactRoundtrip(_, _)),
    "i11_bucketed_join" -> (bucketedJoin(_, _)),
    "i10_assign_ids_dist" -> (assignedIdsDistributed(_, _)),
    "i15_zorder_layout" -> (zorderLayout(_, _)),
    "i17_zorder_store" -> (zorderStore(_, _)),
    "i01_hash_embed" -> (hashEmbedBuckets(_, _)),
    "i02_dedup_ingest" -> (dedupIngestCount(_, _)),
    "i03_assign_ids" -> (assignedIds(_, _)),
    "i04_csv_roundtrip" -> (csvRoundtrip(_, _)),
    "i05_json_roundtrip" -> (jsonRoundtrip(_, _)),
    "i06_orc_roundtrip" -> (orcRoundtrip(_, _)),
    "i07_xml_roundtrip" -> (xmlRoundtrip(_, _)),
    "i08_partitioned_store" -> (partitionedStore(_, _)),
    "i09_merge_schema" -> (mergeSchemaRead(_, _)))

  private val wsLower =
    "CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) " +
      "ELSE string_split_regex(trim(lower(text)), '\\s+') END"

  private val batchSql =
    """SELECT doc_id + 10000 AS doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 20000 AS doc_id, text || ' EXTRA' AS text
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** The new ids of the batch's novel texts: max(doc_id) + the text's
    * rank, each with its smallest batch id (i03, and i10 — the
    * distributed assignment must produce the identical mapping). */
  private val assignIdsOracle: String =
    s"""WITH batch AS ($batchSql),
       |novel AS (
       |  SELECT text, min(doc_id) AS batch_id FROM batch
       |  WHERE text NOT IN (SELECT text FROM documents)
       |  GROUP BY text),
       |mx AS (SELECT max(doc_id) AS m FROM documents)
       |SELECT CAST(row_number() OVER (ORDER BY text) + m AS BIGINT) AS doc_id,
       |       batch_id
       |FROM novel, mx
       |ORDER BY doc_id""".stripMargin

  /** The SQLite exports' per-group vector sums (i28, i29): each
    * vector's component sum at 1e-5 as `vq`, then the group, count and
    * sum columns; the caller continues the SELECT list. */
  private val sqliteVecSums: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
      |           FROM embeddings),
      |per AS (SELECT vec_id,
      |          CAST(round(list_sum(ev) * 100000, 0) AS BIGINT) AS vq
      |        FROM e)
      |SELECT vec_id % 8 AS grp, count(*) AS n_vecs,
      |       CAST(sum(vq) AS BIGINT) AS sum_q,""".stripMargin

  /** DuckDB oracles. A `def`: i26's artifact glob resolves at dump
    * time ([[OracleSql]]). */
  def oracles: Map[String, String] = Map(
    // the written-file stats recomputed from the ORIGINAL rows: hex →
    // per-byte list → moments, plus v27's independent IEEE754 float32
    // decode of the first component — written-then-reparsed ≡ original
    "i26_sqlite_export" ->
      s"""WITH h AS (SELECT doc_id, content, hex(vector_blob) AS hx,
         |             CAST(octet_length(vector_blob) AS BIGINT) AS blen
         |           FROM ${parquet("i26_refrows")}),
         |b AS (SELECT doc_id, content, blen,
         |        list_transform(range(0, CAST(blen AS INT)), i ->
         |          CAST(concat('0x', substr(hx, CAST(2*i+1 AS INT), 2))
         |               AS BIGINT)) AS bl
         |      FROM h),
         |s AS (SELECT doc_id, content, blen,
         |        CAST(list_sum(list_transform(
         |          range(1, CAST(blen AS INT) + 1), j -> j * bl[j]))
         |          AS BIGINT) AS wsum,
         |        CAST(list_sum(bl) AS BIGINT) AS bsum,
         |        bl[1] + 256 * bl[2] + 65536 * bl[3] + 16777216 * bl[4] AS u
         |      FROM b),
         |f AS (SELECT doc_id, content, blen, wsum, bsum,
         |        (CASE WHEN u >= 2147483648 THEN -1.0 ELSE 1.0 END) *
         |        (CASE WHEN ((u // 8388608) % 256) = 0
         |              THEN (u % 8388608) * power(2.0, -149)
         |              ELSE (8388608 + (u % 8388608)) *
         |                   power(2.0, ((u // 8388608) % 256) - 150) END)
         |          AS v0
         |      FROM s)
         |SELECT doc_id, content, blen AS blob_len, wsum AS blob_wsum,
         |       bsum AS blob_sum, round(v0, 6) AS vec0
         |FROM f ORDER BY doc_id""".stripMargin,
    // group stats replayed from the original embeddings parquet; the
    // Spark side's values flowed encode → page assembly → file →
    // parse → decode, so equality pins the whole written file
    // the DSv2 round-trip's truth: the ORIGINAL parquet aggregated the
    // same way, plus the pruning verdict literal — 'id,content' is
    // what SupportsPushDownRequiredColumns must leave in readSchema
    // for a blob-free projection
    // the DSv2-write round-trip's truth: the ORIGINAL parquet
    // aggregated the same way. The two rejection columns are
    // Spark-side write-path assertions carried into the hash (the
    // Spark value is 1 only if the duplicate/append write actually
    // RAISED through the DSv2 entry point); content_ok re-derives
    // per-row content equality on the re-read
    // the probe's three hits (the miss returns nothing) + the plan
    // verdicts: 4 keys pushed, COUNT(*) pushed, and the pushed
    // count's value = the table's row count
    "i30_sqlite_content_lookup" ->
      """SELECT vec_id + 1 AS id, concat('vec-', vec_id) AS content,
        |       CAST(4 AS BIGINT) AS pushed_keys,
        |       CAST(1 AS BIGINT) AS count_pushed,
        |       (SELECT count(*) FROM embeddings) AS n_total
        |FROM embeddings WHERE vec_id IN (1, 5, 9)
        |ORDER BY id""".stripMargin,
    "i29_sqlite_dsv2_write" ->
      s"""$sqliteVecSums
         |       CAST(count(*) AS BIGINT) AS n_content_ok,
         |       min(vec_id) + 1 AS min_id, max(vec_id) + 1 AS max_id,
         |       CAST(1 AS BIGINT) AS dup_write_rejected,
         |       CAST(1 AS BIGINT) AS append_rejected
         |FROM per GROUP BY 1 ORDER BY grp""".stripMargin,
    "i28_sqlite_dsv2" ->
      s"""$sqliteVecSums
         |       min(vec_id) + 1 AS min_id, max(vec_id) + 1 AS max_id,
         |       'id,content' AS pruned_read_schema
         |FROM per GROUP BY 1 ORDER BY grp""".stripMargin,
    "i27_sqlite_scale_export" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
        |           FROM embeddings),
        |per AS (SELECT vec_id,
        |          CAST(round(list_sum(ev) * 100000, 0) AS BIGINT) AS vq,
        |          CAST(4 * len(ev) AS BIGINT) AS blen
        |        FROM e)
        |SELECT vec_id % 8 AS grp, count(*) AS n_vecs,
        |       CAST(sum(vq) AS BIGINT) AS sum_q,
        |       CAST(sum(blen) AS BIGINT) AS sum_blob_len,
        |       count(*) AS n_content_ok,
        |       min(vec_id) AS min_id, max(vec_id) AS max_id
        |FROM per GROUP BY 1 ORDER BY grp""".stripMargin,
    // exact per-column min/max/NDV/nulls, string-rendered — mirror of
    // analyzeStats over the committed snapshot's columns
    "i24_analyze_stats" ->
      """SELECT * FROM (
        |  SELECT 'doc_id' AS "column",
        |         CAST(min(doc_id) AS VARCHAR) AS min_val,
        |         CAST(max(doc_id) AS VARCHAR) AS max_val,
        |         count(DISTINCT doc_id) AS n_distinct,
        |         CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_nulls
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', CAST(min(lang) AS VARCHAR),
        |         CAST(max(lang) AS VARCHAR), count(DISTINCT lang),
        |         CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', CAST(min(n_chars) AS VARCHAR),
        |         CAST(max(n_chars) AS VARCHAR), count(DISTINCT n_chars),
        |         CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT)
        |  FROM documents)
        |ORDER BY "column"""".stripMargin,
    // post-compaction RAW-file audit: zero tombstoned keys in the
    // physical bytes, exactly numFiles files — mirror of erasureAudit
    "i23_erasure_audit" ->
      """SELECT count(*) AS n_live, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |       CAST(0 AS BIGINT) AS n_tombstoned_present,
        |       CAST(4 AS BIGINT) AS n_files
        |FROM documents WHERE doc_id % 7 <> 0""".stripMargin,
    // the three MERGE cases replayed relationally: survivors carry the
    // update where it applies, inserts append at shifted ids — mirror
    // of mergeIntoQuery (order-insensitive content fingerprint)
    "i22_merge_into" ->
      """WITH merged AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 13 = 0 AND doc_id % 97 <> 0
        |              THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents
        |  WHERE doc_id % 31 = 0),
        |fps AS (
        |  SELECT doc_id,
        |         md5(CAST(doc_id AS VARCHAR) || ':' || text) AS doc_fp
        |  FROM merged)
        |SELECT count(*) AS n_final, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |       md5(string_agg(doc_fp, ',' ORDER BY doc_fp)) AS fp
        |FROM fps""".stripMargin,
    // both layouts serve the identical relation; n_part_dirs pins the
    // physical layout difference — mirror of partitionEvolution
    "i21_partition_evolution" ->
      """WITH s AS (
        |  SELECT count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT)
        |    AS sum_ids, count(DISTINCT lang) AS n_langs
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT 'v1_flat' AS version, n_docs, sum_ids, n_langs,
        |         CAST(0 AS BIGINT) AS n_part_dirs
        |  FROM s
        |  UNION ALL
        |  SELECT 'v2_partitioned', n_docs, sum_ids, n_langs,
        |         (SELECT count(DISTINCT lang) FROM documents)
        |  FROM s)
        |ORDER BY version""".stripMargin,
    // merge-on-read deletes ≡ eager filter, before AND after the
    // compaction rewrite; mor_data_files = 0 pins "no data file was
    // written by a delete" — mirror of Ingest.deleteStoreKeysMor
    "i20_mor_delete" ->
      """WITH live AS (
        |  SELECT doc_id FROM documents
        |  WHERE NOT (doc_id % 7 = 0 OR doc_id % 11 = 0))
        |SELECT (SELECT count(*) FROM documents) AS n_base,
        |       (SELECT count(*) FROM live) AS n_live,
        |       (SELECT CAST(sum(doc_id) AS BIGINT) FROM live)
        |         AS sum_ids_live,
        |       CAST(0 AS BIGINT) AS mor_data_files,
        |       (SELECT count(*) FROM live) AS n_compacted,
        |       (SELECT CAST(sum(doc_id) AS BIGINT) FROM live)
        |         AS sum_ids_compacted""".stripMargin,
    "i19_frame_sample" ->
      """WITH a AS (
        |  SELECT doc_id,
        |         CAST((doc_id * 7) % 300 + 1 AS BIGINT) AS n_frames
        |  FROM documents WHERE doc_id < 60 AND doc_id % 4 = 3),
        |s AS (SELECT doc_id, n_frames,
        |             greatest(1, (n_frames + 7) // 8) AS stride FROM a)
        |SELECT doc_id, n_frames,
        |       CAST(unnest(range(0, n_frames, stride)) AS BIGINT)
        |         AS frame_ix
        |FROM s ORDER BY doc_id, frame_ix""".stripMargin,
    "i18_schema_evolution" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
        |              ELSE text END AS text,
        |         lang
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, text, lang FROM documents
        |  WHERE doc_id % 31 = 0),
        |diff AS (
        |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |         CASE WHEN a.doc_id IS NULL THEN 'insert'
        |              WHEN b.doc_id IS NULL THEN 'delete'
        |              WHEN md5(a.text) <> md5(b.text) THEN 'update'
        |              ELSE 'unchanged' END AS change_type
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT 'v1' AS snapshot, count(*) AS n_docs,
        |       CAST(2 AS BIGINT) AS n_cols,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |       CAST(0 AS BIGINT) AS n_langs
        |FROM v1
        |UNION ALL
        |SELECT 'v2', count(*), CAST(3 AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT),
        |       CAST(count(DISTINCT lang) AS BIGINT)
        |FROM v2
        |UNION ALL
        |SELECT 'diff_' || change_type, count(*), CAST(0 AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT), CAST(0 AS BIGINT)
        |FROM diff GROUP BY change_type
        |ORDER BY snapshot""".stripMargin,
    "i17_zorder_store" ->
      """WITH mm AS (
        |  SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
        |         min(l_suppkey) AS smin, max(l_suppkey) AS smax
        |  FROM lineitem),
        |sc AS (
        |  SELECT
        |    CASE WHEN pmax = pmin THEN 0
        |         ELSE ((l_partkey - pmin) * 65535) // (pmax - pmin)
        |    END AS x,
        |    CASE WHEN smax = smin THEN 0
        |         ELSE ((l_suppkey - smin) * 65535) // (smax - smin)
        |    END AS y
        |  FROM lineitem, mm),
        |zz AS (
        |  SELECT x, y,
        |    CAST(list_sum(list_transform(range(0, 16), b ->
        |      ((x >> b) & 1) * CAST(2 ** (2 * b) AS BIGINT)
        |      + ((y >> b) & 1) * CAST(2 ** (2 * b + 1) AS BIGINT)))
        |      AS BIGINT) AS z
        |  FROM sc)
        |SELECT z >> 28 AS zb, CAST(1 AS BIGINT) AS n_files,
        |       count(*) AS n_rows,
        |       min(x) AS min_x, max(x) AS max_x,
        |       min(y) AS min_y, max(y) AS max_y,
        |       CAST(CASE WHEN min(x) <= 13107 AND max(x) >= 6554
        |                  AND min(y) <= 32768 AND max(y) >= 16384
        |            THEN 1 ELSE 0 END AS BIGINT) AS touched
        |FROM zz GROUP BY 1 ORDER BY 1""".stripMargin,
    "i15_zorder_layout" ->
      """WITH mm AS (
        |  SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
        |         min(l_suppkey) AS smin, max(l_suppkey) AS smax,
        |         min(l_orderkey) AS omin, max(l_orderkey) AS omax
        |  FROM lineitem),
        |sc AS (
        |  SELECT
        |    CASE WHEN pmax = pmin THEN 0
        |         ELSE ((l_partkey - pmin) * 65535) // (pmax - pmin)
        |    END AS x,
        |    CASE WHEN smax = smin THEN 0
        |         ELSE ((l_suppkey - smin) * 65535) // (smax - smin)
        |    END AS y,
        |    CASE WHEN omax = omin THEN 0
        |         ELSE ((l_orderkey - omin) * 65535) // (omax - omin)
        |    END AS o
        |  FROM lineitem, mm),
        |zz AS (
        |  SELECT x, y, o,
        |    CAST(list_sum(list_transform(range(0, 16), b ->
        |      ((x >> b) & 1) * CAST(2 ** (2 * b) AS BIGINT)
        |      + ((y >> b) & 1) * CAST(2 ** (2 * b + 1) AS BIGINT)))
        |      AS BIGINT) AS z
        |  FROM sc),
        |st AS (
        |  SELECT layout, bucket, count(*) AS cnt,
        |         min(x) AS min_x, max(x) AS max_x,
        |         min(y) AS min_y, max(y) AS max_y
        |  FROM (
        |    SELECT '1_natural' AS layout, o >> 8 AS bucket, x, y FROM zz
        |    UNION ALL
        |    SELECT '2_sort_x', x >> 8, x, y FROM zz
        |    UNION ALL
        |    SELECT '3_zorder', z >> 24, x, y FROM zz)
        |  GROUP BY layout, bucket),
        |agg AS (
        |  SELECT layout, count(*) AS n_buckets,
        |    CAST(sum(CASE WHEN min_x <= 13107 AND max_x >= 6554
        |                   AND min_y <= 32768 AND max_y >= 16384
        |             THEN 1 ELSE 0 END) AS BIGINT) AS buckets_touched,
        |    CAST(sum(CASE WHEN min_x <= 13107 AND max_x >= 6554
        |                   AND min_y <= 32768 AND max_y >= 16384
        |             THEN cnt ELSE 0 END) AS BIGINT) AS rows_scanned
        |  FROM st GROUP BY layout),
        |m AS (SELECT count(*) AS rows_matched FROM zz
        |      WHERE x BETWEEN 6554 AND 13107
        |        AND y BETWEEN 16384 AND 32768)
        |SELECT layout, n_buckets, buckets_touched, rows_scanned,
        |       rows_matched
        |FROM agg, m ORDER BY layout""".stripMargin,
    // both store versions rebuilt from the source table and diffed in
    // SQL — the Spark side must classify every key off the committed
    // snapshots identically
    "i16_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
        |              ELSE text END AS text
        |       FROM documents WHERE doc_id % 97 <> 0
        |       UNION ALL
        |       SELECT doc_id + 1000000, text FROM documents
        |       WHERE doc_id % 31 = 0),
        |d AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS id,
        |             CASE WHEN v1.doc_id IS NULL THEN 'insert'
        |                  WHEN v2.doc_id IS NULL THEN 'delete'
        |                  WHEN md5(v1.text) IS DISTINCT FROM md5(v2.text)
        |                  THEN 'update'
        |                  ELSE 'unchanged' END AS change_type
        |      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT change_type, count(*) AS n_rows,
        |       CAST(sum(id) AS BIGINT) AS sum_ids
        |FROM d GROUP BY change_type ORDER BY change_type""".stripMargin,
    // the snapshot store's two commits, recomputed from the source
    // table: 'old' = first 60% of ids, 'live' = everything — a commit
    // protocol that dropped/duplicated/mis-ordered a snapshot flips
    // these aggregates
    "i14_snapshot_history" ->
      """WITH cut AS (SELECT max(doc_id) * 6 // 10 AS c FROM documents),
        |o AS (SELECT 'old' AS snapshot, count(*) AS n_docs,
        |             CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |             count(DISTINCT md5(text)) AS n_texts
        |      FROM documents, cut WHERE doc_id <= c),
        |l AS (SELECT 'live' AS snapshot, count(*) AS n_docs,
        |             CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |             count(DISTINCT md5(text)) AS n_texts
        |      FROM documents)
        |SELECT * FROM l UNION ALL SELECT * FROM o
        |ORDER BY snapshot""".stripMargin,
    // the tag resolves to exactly the 60% commit even after vacuum;
    // live is the full corpus — both recomputed from the source table
    "i25_tagged_snapshot" ->
      """WITH cut AS (SELECT max(doc_id) * 6 // 10 AS c FROM documents),
        |o AS (SELECT 'train-v1' AS ref, count(*) AS n_docs,
        |             CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |             count(DISTINCT md5(text)) AS n_texts
        |      FROM documents, cut WHERE doc_id <= c),
        |l AS (SELECT 'live' AS ref, count(*) AS n_docs,
        |             CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |             count(DISTINCT md5(text)) AS n_texts
        |      FROM documents)
        |SELECT * FROM l UNION ALL SELECT * FROM o
        |ORDER BY ref""".stripMargin,
    // the maintenance pass must be lossless: aggregate of the ORIGINALS
    "i13_compact_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // what every synthesized container header must parse back to
    // (fixed container sizes + the id-derived dims; t11's convention)
    "i12_binary_media" ->
      """SELECT doc_id,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 33 WHEN 1 THEN 35
        |       WHEN 2 THEN 44 ELSE 88 END AS BIGINT) AS byte_len,
        |  CAST(CASE doc_id % 4
        |       WHEN 0 THEN (doc_id * 37) % 1280 + 1
        |       WHEN 1 THEN (doc_id * 11) % 640 + 1
        |       WHEN 2 THEN 8000 + 1000 * (doc_id % 5)
        |       ELSE (doc_id * 17) % 1920 + 1 END AS INT) AS width,
        |  CAST(CASE doc_id % 4
        |       WHEN 0 THEN (doc_id * 53) % 720 + 1
        |       WHEN 1 THEN (doc_id * 13) % 480 + 1
        |       WHEN 2 THEN doc_id % 2 + 1
        |       ELSE (doc_id * 19) % 1080 + 1 END AS INT) AS height,
        |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |       WHEN 2 THEN 'wav' ELSE 'avi' END AS format
        |FROM documents WHERE doc_id < 60 ORDER BY doc_id""".stripMargin,
    "i11_bucketed_join" ->
      """SELECT label, count(*) AS n,
        |       CAST(sum(d.doc_id) AS BIGINT) AS sum_ids,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY label ORDER BY label""".stripMargin,
    "i09_merge_schema" ->
      """SELECT lang, count(*) AS n,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END)
        |            AS BIGINT) AS sum_chars_odd,
        |       CAST(count(CASE WHEN doc_id % 2 = 1 THEN n_chars END)
        |            AS BIGINT) AS n_with_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "i08_partitioned_store" ->
      """SELECT count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en'""".stripMargin,
    "i07_xml_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sum_acctbal,
        |       CAST(sum(c_custkey) AS BIGINT) AS sum_keys
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "i06_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sum_price,
        |       CAST(sum(l_orderkey) AS BIGINT) AS sum_keys
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "i05_json_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |       round(sum(value), 4) AS sum_value,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |            AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "i04_csv_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "i01_hash_embed" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($wsLower) AS w FROM documents),
         |b AS (
         |  SELECT doc_id, ${hash60("w")} % $Dim AS bucket,
         |         CASE WHEN ${hash60("concat('sign:', w)")} % 2 = 1
         |              THEN 1.0 ELSE -1.0 END AS sgn
         |  FROM tok),
         |s AS (SELECT doc_id, bucket, sum(sgn) AS v
         |      FROM b GROUP BY doc_id, bucket),
         |n AS (SELECT doc_id, sqrt(sum(v * v)) AS norm
         |      FROM s GROUP BY doc_id)
         |SELECT s.doc_id, CAST(bucket AS INT) AS bucket,
         |       round(v / norm, 6) AS val
         |FROM s JOIN n ON s.doc_id = n.doc_id
         |WHERE v <> 0
         |ORDER BY s.doc_id, bucket""".stripMargin,
    "i02_dedup_ingest" ->
      s"""WITH batch AS ($batchSql)
         |SELECT count(*) AS n_new, CAST(sum(keeper) AS BIGINT) AS sum_batch_ids
         |FROM (
         |  SELECT min(doc_id) AS keeper FROM batch
         |  WHERE text NOT IN (SELECT text FROM documents)
         |  GROUP BY text)""".stripMargin,
    // the i03 oracle verbatim — THE parity statement: the distributed
    // assignment must produce the identical full id mapping
    "i10_assign_ids_dist" -> assignIdsOracle,
    "i03_assign_ids" -> assignIdsOracle)
}

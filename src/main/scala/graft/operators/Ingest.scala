package graft.operators

import graft.functions.HashFunctions.md5Long
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/** The reference's ingest pipeline (reference server.js:161-215):
  * read docs → chunk → embed → dedupe on content (INSERT OR IGNORE,
  * server.js:198) → assign sequential ids (SQLite AUTOINCREMENT,
  * server.js:28) → append to the store; plus the startup index build
  * (synchronizeFAISS, server.js:65-94).
  *
  * Chunking/embedding are narrow; dedupe is one anti-join against the
  * store keyed on content hash (join on the 60-bit md5 key, not the full
  * text — the shuffle moves 8-byte keys, not documents); the only
  * serialization point is contiguous-id assignment, a documented
  * AUTOINCREMENT-parity constraint (SURVEY.md §7.4) implemented as
  * row_number + max-existing-id. Drop it (use md5 keys as ids) and
  * ingest is embarrassingly parallel.
  */
object Ingest {

  /** Deterministic hash embedder — the zero-egress stand-in for the
    * reference's OpenAI embedding call (reference embed.js:135-151):
    * token → md5 bucket, signed by one hash bit, accumulated and
    * L2-normalized. Order-insensitive (bag of words), dimension
    * configurable (the reference pins 1536; fixtures use 64).
    */
  def hashEmbedRaw(df: DataFrame, textCol: String, dim: Int): DataFrame =
    df.withColumn("embedding", Bridge.column(
      graft.expressions.HashEmbed(Bridge.expression(col(textCol)), dim)))

  /** Float32 variant — the reference's storage type (server.js:194). */
  def hashEmbed(df: DataFrame, textCol: String, dim: Int): DataFrame =
    hashEmbedRaw(df, textCol, dim)
      .withColumn("embedding", transform(col("embedding"), _.cast("float")))

  /** Dedup-ingest: keep only batch rows whose content is new w.r.t. the
    * store AND unique within the batch (first occurrence wins), then
    * assign ids continuing after the store's max id.
    */
  def dedupIngest(batch: DataFrame, store: DataFrame,
                  contentCol: String, idCol: String): DataFrame =
    dedupIngestKeyed(batch,
      store.select(md5Long(col(contentCol)).as("content_key")).distinct(),
      contentCol, idCol)

  /** [[dedupIngest]] against PRECOMPUTED store keys: when the store
    * persists its `content_key` column (as [[graft.streaming.Streaming
    * .upsertToStore]] does), the anti-join reads an 8-byte key column
    * instead of re-hashing the full text of the corpus on every call.
    */
  def dedupIngestKeyed(batch: DataFrame, storeKeys: DataFrame,
                       contentCol: String, idCol: String): DataFrame = {
    val keyed = batch.withColumn("content_key", md5Long(col(contentCol)))
    val novel = keyed
      .join(storeKeys.select("content_key").distinct(),
        Seq("content_key"), "left_anti")
      .groupBy("content_key")
      // keeper = the smallest-id row per content (deterministic even when
      // the same text enters a batch under several ids)
      .agg(min_by(struct(batch.columns.map(col): _*), col(idCol))
        .as("row"))
      .select((batch.columns.map(c => col(s"row.$c").as(c))
        :+ col("content_key")): _*)
    novel
  }

  /** Assign contiguous ids after the store's max id (0 for an empty
    * store), ordered by content for determinism. The global window is
    * the one intentional serialization point (AUTOINCREMENT parity).
    * The max id arrives as a broadcast 1-row aggregate instead of a
    * driver-side `.head()` fetch, so the whole ingest (chunk → embed →
    * anti-join → assign → write) stays ONE Spark job instead of
    * splitting at a driver sync.
    */
  def assignIdsAfter(novel: DataFrame, contentCol: String,
                     store: DataFrame, storeIdCol: String): DataFrame = {
    val maxFrame = store
      .agg(coalesce(max(col(storeIdCol)), lit(0L)).as("_max_existing"))
    novel.crossJoin(broadcast(maxFrame))
      .withColumn("doc_id",
        // boundedGlobalWindow: a deliberate single-partition ranking, not
        // an accidental unpartitioned window (a plain lit(0) partition
        // no longer works — Spark 4's EliminateWindowPartitions strips
        // foldable keys and the warning returns; the non-foldable
        // constant survives the optimizer)
        row_number().over(
          Search.boundedGlobalWindow(length(col(contentCol)))
            .orderBy(col(contentCol))) + col("_max_existing"))
      .drop("_max_existing")
  }

  /** Distributed id assignment — the scale path the AUTOINCREMENT-parity
    * [[assignIdsAfter]] window trades away. Same contract (ids dense and
    * contiguous after the store max, ordered by `contentCol`), but no
    * single task ever sees the whole batch:
    *
    *   1. range-repartition by content, so partition p holds a
    *      contiguous slice of the content ordering (LOCAL-CHECKPOINTED,
    *      not merely persisted: both the counts job and every later
    *      caller action must observe the ONE materialized layout —
    *      a dropped cache (`clearCache` hygiene) would let the final
    *      action re-sample fresh range boundaries against the already-
    *      collected offsets and silently duplicate ids; checkpointing
    *      truncates the lineage so re-planning is impossible);
    *   2. count rows per partition and collect the counts — a
    *      partition-count-sized driver aggregate (the same KB-scale
    *      traffic Pq training accepts), folded into exclusive prefix
    *      offsets;
    *   3. doc_id = per-partition row_number (window partitioned by the
    *      REAL partition id — never a single-partition window) + the
    *      partition's offset + the store max.
    *
    * `contentCol` values must be unique — they are post-dedup, where
    * content IS the dedup key. Range-partitioner sampling means the
    * partition boundaries can vary run to run; the final mapping cannot,
    * because it is a pure function of the global content ordering.
    */
  def assignIdsDistributed(novel: DataFrame, contentCol: String,
                           store: DataFrame, storeIdCol: String)
      : DataFrame = {
    val spark = novel.sparkSession
    val maxExisting = store
      .agg(coalesce(max(col(storeIdCol)), lit(0L))).head().getLong(0)
    val parted = novel
      .repartitionByRange(spark.sparkContext.defaultParallelism,
        col(contentCol))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint() // eager: pins the layout (see scaladoc step 1)
    val counts = parted.groupBy("_pid").agg(count(lit(1)).as("_n"))
      .orderBy("_pid").collect()
    var acc = 0L
    val offsets = counts.map { r =>
      val row = (r.getInt(0), acc); acc += r.getLong(1); row
    }.toSeq
    import spark.implicits._
    val offDf = offsets.toDF("_pid", "_off")
    parted
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("_pid")).orderBy(col(contentCol))))
      .join(broadcast(offDf), Seq("_pid"))
      .withColumn("doc_id", col("_rn") + col("_off") + lit(maxExisting))
      .drop("_pid", "_rn", "_off")
  }

  /** Index build = columnar store scan of (id, vector) + cache — the
    * Spark analog of synchronizeFAISS (reference server.js:65-94).
    */
  def buildIndex(store: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val index = store.select(col(idCol), col(vecCol)).persist()
    index.count() // materialize, like the startup sync
    index
  }

  def writeStore(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).option("compression", "zstd")
      .parquet(path)

  /** Exclusive WRITER lock for a plain-parquet store — the stated
    * single-writer contract, enforced. The reference's SQLite gives
    * per-row atomic INSERT OR IGNORE for free; plain parquet does not:
    * two concurrent dedup-ingests could both pass the anti-join and
    * both append the same content, and a delete's dir swap could race
    * an append. So every mutation runs inside `withStoreLock`: a lock
    * file is created NEXT to the store (`<path>.lock`) with
    * overwrite=false — atomic on HDFS; a narrow check-then-act window
    * on the local FS; object stores without atomic create need a real
    * table format's commit protocol instead (the documented deployment
    * boundary) — and a second concurrent writer FAILS LOUDLY instead of
    * silently duplicating.
    *
    * The lock holds the writer's JVM name for diagnosis and is removed
    * in `finally`; a crashed writer leaves it behind deliberately
    * (better a stuck-but-correct store than a corrupt one) — the error
    * message says what to delete after verifying the writer is gone.
    */
  def withStoreLock[T](spark: SparkSession, path: String)(body: => T): T = {
    val lockPath = new org.apache.hadoop.fs.Path(path + ".lock")
    val fs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def locked(cause: Throwable): Nothing =
      throw new IllegalStateException(
        s"store $path is locked by another writer ($lockPath exists); " +
          "the plain-parquet store is single-writer. If the previous " +
          "writer crashed, verify it is gone and delete the lock file.",
        cause)
    val writerTag = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getName.getBytes("UTF-8")
    // keyed on the SCHEME, not the concrete class: RawLocalFileSystem
    // (fs.file.impl overrides, getRawFileSystem handles) is not a
    // LocalFileSystem but is the same local disk — two same-host
    // writers through different wrappers must still take the one
    // genuinely-atomic O_EXCL path
    val scheme = Option(lockPath.toUri.getScheme).getOrElse(fs.getScheme)
    if (scheme == "file") {
      // Hadoop's local create(overwrite=false) is CHECK-then-act — two
      // same-host writers can both pass it (observed in the EngineSpec
      // race test as a _temporary staging collision). O_EXCL via nio is
      // genuinely atomic on a local filesystem. The nio path derives
      // from the QUALIFIED Hadoop path's URI, not the raw string: a
      // caller passing a URI-form root ("file:///tmp/store") would
      // otherwise produce File("file:/tmp/store.lock") — a CWD-relative
      // path, locking the wrong location.
      val nioLock = java.nio.file.Paths
        .get(fs.makeQualified(lockPath).toUri.getPath)
      try java.nio.file.Files.write(nioLock, writerTag,
        java.nio.file.StandardOpenOption.CREATE_NEW)
      catch {
        case e: java.nio.file.FileAlreadyExistsException => locked(e)
      }
      try body
      finally java.nio.file.Files.deleteIfExists(nioLock): Unit
    } else {
      // HDFS: create(overwrite=false) IS atomic. Object stores without
      // atomic create need a table-format commit protocol instead (the
      // documented deployment boundary).
      val out =
        try fs.create(lockPath, false)
        catch {
          // only an actually-present lock is "another writer" — a
          // permission/quota/transient-FS failure must surface as
          // itself, not as advice to delete a missing lock file
          case e: java.io.IOException =>
            val lockExists =
              try fs.exists(lockPath)
              catch { case _: java.io.IOException => false }
            if (lockExists) locked(e) else throw e
        }
      try {
        out.write(writerTag)
        out.close()
        body
      } finally fs.delete(lockPath, false): Unit
    }
  }

  /** Store partitioned on low-cardinality columns (e.g. source, lang) —
    * per-partition reads become directory pruning, not data scans.
    */
  def writeStorePartitioned(df: DataFrame, path: String,
                            partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Append).option("compression", "zstd")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Compact a streaming-append store: every [[writeStore]] append and
    * every `foreachBatch` upsert adds files, and a store fed by
    * micro-batches degenerates into thousands of KB-sized files whose
    * open/footer overhead eventually dominates scans (the classic
    * small-file problem). Rewrites the store into `numFiles` balanced
    * files via round-robin repartition, then swaps directories.
    *
    * The swap (write temp → delete old → rename) is NOT transactional
    * for READERS (production deployments layer a table format with
    * commit protocols on top); concurrent WRITERS are excluded by
    * [[withStoreLock]], like every other store mutation.
    */
  def compactStore(spark: SparkSession, path: String,
                   numFiles: Int): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    withStoreLock(spark, path) {
      val tmp = path + ".compact.tmp"
      // LAYOUT-PRESERVING: a store written via writeStorePartitioned
      // must come out of compaction still hive-partitioned — a plain
      // repartition+write would keep the partition columns as data but
      // flatten the directory layout, silently destroying partition
      // pruning for every later reader. Detect the layout from the
      // directory tree and rewrite with the same partitionBy.
      // (Bucketed stores are saveAsTable territory — writeStoreBucketed
      // owns their lifecycle; this path is for directory stores.)
      val partCols = detectPartitionCols(spark, path)
      val df = spark.read.parquet(path)
      val writer =
        (if (partCols.isEmpty) df.repartition(numFiles)
         // keyed repartition: each partition value lands in one task,
         // so each directory gets one compacted file (≤ numFiles tasks)
         else df.repartition(numFiles, partCols.map(col): _*))
          .write.mode(SaveMode.Overwrite).option("compression", "zstd")
      (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*))
        .parquet(tmp)
      replaceStoreDir(spark, tmp, path)
    }
  }

  /** Hive partition columns of a directory store, read off the
    * directory tree (`k=v` levels under the root). Returns Nil for a
    * flat store. Hidden/metadata entries (`_SUCCESS`, `.…`) are
    * skipped at each level.
    */
  def detectPartitionCols(spark: SparkSession, path: String)
      : Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cols = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = new org.apache.hadoop.fs.Path(path)
    var descend = true
    while (descend) {
      descend = false
      val children = fs.listStatus(cur)
        .filterNot { st =>
          val n = st.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
      val dirCols = children.filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.contains("="))
        .map(_.split("=", 2)(0))
        .distinct
      // one consistent `k=v` level → k is a partition column; recurse
      // into any child (levels are uniform in a hive layout)
      if (dirCols.length == 1 &&
          children.forall(c => c.isDirectory &&
            c.getPath.getName.contains("="))) {
        cols += dirCols.head
        cur = children.head.getPath
        descend = true
      }
    }
    cols.toSeq
  }

  /** The write-temp → delete-old → rename swap shared by
    * [[compactStore]] and [[graft.Engine.deleteDocuments]]. NOT
    * transactional — callers own writer exclusion (see compactStore
    * doc).
    */
  def replaceStoreDir(spark: SparkSession, tmp: String,
                      path: String): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(hPath, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), hPath))
      throw new java.io.IOException(
        s"replaceStoreDir: rename $tmp -> $path failed; data remains at $tmp")
  }

  /** Store BUCKETED on the join key (catalog table at `path`): two
    * tables bucketed the same way join WITHOUT any exchange — the
    * pre-shuffle is paid once at write time, then every doc↔embedding /
    * store↔batch join is co-located. At 100 TB this converts the
    * biggest recurring shuffle of the pipeline into a bucket-local
    * sort-merge; BucketedStoreSpec asserts the exchange-free plan.
    */
  def writeStoreBucketed(df: DataFrame, table: String, path: String,
                         bucketCol: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .format("parquet").option("path", path)
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)

  /** The plain-parquet store at `path` resolved now, or `None` when it
    * is empty. "Path does not exist" and "directory exists but holds
    * no data files" (made ahead of time, or left by a crashed first
    * write) both mean an empty store — neither has readable rows, so
    * restarting doc_id assignment, or deduplicating against nothing, is
    * safe. Any OTHER failure (corrupt or partial files, permissions)
    * must propagate — treating a real-but-unreadable store as empty
    * would restart doc_id assignment at 0 and append duplicate ids once
    * it becomes readable.
    *
    * Given the store's `schema` (as `Engine` gives its own), no
    * schema-inference job runs and a directory without data files shows
    * as an empty listing. Without it (as `Streaming` reads), inference
    * throws UNABLE_TO_INFER_SCHEMA on such a directory instead.
    */
  def readStore(spark: SparkSession, path: String,
                schema: Option[StructType] = None): Option[DataFrame] =
    try Some(schema.fold(spark.read)(spark.read.schema).parquet(path))
      .filter(df => schema.isEmpty || df.inputFiles.nonEmpty)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" => None
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        // evaluate the FS listing outside the pattern guard: a listing
        // failure (store deleted between Spark's inference attempt and
        // this probe, transient FS error) must not REPLACE the original
        // AnalysisException — attach it as suppressed so the root cause
        // survives the rethrow
        val onlyMeta =
          try holdsOnlyMetadataFiles(spark, path)
          catch {
            case scala.util.control.NonFatal(t) => t.addSuppressed(e); throw t
          }
        if (onlyMeta) None else throw e
    }

  /** Hadoop-FS listing (works for HDFS/S3/local alike, unlike
    * java.io.File which would return null off the local FS and silently
    * classify a real-but-unreadable store as empty). A listing failure
    * propagates — same rationale as the schema-inference guard above.
    */
  private def holdsOnlyMetadataFiles(spark: SparkSession,
                                     path: String): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(path)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir).forall { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
  }

  /** Store Z-ORDERED on two columns — `OPTIMIZE ZORDER BY (x, y)` as a
    * writer, completing [[graft.operators.Layout]]'s scorecard (i15
    * MEASURES what a z-layout would skip; this writer APPLIES it).
    * Rows are scaled to 16-bit coords, Morton-interleaved, and routed
    * to a `zb=<prefix>` hive partition directory — `repartition(zb)`
    * puts each bucket in exactly one task, so each directory holds
    * EXACTLY ONE FILE whose min/max footer statistics cover one small
    * box of the (x, y) space. The bucket id is the exact integer
    * prefix of the z value (no RangePartitioner sampling), so the
    * file ↔ row mapping is bit-reproducible and a SQL oracle can
    * replay per-FILE statistics from the raw table — physical layout
    * inside the hash gate, not asserted.
    *
    * Readers prune two ways: a z-prefix range predicate on `zb` is
    * PARTITION pruning (directories never listed — PlanSpec asserts
    * it), and x/y predicates hit tight per-file min/max stats. At
    * deployment scale, swap the fixed-prefix bucket for
    * `repartitionByRange(n, z).sortWithinPartitions(z)` — better
    * balance under skew, same skipping power, at the price of
    * sampled (engine-dependent) file boundaries.
    */
  def writeStoreZOrdered(df: DataFrame, path: String,
                         xCol: String, yCol: String,
                         bucketBits: Int = 4): Unit = {
    require(bucketBits >= 1 && bucketBits <= 16,
      s"bucketBits=$bucketBits outside [1,16]")
    val mm = df.agg(
      min(col(xCol)).as("_xmin"), max(col(xCol)).as("_xmax"),
      min(col(yCol)).as("_ymin"), max(col(yCol)).as("_ymax"))
    val z = Layout.morton16(
      Layout.scale16(col(xCol), col("_xmin"), col("_xmax")),
      Layout.scale16(col(yCol), col("_ymin"), col("_ymax")))
    df.crossJoin(broadcast(mm))
      .withColumn("zb", shiftright(z, 32 - bucketBits))
      .drop("_xmin", "_xmax", "_ymin", "_ymax")
      .repartition(col("zb"))
      .sortWithinPartitions("zb")
      .write.mode(SaveMode.Overwrite).option("compression", "zstd")
      // the one-file-per-bucket contract (oracle-pinned n_files=1)
      // must not depend on ambient session config: a session-level
      // spark.sql.files.maxRecordsPerFile would split buckets
      .option("maxRecordsPerFile", 0)
      .partitionBy("zb")
      .parquet(path)
  }

  // --------------------------------------------------------------------
  // Manifest-committed store: the minimal table-format commit protocol.
  //
  // The plain store above swaps directories in place (replaceStoreDir),
  // which is safe for WRITERS (withStoreLock) but not for concurrent
  // READERS — a scan started before a compaction can hit deleted files.
  // The manifested variant never mutates data in place: each commit
  // writes a fresh snapshot directory under the store root and then
  // atomically replaces ONE small pointer file (`manifest`) naming the
  // live snapshot. Readers resolve the root through the manifest once
  // and then read an immutable directory — a reader that resolved
  // before a commit finishes its scan on the old snapshot, consistent
  // to the end. Old snapshots are reclaimed by [[vacuumStore]] once no
  // reader can still hold them (retention is the deployment's call).
  //
  // Atomicity boundary, stated precisely: the data files themselves
  // are immutable, so the ONLY operation that needs atomicity is the
  // pointer swap — nio ATOMIC_MOVE on local disks, FileContext rename
  // with OVERWRITE on HDFS. An S3-class object store needs exactly
  // this one atomic-rename primitive (or a conditional PUT) — the
  // documented deployment boundary, shrunk from "the whole store" to
  // "one rename".
  // --------------------------------------------------------------------

  private val ManifestName = "manifest"

  private def manifestPath(root: String) =
    new org.apache.hadoop.fs.Path(root, ManifestName)

  /** The manifested store's atomicity boundary, lifted to ONE method:
    * a compare-and-swap publish of the pointer file. `publish` must
    * install `next` as the content of `dest` iff the current content
    * equals `expected` (None = dest must not exist yet), atomically
    * for readers (old value or new, never a torn mixture), and return
    * false when another writer got there first — the caller decides
    * whether to retry or surface the conflict.
    *
    * Implementations:
    *  - [[AtomicRenameCommit]] (default): local/HDFS — tmp file +
    *    ATOMIC_MOVE / FileContext.rename(OVERWRITE). The CAS read is
    *    non-atomic on its own; the store writer lock
    *    ([[withStoreLock]], which [[commitStoreSnapshot]] always
    *    holds) makes read+rename effectively atomic.
    *  - [[ConditionalPutCommit]]: the S3-class object-store protocol —
    *    one conditional PUT (`If-Match: <etag observed for expected>`,
    *    `If-None-Match: *` when None), NO lock needed — the PUT's
    *    precondition is the linearization point, and a 412 response
    *    maps to `false`. Exercised end-to-end against
    *    [[FileBackedConditionalStore]] (the local If-Match mock); a
    *    real deployment swaps in an S3 client behind
    *    [[ConditionalStore]]'s two methods. Snapshot data files are
    *    immutable either way.
    */
  trait CommitProtocol extends Serializable {
    def publish(spark: SparkSession, dest: org.apache.hadoop.fs.Path,
                expected: Option[String], next: String): Boolean
  }

  /** Read a pointer file's content, None if absent. */
  private def readPointer(fs: org.apache.hadoop.fs.FileSystem,
                          dest: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(dest)) None
    else {
      val in = fs.open(dest)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }

  /** The local/HDFS [[CommitProtocol]]: today's tmp + atomic-rename,
    * with the CAS check made explicit. */
  object AtomicRenameCommit extends CommitProtocol {
    override def publish(spark: SparkSession,
                         dest: org.apache.hadoop.fs.Path,
                         expected: Option[String], next: String): Boolean = {
      val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (readPointer(fs, dest) != expected) return false // lost the race
      val tmp = new org.apache.hadoop.fs.Path(dest.getParent,
        s".${dest.getName}.tmp")
      val out = fs.create(tmp, true)
      out.write(next.getBytes("UTF-8"))
      out.close()
      val scheme = Option(dest.toUri.getScheme).getOrElse(fs.getScheme)
      if (scheme == "file") {
        // nio paths via the qualified Hadoop URIs (withStoreLock's
        // convention): File("file:/...") from a URI-form root would
        // resolve CWD-relative and move the wrong file
        java.nio.file.Files.move(
          java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath),
          java.nio.file.Paths.get(fs.makeQualified(dest).toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      } else {
        // HDFS: FileContext.rename(OVERWRITE) is the atomic-replace
        // primitive (FileSystem.rename refuses existing destinations)
        org.apache.hadoop.fs.FileContext
          .getFileContext(dest.toUri,
            spark.sparkContext.hadoopConfiguration)
          .rename(tmp, dest,
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }
      true
    }
  }

  /** The minimal conditional-write object-store surface the commit
    * needs — the subset of the S3 conditional-request API (public:
    * `If-Match` / `If-None-Match: *` preconditions on PUT, RFC 7232
    * semantics): `get` returns the current (etag, bytes); `put`
    * succeeds iff the precondition still holds, atomically. A real S3
    * client maps these 1:1 onto GetObject / PutObject-with-
    * precondition; [[FileBackedConditionalStore]] is the local mock.
    */
  trait ConditionalStore extends Serializable {
    def get(key: String): Option[(String, Array[Byte])]

    /** `ifMatch = Some(etag)` → `If-Match: etag`;
      * `None` → `If-None-Match: *` (create-only). Returns false on the
      * 412 Precondition Failed case. */
    def put(key: String, bytes: Array[Byte],
            ifMatch: Option[String]): Boolean
  }

  /** The S3-class [[CommitProtocol]]: ONE conditional PUT is the
    * linearization point — no lock, no rename. The pointer is read
    * back through the store (etag witnessed), compared against the
    * commit's expected snapshot, and the new pointer PUT with that
    * etag as its `If-Match` precondition (`If-None-Match: *` for the
    * first commit). Any interleaved writer changes the etag and the
    * PUT fails as a 412 → `false` → the caller's lost-race path; the
    * orphaned snapshot directory is reclaimed by vacuum, exactly as
    * with [[AtomicRenameCommit]]. The protocol needs no store writer
    * lock of its own, but running under [[withStoreLock]] (as
    * [[commitStoreSnapshot]] always does) is harmless.
    */
  class ConditionalPutCommit(store: ConditionalStore)
      extends CommitProtocol {
    override def publish(spark: SparkSession,
                         dest: org.apache.hadoop.fs.Path,
                         expected: Option[String],
                         next: String): Boolean = {
      val key = dest.toString
      val cur = store.get(key)
      if (cur.map(c => new String(c._2, "UTF-8").trim) != expected)
        return false // already superseded — don't even attempt the PUT
      store.put(key, next.getBytes("UTF-8"), cur.map(_._1))
    }
  }

  /** Local mock of a conditional-PUT object store over the REAL
    * manifest file — so every reader (currentSnapshotDir, morResolve,
    * time travel) keeps working unchanged while the COMMIT path runs
    * the S3 semantics end-to-end. ETag = md5 of the bytes (what S3
    * returns for simple puts); the precondition check + write is
    * atomic within this JVM across ALL store instances (the monitor is
    * a JVM-global per-key lock, not `this` — two instances over the
    * same manifest contend on the same monitor, so a racing pair gets
    * exactly one success + one 412, standing in for the server-side
    * atomicity a real object store provides) and the file lands via
    * tmp + atomic rename so readers never see a torn write.
    */
  object FileBackedConditionalStore {
    // one monitor per normalized path, JVM-wide: CAS atomicity is a
    // property of the KEY, not of whichever store instance touches it
    private val keyLocks =
      new java.util.concurrent.ConcurrentHashMap[String, Object]()
    private[Ingest] def lockFor(p: java.nio.file.Path): Object =
      keyLocks.computeIfAbsent(
        p.toAbsolutePath.normalize.toString, _ => new Object)
  }

  class FileBackedConditionalStore extends ConditionalStore {
    private def md5(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map(x => f"${x & 0xff}%02x").mkString

    private def nioPath(key: String): java.nio.file.Path = {
      val uri = new java.net.URI(key)
      if (uri.getScheme == null) java.nio.file.Paths.get(key)
      else java.nio.file.Paths.get(uri.getPath)
    }

    override def get(key: String): Option[(String, Array[Byte])] = {
      val p = nioPath(key)
      if (!java.nio.file.Files.exists(p)) None
      else {
        val b = java.nio.file.Files.readAllBytes(p)
        Some((md5(b), b))
      }
    }

    override def put(key: String, bytes: Array[Byte],
                     ifMatch: Option[String]): Boolean = {
      val p = nioPath(key)
      FileBackedConditionalStore.lockFor(p).synchronized {
        val current =
          if (java.nio.file.Files.exists(p))
            Some(md5(java.nio.file.Files.readAllBytes(p)))
          else None
        val ok = ifMatch match {
          case Some(etag) => current.contains(etag) // If-Match
          case None       => current.isEmpty        // If-None-Match: *
        }
        if (!ok) false // 412 Precondition Failed
        else {
          val tmp = p.resolveSibling("." + p.getFileName + ".cput.tmp")
          java.nio.file.Files.write(tmp, bytes)
          java.nio.file.Files.move(tmp, p,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          true
        }
      }
    }
  }

  /** Commit a new snapshot: `write` produces the snapshot's data at
    * the directory it is handed (a fresh `snap-<n>` under the root),
    * then the manifest pointer swaps to it through `protocol`'s CAS
    * publish. Runs under the store writer lock like every other
    * mutation; a lost CAS (possible when the protocol's backing store
    * has writers outside this lock, the S3 deployment case) raises
    * `ConcurrentModificationException` — the snapshot data directory
    * is orphaned, not corrupting, and [[vacuumStore]] reclaims it.
    */
  def commitStoreSnapshot(spark: SparkSession, root: String,
                          protocol: CommitProtocol = AtomicRenameCommit)
                         (write: String => Unit): Unit = {
    // the root must exist BEFORE the lock: the lock FILE lives beside
    // it, and O_EXCL creation fails with a confusing ENOENT when the
    // parent directory is missing (first commit on a fresh root)
    val hRoot0 = new org.apache.hadoop.fs.Path(root)
    hRoot0.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .mkdirs(hRoot0): Unit
    withStoreLock(spark, root) {
      val hRoot = new org.apache.hadoop.fs.Path(root)
      val fs = hRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the CAS witness: what this commit believes is live. Read
      // INSIDE the lock so lock-respecting writers never conflict.
      val expected = readPointer(fs, manifestPath(root))
      // sequence-numbered, assigned INSIDE the lock: snapshot names
      // order commits totally, across writers and JVM restarts (a
      // nanoTime-based name would not — its origin is arbitrary per
      // JVM). The ordering is what makes [[listSnapshots]] a history.
      val next = snapshotNames(fs, hRoot)
        .map(_.stripPrefix("snap-").toLong)
        .foldLeft(0L)(math.max) + 1L
      val snap = f"snap-$next%016d"
      write(new org.apache.hadoop.fs.Path(hRoot, snap).toString)
      if (!protocol.publish(spark, manifestPath(root), expected, snap))
        throw new java.util.ConcurrentModificationException(
          s"manifest commit for $root lost the publish race: another " +
            s"writer superseded ${expected.getOrElse("<empty>")}; the " +
            s"$snap data directory is orphaned (vacuum reclaims it) — " +
            "re-run the commit against the new live snapshot")
    }
  }

  private def snapshotNames(fs: org.apache.hadoop.fs.FileSystem,
                            hRoot: org.apache.hadoop.fs.Path): Seq[String] =
    if (!fs.exists(hRoot)) Seq.empty
    else fs.listStatus(hRoot).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("snap-"))
      .map(_.getPath.getName)
      .sorted

  /** The store's retained snapshot history, oldest first, with the
    * live flag — everything [[readStoreSnapshot]] can still time-travel
    * to. History depth is exactly the [[vacuumStore]] cadence: vacuum
    * is the retention knob, not a correctness requirement.
    */
  def listSnapshots(spark: SparkSession, root: String)
      : Seq[(String, Boolean)] = {
    val hRoot = new org.apache.hadoop.fs.Path(root)
    val fs = hRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(
      currentSnapshotDir(spark, root)).getName
    snapshotNames(fs, hRoot).map(n => (n, n == live))
  }

  /** TIME-TRAVEL read: scan a named snapshot from [[listSnapshots]] —
    * any commit vacuum has not yet reclaimed. Snapshot dirs are
    * immutable, so this is exactly as consistent as the live read.
    */
  def readStoreSnapshot(spark: SparkSession, root: String,
                        snapshot: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(root, snapshot)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(dir),
      s"snapshot $snapshot does not exist under $root (vacuumed? " +
        "see listSnapshots for the retained history)")
    morResolve(spark, root, dir)
  }

  /** Resolve a snapshot directory to its logical relation. A
    * MATERIALIZED snapshot is a plain parquet scan; a MERGE-ON-READ
    * delete snapshot ([[deleteStoreKeysMor]]) holds only a `_base`
    * pointer + a `_deletes` key file, and resolves as base minus
    * tombstones — recursively, so stacked un-compacted deletes fold
    * into one anti-join chain. Depth = deletes since the last
    * compaction; [[compactStoreManifested]] resets it to zero.
    */
  private def morResolve(spark: SparkSession, root: String,
                         dir: org.apache.hadoop.fs.Path): DataFrame = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val basePtr = new org.apache.hadoop.fs.Path(dir, MorBaseName)
    readPointer(fs, basePtr) match {
      case None => spark.read.parquet(dir.toString)
      case Some(base) =>
        val delPath = new org.apache.hadoop.fs.Path(dir, MorDeletesName)
        val deletes = spark.read.parquet(delPath.toString)
        // the tombstone file's single column IS the key column
        val keyCol = deletes.schema.fields.head.name
        // broadcast only delete-sized tombstone batches; a GDPR-scale
        // erasure file above the cap anti-joins as a shuffle (AQE may
        // still elect to broadcast) instead of being collected to the
        // driver on every read
        val delBytes = fs.getContentSummary(delPath).getLength
        val delSide =
          if (delBytes <= MorBroadcastCapBytes) broadcast(deletes)
          else deletes
        morResolve(spark, root, new org.apache.hadoop.fs.Path(root, base))
          .join(delSide, Seq(keyCol), "left_anti")
    }
  }

  /** Tombstone files at or under this size ride the read plan as an
    * explicit broadcast (typical deletes are KBs); larger ones fall
    * back to a shuffled anti-join so the driver never materializes an
    * erasure batch that outgrew the broadcast budget. Aligned with
    * Spark's default autoBroadcastJoinThreshold (10 MB). */
  private val MorBroadcastCapBytes: Long = 10L << 20

  private[graft] val MorBaseName = "_base"
  private[graft] val MorDeletesName = "_deletes"

  /** MERGE-ON-READ delete (the Iceberg "equality delete" / Hudi MOR
    * shape, public): commit a snapshot that contains NO data files —
    * only a `_base` pointer at the superseded live snapshot and a
    * `_deletes` parquet of distinct deleted keys. The delete costs
    * O(|tombstones|) regardless of store size (a 100 TB store deletes
    * a million keys by writing a few MB), readers resolve it as
    * base ANTI-JOIN tombstones (broadcast — tombstone batches are
    * delete-sized, not store-sized), and the next
    * [[compactStoreManifested]] materializes the subtraction and
    * resets the chain. The copy-on-write alternative (filter +
    * rewrite) is exactly [[compactStoreManifested]] after this, so
    * the knob is WHEN to pay the rewrite, not whether semantics hold.
    * Time-travel still works: the base snapshot is immutable and
    * [[vacuumStore]] keeps every ancestor the live chain references.
    */
  def deleteStoreKeysMor(spark: SparkSession, root: String,
                         keys: DataFrame): Unit = {
    require(keys.schema.fields.length == 1,
      "keys must be a single-column frame (the column name is the key)")
    commitStoreSnapshot(spark, root) { dir =>
      // resolved INSIDE the commit lock: the base is the snapshot this
      // delete supersedes
      val base = new org.apache.hadoop.fs.Path(
        currentSnapshotDir(spark, root)).getName
      // fail BEFORE committing: a misnamed key column would commit a
      // snapshot whose anti-join breaks at analysis time, poisoning
      // every subsequent read/compact/merge until manual file surgery
      val keyName = keys.schema.fields.head.name
      val baseCols = readStoreManifested(spark, root).columns
      require(baseCols.contains(keyName),
        s"deleteStoreKeysMor: key column '$keyName' is not in the " +
          s"store schema (${baseCols.mkString(", ")}) — refusing to " +
          "commit an unreadable tombstone snapshot")
      val hDir = new org.apache.hadoop.fs.Path(dir)
      val fs = hDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // no coalesce: a right-to-erasure batch can be large, and the
      // layout contract keys on the `_deletes` DIRECTORY, not a file
      // count — readers scan whatever parquet lands inside it
      keys.distinct().write
        .parquet(new org.apache.hadoop.fs.Path(hDir, MorDeletesName)
          .toString)
      val out = fs.create(new org.apache.hadoop.fs.Path(hDir, MorBaseName),
        true)
      out.write(base.getBytes("UTF-8"))
      out.close()
    }
  }

  /** MERGE INTO — the SQL-standard three-way upsert (matched+delete →
    * DELETE, matched → UPDATE, not-matched → INSERT; a delete flag on
    * an unmatched key is a no-op, per the standard), executed
    * copy-on-write as ONE new snapshot: base FULL-OUTER batch on the
    * key, case projection, write, pointer flip. In-flight readers of
    * the old snapshot are undisturbed; the deferred-delete alternative
    * is [[deleteStoreKeysMor]] (pure deletes) — MERGE pays the rewrite
    * now because updates and inserts need new data files anyway. At
    * 100 TB the join shuffles on the key and is co-located when the
    * store is bucketed (writeStoreBucketed); batch-sized inputs
    * broadcast automatically.
    *
    * `batch` must carry (keyCol, textCol, deleteCol) with at most one
    * row per key — the relational MERGE cardinality rule. ENFORCED:
    * SQL MERGE throws on duplicate matches, and so does this (a
    * duplicate key would silently duplicate base rows through the
    * join — the guard rides the batch side as a tiny windowed count,
    * the t14/semanticDedup fail-fast convention).
    *
    * The base's FULL schema survives the merge: columns beyond
    * (keyCol, textCol) — the doc_id/lang/n_chars a curation store
    * carries — pass through unchanged on matched rows and null-fill on
    * inserts (standard MERGE semantics for columns the source doesn't
    * supply). Projecting the base down to the merge columns here would
    * silently drop them from the committed snapshot — permanent data
    * loss with no error.
    */
  def mergeIntoStore(spark: SparkSession, root: String, batch: DataFrame,
                     keyCol: String, textCol: String, deleteCol: String,
                     protocol: CommitProtocol = AtomicRenameCommit): Unit =
    commitStoreSnapshot(spark, root, protocol) { dir =>
      val base = readStoreManifested(spark, root)
      require(base.columns.contains(keyCol) &&
          base.columns.contains(textCol),
        s"mergeIntoStore: store schema (${base.columns.mkString(", ")}) " +
          s"must contain key '$keyCol' and text '$textCol'")
      val dupGuard = batch.groupBy(col(keyCol))
        .agg(count(lit(1)).as("_kn"))
        .agg(max(col("_kn")).as("_mx"))
      val b = batch.select(col(keyCol), col(textCol).as("_bt"),
        col(deleteCol).as("_del"))
        .crossJoin(broadcast(dupGuard))
        .filter(when(col("_mx") > 1L,
          raise_error(concat(lit("mergeIntoStore: batch carries a key "),
            lit("with "), col("_mx"),
            lit(" rows; MERGE requires at most one row per key")))
            .cast("boolean"))
          .otherwise(lit(true)))
        .drop("_mx")
      val out = base.join(b, Seq(keyCol), "full_outer")
        .filter(!coalesce(col("_del"), lit(false)))
        .select(base.columns.map {
          case c if c == textCol =>
            coalesce(col("_bt"), col(textCol)).as(textCol)
          case c => col(c)
        }.toSeq: _*)
      writeStore(out, dir)
    }

  /** A snapshot plus every `_base` ancestor it references — the
    * merge-on-read chain a read of `snap` serves rows out of. */
  private def morChain(root: String, snap: String,
                       fs: org.apache.hadoop.fs.FileSystem): Set[String] =
    Iterator.iterate(Option(snap)) {
      case Some(s) => readPointer(fs, new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(root, s), MorBaseName))
      case None => None
    }.takeWhile(_.isDefined).flatten.toSet

  /** The live snapshot plus every `_base` ancestor it references —
    * part of the set [[vacuumStore]] must retain. */
  private def liveChain(spark: SparkSession, root: String,
                        fs: org.apache.hadoop.fs.FileSystem): Set[String] =
    morChain(root, new org.apache.hadoop.fs.Path(
      currentSnapshotDir(spark, root)).getName, fs)

  private def refsDir(root: String) =
    new org.apache.hadoop.fs.Path(root, "_refs")

  /** TAG a snapshot with an immutable name (Iceberg tag semantics) —
    * the reproducibility primitive a training pipeline needs: "the
    * v1 training set is exactly this data" survives any number of
    * later commits AND [[vacuumStore]] passes (tagged snapshots and
    * their merge-on-read chains are retained — a tag is also a
    * retention pin). One pointer file per tag under `root/_refs/`,
    * landed tmp + atomic rename under the store writer lock; tags are
    * IMMUTABLE — re-tagging an existing name throws (delete is
    * deliberately absent: an audit ref that can be repointed or
    * dropped is not an audit ref).
    */
  def tagStoreSnapshot(spark: SparkSession, root: String, name: String,
                       snapshot: String): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"tag name '$name' must be [A-Za-z0-9._-]+ (it becomes a file name)")
    withStoreLock(spark, root) {
      val hRoot = new org.apache.hadoop.fs.Path(root)
      val fs = hRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.exists(new org.apache.hadoop.fs.Path(hRoot, snapshot)),
        s"cannot tag $snapshot: no such snapshot under $root")
      val ref = new org.apache.hadoop.fs.Path(refsDir(root), name)
      require(!fs.exists(ref),
        s"tag '$name' already exists (tags are immutable; pick a new name)")
      fs.mkdirs(refsDir(root)): Unit
      val tmp = new org.apache.hadoop.fs.Path(refsDir(root),
        s".$name.tmp")
      val out = fs.create(tmp, true)
      try out.write(snapshot.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, ref))
        throw new java.io.IOException(s"could not publish tag '$name'")
    }
  }

  /** Every tag, (name, snapshot), name-sorted. Readable without the
    * lock — each ref file is immutable once published. */
  def listStoreTags(spark: SparkSession, root: String)
      : Seq[(String, String)] = {
    val rd = refsDir(root)
    val fs = rd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rd)) Seq.empty
    else fs.listStatus(rd).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .map { st =>
        st.getPath.getName ->
          readPointer(fs, st.getPath).getOrElse("")
      }
      .sortBy(_._1)
  }

  /** Read the store AS OF a tag — [[readStoreSnapshot]] through the
    * ref indirection. */
  def readStoreTag(spark: SparkSession, root: String,
                   name: String): DataFrame = {
    val ref = new org.apache.hadoop.fs.Path(refsDir(root), name)
    val fs = ref.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = readPointer(fs, ref).getOrElse(
      throw new IllegalArgumentException(
        s"no tag '$name' under $root (see listStoreTags)"))
    readStoreSnapshot(spark, root, snap)
  }

  /** The live snapshot directory the manifest names (readable without
    * the lock — the manifest swap is atomic). */
  def currentSnapshotDir(spark: SparkSession, root: String): String = {
    val mp = manifestPath(root)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(mp)
    val snap =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    new org.apache.hadoop.fs.Path(root, snap).toString
  }

  /** Read the store through the manifest: resolve once, then scan an
    * immutable snapshot (chain) — consistent even if a commit lands
    * mid-scan; merge-on-read delete snapshots resolve transparently
    * ([[morResolve]]). */
  def readStoreManifested(spark: SparkSession, root: String): DataFrame =
    morResolve(spark, root,
      new org.apache.hadoop.fs.Path(currentSnapshotDir(spark, root)))

  /** Compaction through the commit protocol: rewrite the live snapshot
    * into `numFiles` balanced files as a NEW snapshot, swap the
    * pointer. In-flight readers of the old snapshot are undisturbed
    * (its files are never touched); [[vacuumStore]] reclaims it later.
    */
  def compactStoreManifested(spark: SparkSession, root: String,
                             numFiles: Int): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    commitStoreSnapshot(spark, root) { dir =>
      // resolve the live snapshot INSIDE the lock: resolving before it
      // could compact a snapshot a racing commit just superseded
      readStoreManifested(spark, root).repartition(numFiles)
        .write.mode(SaveMode.Overwrite).option("compression", "zstd")
        .parquet(dir)
    }
  }

  /** CHANGE-DATA-CAPTURE between two snapshot reads keyed by `keyCol`:
    * every key classified insert / delete / update / unchanged — the
    * row-level delta an incremental consumer (index maintenance,
    * re-embedding, downstream sync) folds instead of reprocessing the
    * store. Values compare by md5 FINGERPRINT, so arbitrarily wide
    * rows diff at hash width; the full-outer join shuffles both sides
    * on the key — co-located when both snapshots share a bucketed
    * layout, and at 100 TB the immutable-snapshot layout lets a
    * file-level manifest diff prune files both snapshots share before
    * this row-level pass runs (the reference rebuilds its whole index
    * from the store on every restart instead — server.js:65-94).
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, keyCol: String,
                   valCol: String): DataFrame = {
    val av = a.select(col(keyCol).as("k_a"),
      md5(col(valCol).cast("string")).as("f_a"))
    val bv = b.select(col(keyCol).as("k_b"),
      md5(col(valCol).cast("string")).as("f_b"))
    av.join(bv, col("k_a") === col("k_b"), "full_outer")
      .select(coalesce(col("k_a"), col("k_b")).as(keyCol),
        when(col("k_a").isNull, lit("insert"))
          .when(col("k_b").isNull, lit("delete"))
          // null-SAFE comparison: a value transitioning NULL ↔
          // non-NULL is an update — plain =!= yields NULL there and
          // would fall through to 'unchanged'
          .when(!(col("f_a") <=> col("f_b")), lit("update"))
          .otherwise(lit("unchanged")).as("change_type"))
  }

  /** Delete every snapshot the manifest no longer names. Run this at a
    * cadence that exceeds the longest scan a reader may hold (the
    * retention contract every snapshot store has).
    */
  def vacuumStore(spark: SparkSession, root: String): Unit =
    withStoreLock(spark, root) {
      val hRoot = new org.apache.hadoop.fs.Path(root)
      val fs = hRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // retain the whole live CHAIN (a merge-on-read delete snapshot
      // serves its rows out of `_base` ancestors — reclaiming one
      // would corrupt the live read, not just lose history) PLUS every
      // TAGGED snapshot's chain: a tag is a retention pin, or
      // "reproducible training set" would be one vacuum away from a
      // missing-directory error
      val keep = liveChain(spark, root, fs) ++
        listStoreTags(spark, root).flatMap { case (_, snap) =>
          morChain(root, snap, fs)
        }
      fs.listStatus(hRoot)
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("snap-") &&
          !keep.contains(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true))
    }
}

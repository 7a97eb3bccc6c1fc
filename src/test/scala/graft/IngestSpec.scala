package graft

import graft.operators.Ingest
import graft.sources.Sources
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Ingest path: hash embedder determinism/normalization, dedup-ingest
  * INSERT-OR-IGNORE parity (reference server.js:191-215), contiguous id
  * assignment, store round-trip, CSV/JSON/text-dir sources.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("hashEmbed: unit norm, deterministic, word-order-insensitive") {
    val e = Ingest.hashEmbed(docsDf((1L, "alpha beta gamma"),
        (2L, "gamma beta alpha"), (3L, "")), "text", 32)
      .select("doc_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    assert(e(1).length == 32)
    assert(e(1) == e(2)) // bag-of-words
    assert(math.abs(e(1).map(x => x * x).sum - 1.0) < 1e-5)
    assert(e(3).forall(_ == 0f)) // empty doc → zero vector, no NaN
  }

  test("dedupIngest drops rows already in the store and in-batch dups") {
    val store = docsDf((1L, "old one"), (2L, "old two"))
    val batch = docsDf((10L, "old one"), (11L, "new one"),
      (12L, "new one"), (13L, "new two"))
    val novel = Ingest.dedupIngest(batch, store, "text", "doc_id")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq.sorted
    // "old one" gone; "new one" keeps smallest id 11
    assert(novel == Seq((11L, "new one"), (13L, "new two")))
  }

  test("dedupIngest is idempotent: second ingest of same batch is empty") {
    val store = docsDf((1L, "a"), (2L, "b"))
    val batch = docsDf((10L, "c"), (11L, "d"))
    val afterFirst = store.unionByName(
      Ingest.dedupIngest(batch, store, "text", "doc_id").select("doc_id", "text"))
    assert(Ingest.dedupIngest(batch, afterFirst, "text", "doc_id").count() == 0)
  }

  test("assignIdsAfter: contiguous ids after the store max, ordered by " +
      "content") {
    val novel = docsDf((10L, "bb"), (11L, "aa"), (12L, "cc"))
      .withColumnRenamed("doc_id", "batch_id")
    val store = docsDf((7L, "existing a"), (100L, "existing b"))
    val got = Ingest.assignIdsAfter(novel, "text", store, "doc_id")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq.sorted
    assert(got == Seq((101L, "aa"), (102L, "bb"), (103L, "cc")))
  }

  test("assignIdsDistributed matches the serial window's mapping exactly") {
    val texts = (0 until 97).map(i => f"content $i%03d with salt ${i * 7}")
    val novel = texts.zipWithIndex
      .map { case (t, i) => (1000L + i, t) }.toDF("batch_id", "text")
      .repartition(8) // many input splits — no task sees the whole batch
    val store = docsDf((1L, "existing a"), (41L, "existing b"))
    val serial = Ingest.assignIdsAfter(
        novel.withColumnRenamed("batch_id", "doc_id"), "text", store,
        "doc_id")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    val dist = Ingest.assignIdsDistributed(novel, "text", store, "doc_id")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(dist == serial)
    // dense, unique, contiguous after the store max
    val ids = dist.map(_._1).toSeq.sorted
    assert(ids == (42L until 42L + texts.length).toSeq)
    // deterministic across invocations (fresh plan, fresh sampling)
    spark.catalog.clearCache()
    val again = Ingest.assignIdsDistributed(novel, "text", store, "doc_id")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(again == dist)
    spark.catalog.clearCache()
  }

  test("compactStore merges append-accumulated small files losslessly") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_compact").toString + "/store"
    // 8 tiny appends -> at least 8 part files
    for (i <- 1 to 8)
      Ingest.writeStore(docsDf((i.toLong, s"doc $i")), dir)
    def partFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(partFiles >= 8)
    val before = spark.read.parquet(dir)
      .orderBy("doc_id").collect().toSeq
    Ingest.compactStore(spark, dir, numFiles = 2)
    assert(partFiles == 2, s"expected 2 files after compaction, got $partFiles")
    val after = spark.read.parquet(dir)
      .orderBy("doc_id").collect().toSeq
    assert(after == before, "compaction must not change the data")
  }

  test("compactStore preserves a hive-partitioned layout (pruning " +
      "survives compaction)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_compact_part").toString + "/store"
    import org.apache.spark.sql.functions.{col, lit, when}
    for (i <- 1 to 4)
      Ingest.writeStorePartitioned(
        docsDf((i.toLong, s"doc $i"), (i + 100L, s"other $i"))
          .withColumn("source",
            when(col("doc_id") < 100, lit("web")).otherwise(lit("books"))),
        dir, Seq("source"))
    assert(Ingest.detectPartitionCols(spark, dir) == Seq("source"))
    val before = spark.read.parquet(dir)
      .orderBy("doc_id").collect().toSeq
    Ingest.compactStore(spark, dir, numFiles = 2)
    // the directory layout survived ...
    val subdirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(subdirs == Seq("source=books", "source=web"),
      s"partition layout flattened: $subdirs")
    // ... the data is untouched ...
    val after = spark.read.parquet(dir)
      .orderBy("doc_id").collect().toSeq
    assert(after == before, "compaction must not change the data")
    // ... each partition dir holds ONE compacted file ...
    subdirs.foreach { d =>
      val n = new java.io.File(s"$dir/$d").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(n == 1, s"$d has $n files after compaction")
    }
    // ... and a per-source read still PRUNES instead of scanning
    val p = spark.read.parquet(dir).filter(col("source") === "web")
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") &&
      p.replaceAll("\\s+", " ").contains("source#") &&
      !p.contains("PartitionFilters: []"),
      s"post-compaction scan does not partition-prune:\n$p")
  }

  test("manifest-committed store: readers mid-compaction see a " +
      "consistent snapshot") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_manifest").toString + "/store"
    Ingest.commitStoreSnapshot(spark, root) { dir =>
      Ingest.writeStore(docsDf((1L, "a"), (2L, "b"), (3L, "c")), dir)
    }
    val snap1 = Ingest.currentSnapshotDir(spark, root)
    // a reader resolves the store BEFORE the next commit...
    val reader = Ingest.readStoreManifested(spark, root)
    // ...a compaction commits a new snapshot under it...
    Ingest.compactStoreManifested(spark, root, numFiles = 1)
    val snap2 = Ingest.currentSnapshotDir(spark, root)
    assert(snap1 != snap2, "compaction must commit a NEW snapshot")
    // ...and the in-flight reader still scans its original, untouched
    // snapshot to completion (the old files were never deleted)
    assert(reader.orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // new readers resolve to the compacted snapshot, same data
    assert(Ingest.readStoreManifested(spark, root)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // vacuum reclaims the superseded snapshot, keeps the live one
    Ingest.vacuumStore(spark, root)
    assert(!new java.io.File(snap1).exists())
    assert(new java.io.File(snap2).exists())
  }

  test("manifest-committed store: snapshots are an ordered history " +
      "and time-travel reads an old commit until vacuum") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_timetravel").toString + "/store"
    Ingest.commitStoreSnapshot(spark, root) { dir =>
      Ingest.writeStore(docsDf((1L, "a")), dir)
    }
    Ingest.commitStoreSnapshot(spark, root) { dir =>
      Ingest.writeStore(docsDf((1L, "a"), (2L, "b")), dir)
    }
    val snaps = Ingest.listSnapshots(spark, root)
    assert(snaps.map(_._1) == snaps.map(_._1).sorted &&
      snaps.size == 2, s"history not ordered: $snaps")
    assert(snaps == Seq((snaps.head._1, false), (snaps.last._1, true)),
      "live flag must mark exactly the latest commit")
    // time-travel: the superseded commit reads back exactly
    assert(Ingest.readStoreSnapshot(spark, root, snaps.head._1)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a")))
    assert(Ingest.readStoreManifested(spark, root)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // vacuum bounds the history; a vacuumed snapshot fails loudly
    Ingest.vacuumStore(spark, root)
    assert(Ingest.listSnapshots(spark, root).map(_._2) == Seq(true))
    val e = intercept[IllegalArgumentException] {
      Ingest.readStoreSnapshot(spark, root, snaps.head._1)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("CommitProtocol: a lost CAS publish fails the commit loudly, " +
      "never tears the store; the next commit wins against the new live") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_race").toString + "/store"
    Ingest.commitStoreSnapshot(spark, root) { dir =>
      Ingest.writeStore(docsDf((1L, "a")), dir)
    }
    // a protocol whose backing store has a writer OUTSIDE our lock
    // (the S3 deployment case): just before our publish lands, the
    // other writer commits its own snapshot — our CAS witness is
    // stale and the publish must report the lost race, not clobber
    object RacingProtocol extends Ingest.CommitProtocol {
      override def publish(spark: org.apache.spark.sql.SparkSession,
                           dest: org.apache.hadoop.fs.Path,
                           expected: Option[String],
                           next: String): Boolean = {
        val winner = "snap-0000000000000099"
        docsDf((42L, "winner")).write.mode("overwrite")
          .parquet(new org.apache.hadoop.fs.Path(
            dest.getParent, winner).toString)
        assert(Ingest.AtomicRenameCommit
          .publish(spark, dest, expected, winner))
        // now OUR publish runs with a stale witness — must lose
        Ingest.AtomicRenameCommit.publish(spark, dest, expected, next)
      }
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      Ingest.commitStoreSnapshot(spark, root, RacingProtocol) { dir =>
        Ingest.writeStore(docsDf((2L, "loser")), dir)
      }
    }
    assert(e.getMessage.contains("lost the publish race"))
    // the store points at the WINNER's commit, readable and whole —
    // the loser's data directory is orphaned, not installed
    assert(Ingest.readStoreManifested(spark, root)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      Seq((42L, "winner")))
    // a retry against the new live snapshot succeeds via the default
    // protocol and supersedes the winner in ordered history
    Ingest.commitStoreSnapshot(spark, root) { dir =>
      Ingest.writeStore(docsDf((3L, "retry")), dir)
    }
    assert(Ingest.readStoreManifested(spark, root)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      Seq((3L, "retry")))
    assert(Ingest.listSnapshots(spark, root).map(_._1) ==
      Ingest.listSnapshots(spark, root).map(_._1).sorted)
  }

  test("ConditionalPutCommit: a full store lifecycle commits through " +
      "If-Match preconditions; readers are oblivious") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cput").toString + "/store"
    val protocol =
      new Ingest.ConditionalPutCommit(new Ingest.FileBackedConditionalStore)
    // first commit: If-None-Match:* (no manifest yet)
    Ingest.commitStoreSnapshot(spark, root, protocol) { dir =>
      Ingest.writeStore(docsDf((1L, "a"), (2L, "b")), dir)
    }
    // subsequent commits: If-Match on the witnessed etag; the whole
    // merge/delete machinery runs unchanged through the second impl
    Ingest.mergeIntoStore(spark, root,
      Seq((2L, "b2", false), (3L, "c", false))
        .toDF("doc_id", "text", "_delete"),
      "doc_id", "text", "_delete", protocol)
    assert(Ingest.readStoreManifested(spark, root)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    assert(Ingest.listSnapshots(spark, root).size == 2)
  }

  test("ConditionalPutCommit: an interleaved writer flips the etag " +
      "between witness and PUT — 412 maps to a loud lost race") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cput_race").toString + "/store"
    Ingest.commitStoreSnapshot(spark, root) { dir =>
      Ingest.writeStore(docsDf((1L, "a")), dir)
    }
    val inner = new Ingest.FileBackedConditionalStore
    // a store whose GET is immediately followed by ANOTHER writer's
    // successful conditional put (the S3 no-lock deployment: nothing
    // serializes writers but the precondition itself)
    val racing = new Ingest.ConditionalStore {
      override def get(key: String): Option[(String, Array[Byte])] = {
        val seen = inner.get(key)
        val winner = "snap-0000000000000099"
        docsDf((42L, "winner")).write.mode("overwrite")
          .parquet(root + "/" + winner)
        assert(inner.put(key, winner.getBytes("UTF-8"),
          seen.map(_._1)), "the interleaved writer's own PUT must land")
        seen // hand the commit its now-stale witness
      }
      override def put(key: String, bytes: Array[Byte],
                       ifMatch: Option[String]): Boolean =
        inner.put(key, bytes, ifMatch)
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      Ingest.commitStoreSnapshot(spark, root,
        new Ingest.ConditionalPutCommit(racing)) { dir =>
        Ingest.writeStore(docsDf((2L, "loser")), dir)
      }
    }
    assert(e.getMessage.contains("lost the publish race"))
    // the winner's pointer survives — the losing PUT 412'd, nothing tore
    assert(Ingest.readStoreManifested(spark, root)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      Seq((42L, "winner")))
    // and a clean retry through the SAME protocol succeeds
    Ingest.commitStoreSnapshot(spark, root,
      new Ingest.ConditionalPutCommit(inner)) { dir =>
      Ingest.writeStore(docsDf((3L, "retry")), dir)
    }
    assert(Ingest.readStoreManifested(spark, root)
      .as[(Long, String)].collect().toSeq == Seq((3L, "retry")))
  }

  // CAS atomicity is a property of the KEY, not the store instance:
  // two FileBackedConditionalStores over the same manifest must never
  // both win an If-Match PUT from the same witnessed etag (the
  // lost-update a per-instance monitor would allow — both pass the
  // precondition read before either writes). The monitor is JVM-global
  // per normalized path, so the pair serializes: one 200, one 412,
  // every iteration.
  test("FileBackedConditionalStore: same-etag PUTs from two instances " +
      "over one key — exactly one wins") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cput_2i")
    val key = dir.resolve("manifest").toString
    val a = new Ingest.FileBackedConditionalStore
    val b = new Ingest.FileBackedConditionalStore
    assert(a.put(key, "base".getBytes("UTF-8"), None))
    for (i <- 1 to 20) {
      val etag = a.get(key).get._1
      assert(etag == b.get(key).get._1)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val ts = Seq(a, b).zipWithIndex.map { case (s, j) =>
        new Thread(() => {
          gate.await()
          if (s.put(key, s"round-$i-writer-$j".getBytes("UTF-8"),
            Some(etag))) wins.incrementAndGet(): Unit
        })
      }
      ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
      assert(wins.get() == 1,
        s"round $i: ${wins.get()} writers won the same-etag CAS")
    }
  }

  // A tag must pin its WHOLE merge-on-read chain through vacuum:
  // tag a delete snapshot (which serves rows out of its _base) after a
  // later full rewrite supersedes both — vacuum reclaims nothing the
  // tag needs, and the tag read still resolves base-minus-tombstones.
  // Also pins immutability (re-tag throws) and the unknown-tag error.
  test("tagged snapshots survive vacuum with their MoR chain; tags " +
      "are immutable") {
    val root = Files.createTempDirectory("graft_tag").toString + "/store"
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    Ingest.commitStoreSnapshot(spark, root) { d =>
      Ingest.writeStore(docs, d)
    }
    Ingest.deleteStoreKeysMor(spark, root, Seq(2L).toDF("doc_id"))
    val delSnap = Ingest.listSnapshots(spark, root).last._1
    Ingest.tagStoreSnapshot(spark, root, "v1", delSnap)
    Ingest.commitStoreSnapshot(spark, root) { d =>
      Ingest.writeStore(docs.filter(col("doc_id") === 1L), d)
    }
    Ingest.vacuumStore(spark, root)
    // live = rewrite only; the tag still resolves {1,3} (base minus
    // tombstone) because vacuum retained BOTH chain members
    assert(Ingest.readStoreManifested(spark, root)
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(Ingest.readStoreTag(spark, root, "v1")
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(Ingest.listStoreTags(spark, root) == Seq("v1" -> delSnap))
    intercept[IllegalArgumentException] {
      Ingest.tagStoreSnapshot(spark, root, "v1", delSnap)
    }
    intercept[IllegalArgumentException] {
      Ingest.readStoreTag(spark, root, "nope")
    }
  }

  test("manifest store accepts URI-form file roots: lock and manifest " +
      "land beside the store, not CWD-relative") {
    val dir = Files.createTempDirectory("graft_uri").toString
    val root = "file://" + dir + "/store"
    Ingest.commitStoreSnapshot(spark, root) { d =>
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
        .write.parquet(d)
    }
    assert(Ingest.readStoreManifested(spark, root).count() == 2)
    // the pre-fix failure mode: File("file:/...") resolves relative to
    // the CWD and leaves a stray "file:" artifact there
    assert(!new java.io.File("file:").exists(),
      "URI-form root produced a CWD-relative 'file:' artifact")
    // a second commit exercises the ATOMIC_MOVE manifest swap too
    Ingest.commitStoreSnapshot(spark, root) { d =>
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
        .write.parquet(d)
    }
    assert(Ingest.readStoreManifested(spark, root).count() == 3)
  }

  test("snapshotDiff classifies every key: insert, delete, update, " +
      "unchanged — and the classes partition the key union") {
    val a = docsDf((1L, "same"), (2L, "old"), (3L, "gone"))
    val b = docsDf((1L, "same"), (2L, "new"), (4L, "fresh"))
    val got = Ingest.snapshotDiff(a, b, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "unchanged"), (2L, "update"),
      (3L, "delete"), (4L, "insert")))
  }

  test("snapshotDiff is null-safe: NULL ↔ non-NULL transitions are " +
      "updates, NULL ↔ NULL is unchanged") {
    val a = Seq((1L, Option("x")), (2L, Option.empty[String]),
      (3L, Option.empty[String])).toDF("doc_id", "text")
    val b = Seq((1L, Option.empty[String]), (2L, Option("y")),
      (3L, Option.empty[String])).toDF("doc_id", "text")
    val got = Ingest.snapshotDiff(a, b, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "update"), (2L, "update"),
      (3L, "unchanged")),
      s"null transitions must be visible to CDC consumers: $got")
  }

  test("store write/read round-trip preserves vectors") {
    val dir = Files.createTempDirectory("graft_store").toString + "/docs"
    val df = Ingest.hashEmbed(docsDf((1L, "x y z"), (2L, "p q r")), "text", 16)
    Ingest.writeStore(df, dir)
    val Some(back) = Ingest.readStore(spark, dir): @unchecked
    assert(back.count() == 2)
    val a = df.orderBy("doc_id").select("embedding").as[Seq[Float]].collect()
    val b = back.orderBy("doc_id").select("embedding").as[Seq[Float]].collect()
    assert(a.toSeq == b.toSeq)
  }

  test("readStore with the store's schema: the inferred read's rows " +
      "and schema, no job, and None for a missing or metadata-only " +
      "directory") {
    val root = Files.createTempDirectory("graft_store_schema")
    val dir = root.resolve("docs").toString
    val schema = Some(Ingest.hashEmbed(docsDf(), "text", 16).schema)
    assert(Ingest.readStore(spark, dir, schema).isEmpty)
    val meta = Files.createDirectories(root.resolve("meta"))
    Files.writeString(meta.resolve("_SUCCESS"), "")
    Files.writeString(meta.resolve(".part.crc"), "")
    assert(Ingest.readStore(spark, meta.toString).isEmpty)
    assert(Ingest.readStore(spark, meta.toString, schema).isEmpty)

    Ingest.writeStore(Ingest.hashEmbed(docsDf((1L, "x y z"),
      (2L, "p q r")), "text", 16), dir)
    val Some(inferred) = Ingest.readStore(spark, dir): @unchecked
    var given: Option[org.apache.spark.sql.DataFrame] = None
    assert(jobsOf { given = Ingest.readStore(spark, dir, schema) } == 0)
    assert(given.map(_.schema).contains(inferred.schema))
    assert(given.get.orderBy("doc_id").collect().toSeq ==
      inferred.orderBy("doc_id").collect().toSeq)
  }

  test("buildIndex persists (id, vector) projection") {
    val df = Ingest.hashEmbed(docsDf((1L, "x"), (2L, "y")), "text", 8)
    val idx = Ingest.buildIndex(df, "doc_id", "embedding")
    assert(idx.columns.toSeq == Seq("doc_id", "embedding"))
    assert(idx.storageLevel.useMemory)
    idx.unpersist()
  }

  test("csv sink/source round-trip (header, schema inferred)") {
    val dir = Files.createTempDirectory("graft_csv").toString + "/out"
    Sources.writeCsv(docsDf((1L, "hello"), (2L, "world")), dir)
    val back = Sources.readCsv(spark, dir)
    assert(back.orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "hello"), (2L, "world")))
  }

  test("json sink/source round-trip") {
    val dir = Files.createTempDirectory("graft_json").toString + "/out"
    Sources.writeJson(docsDf((1L, "hello")), dir)
    assert(Sources.readJson(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq ==
      Seq((1L, "hello")))
  }

  test("textDir scans a directory of files, one row per file") {
    val dir = Files.createTempDirectory("graft_txt")
    Files.writeString(dir.resolve("a.txt"), "alpha doc\nwith lines")
    Files.writeString(dir.resolve("b.txt"), "beta doc")
    val got = Sources.textDir(spark, dir.toString)
      .as[(String, String)].collect().toMap
    assert(got == Map("a.txt" -> "alpha doc\nwith lines", "b.txt" -> "beta doc"))
  }

  test("mergeIntoStore: update/delete/insert in one snapshot; " +
      "delete of a missing key is a no-op") {
    val root = Files.createTempDirectory("graft_merge").toString + "/store"
    Ingest.commitStoreSnapshot(spark, root) { dir =>
      Ingest.writeStore(docsDf((1L, "a"), (2L, "b"), (3L, "c")), dir)
    }
    val batch = Seq(
      (2L, "b2", false),   // matched -> update
      (3L, "c", true),     // matched + delete -> drop
      (4L, "d", false),    // not matched -> insert
      (9L, "x", true)      // not matched + delete -> no-op
    ).toDF("doc_id", "text", "_delete")
    Ingest.mergeIntoStore(spark, root, batch, "doc_id", "text", "_delete")
    assert(Ingest.readStoreManifested(spark, root)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b2"), (4L, "d")))
    // the merge is one commit: history = base + merged
    assert(Ingest.listSnapshots(spark, root).size == 2)
    // the MERGE cardinality rule is ENFORCED: a duplicate batch key
    // fails loudly instead of silently duplicating base rows — and the
    // failed commit never installs (live snapshot unchanged)
    val e = intercept[Exception] {
      Ingest.mergeIntoStore(spark, root,
        Seq((2L, "x", false), (2L, "y", false)).toDF(
          "doc_id", "text", "_delete"),
        "doc_id", "text", "_delete")
    }
    assert(e.getMessage.contains("at most one row per key") ||
      e.getCause != null &&
        e.getCause.getMessage.contains("at most one row per key"))
    assert(Ingest.readStoreManifested(spark, root).count() == 3)
  }

  test("mergeIntoStore preserves columns beyond the merge pair: " +
      "matched rows keep them, inserts null-fill them") {
    val root = Files.createTempDirectory("graft_merge_wide")
      .toString + "/store"
    Ingest.commitStoreSnapshot(spark, root) { dir =>
      Ingest.writeStore(Seq(
        (1L, "a", "en", 10L), (2L, "b", "fr", 20L), (3L, "c", "de", 30L))
        .toDF("doc_id", "text", "lang", "n_chars"), dir)
    }
    Ingest.mergeIntoStore(spark, root, Seq(
      (2L, "b2", false),  // update: lang/n_chars must survive
      (3L, "c", true),    // delete
      (4L, "d", false))   // insert: lang/n_chars null-fill
      .toDF("doc_id", "text", "_delete"),
      "doc_id", "text", "_delete")
    val got = Ingest.readStoreManifested(spark, root)
      .orderBy("doc_id")
      .as[(Long, String, Option[String], Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, "a", Some("en"), Some(10L)),
      (2L, "b2", Some("fr"), Some(20L)),
      (4L, "d", None, None)))
  }

  test("merge-on-read delete refuses a key column the store schema " +
      "lacks — BEFORE committing the tombstone snapshot") {
    val root = Files.createTempDirectory("graft_mor_badkey")
      .toString + "/store"
    Ingest.commitStoreSnapshot(spark, root) { dir =>
      Ingest.writeStore(docsDf((1L, "a"), (2L, "b")), dir)
    }
    val e = intercept[IllegalArgumentException] {
      Ingest.deleteStoreKeysMor(spark, root, Seq(1L).toDF("wrong_key"))
    }
    assert(e.getMessage.contains("wrong_key"), e.getMessage)
    // the store is NOT poisoned: still readable, history unchanged
    assert(Ingest.readStoreManifested(spark, root).count() == 2)
    assert(Ingest.listSnapshots(spark, root).size == 1)
  }

  test("merge-on-read delete with an EMPTY key batch is a logical " +
      "no-op that still commits (idempotent-pipeline shape)") {
    val root = Files.createTempDirectory("graft_mor_empty")
      .toString + "/store"
    Ingest.commitStoreSnapshot(spark, root) { dir =>
      Ingest.writeStore(docsDf((1L, "a"), (2L, "b")), dir)
    }
    Ingest.deleteStoreKeysMor(spark, root,
      Seq.empty[Long].toDF("doc_id"))
    // a scheduled erasure job with nothing to erase must neither fail
    // nor change the logical relation — but its commit still lands
    // (the audit trail records the empty batch)
    assert(Ingest.readStoreManifested(spark, root)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    assert(Ingest.listSnapshots(spark, root).size == 2)
  }

  test("merge-on-read delete: tombstone snapshot hides keys without " +
      "touching data files; chained deletes stack; compact materializes") {
    val root = Files.createTempDirectory("graft_mor").toString + "/store"
    Ingest.commitStoreSnapshot(spark, root) { dir =>
      Ingest.writeStore(docsDf((1L to 6L).map(i => (i, s"d$i")): _*), dir)
    }
    Ingest.deleteStoreKeysMor(spark, root, Seq(2L, 4L).toDF("doc_id"))
    Ingest.deleteStoreKeysMor(spark, root, Seq(5L).toDF("doc_id"))
    // logical view: base minus both tombstone batches
    assert(Ingest.readStoreManifested(spark, root)
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 6L))
    // physical: the MoR snapshots hold NO data files (underscore
    // entries only), and the base snapshot still reads complete
    val snaps = Ingest.listSnapshots(spark, root).map(_._1)
    assert(snaps.size == 3)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    snaps.tail.foreach { s =>
      val entries = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$root/$s"))
        .map(_.getPath.getName).filterNot(_.startsWith("_"))
      assert(entries.isEmpty, s"MoR snapshot $s has data files: " +
        entries.mkString(","))
    }
    assert(Ingest.readStoreSnapshot(spark, root, snaps.head).count() == 6)
    // time travel into the MIDDLE of the chain: only the first batch
    assert(Ingest.readStoreSnapshot(spark, root, snaps(1))
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 5L, 6L))
    // vacuum must keep the live chain's ancestors (snap1 serves rows!)
    Ingest.vacuumStore(spark, root)
    assert(Ingest.readStoreManifested(spark, root)
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 6L))
    // compaction materializes: new live has data files, no _base, and
    // a later vacuum reclaims the whole old chain
    Ingest.compactStoreManifested(spark, root, 1)
    val live = Ingest.listSnapshots(spark, root).filter(_._2).head._1
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/$live/${Ingest.MorBaseName}")))
    Ingest.vacuumStore(spark, root)
    assert(Ingest.listSnapshots(spark, root).map(_._1) == Seq(live))
    assert(Ingest.readStoreManifested(spark, root)
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 6L))
  }
}

package graft

import graft.operators.{Chunker, Ingest}
import graft.functions.HashFunctions.md5Long
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The reference's ingest path as a stream: text files arriving in a
  * directory → chunk → hash-embed → stateful dedup on content hash →
  * parquet store, with exactly-once file tracking across drains — the
  * continuous version of GET /load-documents (reference
  * server.js:161-190).
  */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  test("file-arrival ingest: chunk, embed, dedup, append — exactly once") {
    val in = Files.createTempDirectory("graft_sing_in").toString
    val store = Files.createTempDirectory("graft_sing_store").toString + "/docs"
    val chk = Files.createTempDirectory("graft_sing_chk").toString

    def drain(): Unit = {
      val stream = spark.readStream
        .option("wholetext", "true").text(in)
        .select(
          regexp_extract(input_file_name(), "([^/]+)$", 1).as("source"),
          col("value").as("text"))
      val chunked = Chunker.chunk(stream, "text", 40, 10)
        .select(col("source"), col("chunk_ix"), col("chunk").as("content"))
      val embedded = Ingest.hashEmbed(chunked, "content", 16)
        .withColumn("content_key", md5Long(col("content")))
        // stateful dedup: INSERT OR IGNORE across the life of the stream
        .dropDuplicates("content_key")
      val q = embedded
        .select("source", "chunk_ix", "content", "embedding")
        .writeStream.format("parquet")
        .option("path", store)
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    Files.writeString(java.nio.file.Paths.get(in, "a.txt"),
      "alpha beta gamma delta")
    drain()
    assert(spark.read.parquet(store).count() == 1)

    // second file: one duplicate doc (same text) + one new doc
    Files.writeString(java.nio.file.Paths.get(in, "b.txt"),
      "alpha beta gamma delta")
    Files.writeString(java.nio.file.Paths.get(in, "c.txt"),
      "totally new content here")
    drain()
    val rows = spark.read.parquet(store)
    assert(rows.count() == 2, "duplicate chunk must not be re-stored")
    assert(rows.filter(col("content") === "totally new content here")
      .count() == 1)
    // embeddings landed with the right shape
    assert(rows.select("embedding").as[Seq[Float]].collect()
      .forall(_.length == 16))

    // re-drain with nothing new: no-op (file tracking is exactly-once)
    drain()
    assert(spark.read.parquet(store).count() == 2)
  }

  test("upsertToStore: store-backed dedup across drains, zero state") {
    val in = Files.createTempDirectory("graft_ups_in").toString
    val store = Files.createTempDirectory("graft_ups_store").toString + "/docs"
    val chk = Files.createTempDirectory("graft_ups_chk").toString

    def drain(): Unit = {
      val stream = spark.readStream
        .option("wholetext", "true").text(in)
        .select(
          regexp_extract(input_file_name(), "([^/]+)$", 1).as("source"),
          col("value").as("text"))
        .withColumn("batch_order", md5Long(col("source")))
      val q = graft.streaming.Streaming.upsertToStore(
        stream, store, chk, "text", "batch_order")
      q.awaitTermination()
    }

    Files.writeString(java.nio.file.Paths.get(in, "a.txt"), "first doc")
    drain()
    assert(spark.read.parquet(store).count() == 1)
    // duplicate content in a NEW file (new batch): the state-free dedup
    // must catch it against the STORE, not in-memory state
    Files.writeString(java.nio.file.Paths.get(in, "b.txt"), "first doc")
    Files.writeString(java.nio.file.Paths.get(in, "c.txt"), "second doc")
    drain()
    val rows = spark.read.parquet(store)
    assert(rows.count() == 2, "store-backed dedup missed a duplicate")
    assert(rows.select("text").as[String].collect().toSet ==
      Set("first doc", "second doc"))
  }

  test("upsertToStore: an existing but file-less store directory is empty") {
    // made ahead of time, or left by a crashed first write: the store
    // read must resolve it as empty, not fail the micro-batch
    val in = Files.createTempDirectory("graft_upe_in").toString
    val store = Files.createTempDirectory("graft_upe_store").toString
    val chk = Files.createTempDirectory("graft_upe_chk").toString
    Files.writeString(java.nio.file.Paths.get(in, "a.txt"), "only doc")
    val stream = spark.readStream
      .option("wholetext", "true").text(in)
      .select(col("value").as("text"), lit(0L).as("batch_order"))
    graft.streaming.Streaming.upsertToStore(
      stream, store, chk, "text", "batch_order").awaitTermination()
    assert(spark.read.parquet(store).select("text").as[String].collect()
      .toSeq == Seq("only doc"))
  }

  test("upsertToStore keeper rule: first batch wins, min order within batch") {
    val in = Files.createTempDirectory("graft_upk_in").toString
    val store = Files.createTempDirectory("graft_upk_store").toString + "/docs"
    val chk = Files.createTempDirectory("graft_upk_chk").toString

    def drain(): Unit = {
      val stream = spark.readStream
        .option("wholetext", "true").text(in)
        .select(
          regexp_extract(input_file_name(), "([^/]+)$", 1).as("source"),
          col("value").as("content"))
        .withColumn("ord",
          regexp_extract(col("source"), "^(\\d+)", 1).cast("long"))
      val q = graft.streaming.Streaming.upsertToStore(
        stream, store, chk, "content", "ord")
      q.awaitTermination()
    }

    // batch 1: same content under orders 5 and 7 → within-batch keeper 5
    Files.writeString(java.nio.file.Paths.get(in, "5_a.txt"), "dup doc")
    Files.writeString(java.nio.file.Paths.get(in, "7_b.txt"), "dup doc")
    drain()
    val after1 = spark.read.parquet(store)
    assert(after1.count() == 1)
    assert(after1.select("ord").as[Long].head() == 5L)

    // batch 2: the same content arrives again with LOWER order 1. The
    // first batch's keeper must survive — a global-min rule would pick
    // 1. This is exactly the single-batch caveat documented on the s05
    // oracle (StreamingQueries.oracles): global min == keeper only when
    // the whole fixture drains in one batch.
    Files.writeString(java.nio.file.Paths.get(in, "1_c.txt"), "dup doc")
    drain()
    val after2 = spark.read.parquet(store)
    assert(after2.count() == 1)
    assert(after2.select("ord").as[Long].head() == 5L,
      "keeper must be min-order within FIRST batch, not global min")
  }
}

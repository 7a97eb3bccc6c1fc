package graft

import graft.functions.VectorFunctions.cosineSim
import graft.operators.Multimodal
import graft.sources.Sources
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end migration of the reference's OWN shipped artifacts: the
  * 7-row `vectors.db` SQLite store (server.js:21-32) and the
  * `documents/` corpus files — proof a reference user can move their
  * existing data into this engine unchanged.
  */
class SqliteSourceSpec extends SparkSpec {
  import spark.implicits._

  private val db = Sources.referenceDb
  private val docsDir = Sources.referenceDocs

  test("vectors.db round-trips: 7 docs, 1536-dim float32 vectors") {
    val got = Sources.fromSqliteDocuments(spark, db)
    val rows = got.select(col("doc_id"), col("content"),
        size(col("vector")).as("dim"))
      .orderBy("doc_id")
      .as[(Long, String, Int)].collect().toSeq
    assert(rows.map(_._1) == (1L to 7L))
    assert(rows.forall(_._3 == 1536), "every vector must be 1536-dim")
    assert(rows.head._2 == "John Likes ice")
    assert(rows(6)._2 == "john likes beer")
  }

  test("migrated vectors are searchable: each doc is its own top-1") {
    val docs = Sources.fromSqliteDocuments(spark, db)
    // query with doc 2's own vector: cosine(v, v) = 1 beats all others
    val q = docs.filter(col("doc_id") === 2)
      .select(col("vector").as("qe"))
    val top = docs.crossJoin(broadcast(q))
      .select(col("doc_id"), cosineSim(col("vector"), col("qe")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(1)
      .as[(Long, Double)].head()
    assert(top._1 == 2L)
    assert(math.abs(top._2 - 1.0) < 1e-6)
  }

  test("multi-page table (interior b-tree root) parses completely") {
    // 500-row fixture generated with the sqlite3 CLI lib: root page is
    // an INTERIOR table page (0x05) with several leaf children —
    // exercises the recursion the 7-row reference db never touches
    val path = getClass.getResource("/graft/multipage.db").getPath
    val got = Sources.fromSqliteDocuments(spark, path)
      .select(col("doc_id"), col("content"),
        element_at(col("vector"), 1).as("v0"))
      .orderBy("doc_id")
      .as[(Long, String, Float)].collect().toSeq
    assert(got.size == 500)
    assert(got.map(_._1) == (1L to 500L))
    assert(got(41)._2.startsWith("document number 42 "))
    // vector[0] of row i was packed as float(i)
    assert(got.forall { case (id, _, v0) => v0 == id.toFloat })
  }

  test("Engine.importSqlite migrates the reference store end-to-end") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_sqlite_store").toString + "/store"
    val engine = new Engine(spark, store)
    val n = engine.importSqlite(db)
    assert(n == 7, s"expected 7 migrated chunks, got $n")
    // idempotent: re-import dedups everything away (INSERT OR IGNORE)
    assert(engine.importSqlite(db) == 0)
    val hit = engine.search("John Likes ice creme", k = 1)
      .select("content").as[String].head()
    assert(hit == "John Likes ice creme")
  }

  test("corrupt inputs fail loudly, never silently zero-pad") {
    val real = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        getClass.getResource("/graft/multipage.db").getPath))
    // truncated mid-b-tree: must raise, not yield zero-padded rows
    val truncated = java.util.Arrays.copyOfRange(real, 0, real.length / 2)
    val e1 = intercept[IllegalArgumentException] {
      graft.sources.SqliteReader.readTable(truncated, "documents").toList
    }
    assert(e1.getMessage.contains("truncated"), e1.getMessage)
    // garbage bytes: rejected at the header
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.SqliteReader.readTable(
        Array.fill[Byte](4096)(0x41), "documents").toList
    }
    assert(e2.getMessage.contains("SQLite format 3"), e2.getMessage)
    // unknown table: clean error naming the table
    val e3 = intercept[NoSuchElementException] {
      graft.sources.SqliteReader.readTable(real, "nope").toList
    }
    assert(e3.getMessage.contains("nope"), e3.getMessage)
  }

  test("tail truncation never silently corrupts: pristine rows or a raise") {
    // the cell-extent guard's contract: clipping ANY suffix of the file
    // either leaves every decoded row bit-identical (only unused space
    // was clipped) or raises loudly — it must never zero-pad a payload
    def canon(r: graft.sources.SqliteReader.Row): (Long, Seq[Any]) =
      (r.rowid, r.values.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      })
    val real = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        getClass.getResource("/graft/multipage.db").getPath))
    val pristine = graft.sources.SqliteReader
      .readTable(real, "documents").map(canon).toList
    for (k <- Seq(1, 3, 100, 4000, 5000)) {
      val cut = java.util.Arrays.copyOfRange(real, 0, real.length - k)
      try {
        val got = graft.sources.SqliteReader
          .readTable(cut, "documents").map(canon).toList
        assert(got == pristine,
          s"truncating $k bytes silently altered decoded rows")
      } catch {
        case e: Exception =>
          assert(e.getMessage.contains("overruns") ||
            e.getMessage.contains("truncated") ||
            e.getMessage.contains("page"), s"k=$k: ${e.getMessage}")
      }
    }
  }

  test("binaryDir payload lengths match the real file sizes") {
    val expected = new java.io.File(docsDir).listFiles()
      .map(f => f.getName -> f.length()).toMap
    val got = Sources.binaryDir(spark, docsDir)
      .select(col("source"), octet_length(col("payload")).cast("long")
        .as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == expected, s"got $got, want $expected")
  }

  test("binaryDir feeds decodeBatch: real files through the media path") {
    val media = Sources.binaryDir(spark, docsDir)
      .withColumn("doc_id",
        row_number().over(Window.partitionBy(lit(0)).orderBy("source"))
          .cast("long"))
    val decoded = Multimodal.decodeBatch(media, featureDim = 8)
    val rows = decoded.select("doc_id", "byte_len", "format")
      .as[(Long, Int, String)].collect().toSeq.sortBy(_._1)
    assert(rows.map(_._2).sorted ==
      new java.io.File(docsDir).listFiles().map(_.length.toInt).toSeq.sorted)
    assert(rows.forall(r => r._3.nonEmpty))
  }
}

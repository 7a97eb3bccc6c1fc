package graft

import java.nio.file.{Files, Paths}

import graft.sources.{SqliteReader, SqliteWriter}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The writer is verified against the engine's OWN independent parser
  * ([[SqliteReader]] — written rounds earlier against the reference's
  * stock-sqlite file, so reader bugs and writer bugs can't cancel) and
  * structurally against the file-format invariants. A second,
  * out-of-JVM cross-check opens the exported files with the stock
  * `sqlite3` C library (scripts/sqlitecheck.py — the library this build
  * cannot link); its result is recorded in BASELINE.md.
  */
class SqliteWriterSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory("graft_sqlite_w").toString
    Paths.get(d, name).toString
  }

  private def readAll(path: String): Seq[SqliteReader.Row] =
    SqliteReader.readTable(Files.readAllBytes(Paths.get(path)), "t").toSeq

  private val createT = "CREATE TABLE t (id INTEGER PRIMARY KEY, a, b, c)"

  test("every serial type round-trips through our independent reader") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("a", LongType, nullable = true),
      StructField("b", StringType, nullable = true),
      StructField("c", BinaryType, nullable = true)))
    // int size classes: 1/2/3/4/6/8-byte, both signs, the 0/1 pair
    val rows = Seq(
      Row(1L, 0L, "", Array[Byte]()),
      Row(2L, 1L, "plain ascii", Array[Byte](1, 2, 3)),
      Row(3L, -1L, "unicode: ünïcödé — ✓", Array[Byte](-128, 127, 0)),
      Row(4L, 127L, null, null),
      Row(5L, -32768L, "two-byte int row", Array[Byte](9)),
      Row(6L, 8388607L, "three-byte int row", Array[Byte](8)),
      Row(7L, -2147483648L, "four-byte int row", Array[Byte](7)),
      Row(8L, 140737488355327L, "six-byte int row", Array[Byte](6)),
      Row(9L, Long.MinValue, "eight-byte int row", Array[Byte](5)),
      Row(10L, null, "null int row", Array[Byte](4)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val out = tmp("typed.db")
    val stats = SqliteWriter.write(df, out, "t", createT, numPartitions = 3)
    // 3 range partitions → 3 leaves (each partition opens its own) →
    // one interior root above them
    assert(stats.rows == 10 && stats.overflowPages == 0)
    val got = readAll(out)
    assert(got.map(_.rowid) == (1L to 10L))
    // INTEGER PRIMARY KEY alias: record stores NULL, reader surfaces id
    assert(got.map(_.values(0)) == (1L to 10L))
    assert(got(1).values(1) == 1L && got(2).values(1) == -1L)
    assert(got(8).values(1) == Long.MinValue)
    assert(got(9).values(1) == null && got(3).values(2) == null)
    assert(got(2).values(2) == "unicode: ünïcödé — ✓")
    assert(got(2).values(3).asInstanceOf[Array[Byte]].toSeq ==
      Seq[Byte](-128, 127, 0))
  }

  test("doubles round-trip bit-exactly (incl. negatives and denormals)") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("x", DoubleType, nullable = false)))
    val vals = Seq(0.0, -0.0, 1.5, -123.456789, java.lang.Double.MIN_VALUE,
      java.lang.Double.MAX_VALUE, math.Pi)
    val rows = vals.zipWithIndex.map { case (v, i) => Row(i + 1L, v) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val out = tmp("dbl.db")
    SqliteWriter.write(df, out, "t",
      "CREATE TABLE t (id INTEGER PRIMARY KEY, x REAL)")
    val got = readAll(out).map(_.values(1).asInstanceOf[Double])
    assert(got.map(java.lang.Double.doubleToRawLongBits) ==
      vals.map(java.lang.Double.doubleToRawLongBits))
  }

  test("reference-shaped overflow records (6144-byte blobs) round-trip") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("content", StringType, nullable = false),
      StructField("vector", BinaryType, nullable = false)))
    val rows = (1L to 9L).map { i =>
      val blob = Array.tabulate(6144)(j => ((i * 131 + j * 7) % 251).toByte)
      Row(i, s"doc-$i " + ("x" * (i * 100).toInt), blob)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val out = tmp("ovf.db")
    val stats = SqliteWriter.write(df, out, "documents_like", // name ≠ t
      "CREATE TABLE documents_like (id INTEGER PRIMARY KEY, content TEXT, vector BLOB)")
    assert(stats.overflowPages >= 9,
      "every 6144-byte record must spill at least one overflow page")
    val got = SqliteReader.readTable(
      Files.readAllBytes(Paths.get(out)), "documents_like").toSeq
    assert(got.size == 9)
    got.zip(rows).foreach { case (g, r) =>
      assert(g.values(1) == r.getString(1))
      assert(g.values(2).asInstanceOf[Array[Byte]].toSeq ==
        r.getAs[Array[Byte]](2).toSeq)
    }
  }

  test("3k rows build a multi-LEVEL interior tree and read back fully") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("pad", StringType, nullable = false)))
    // ~920-byte records → 4 cells/leaf → ~750 leaves; an interior page
    // holds ≤510 children → 2 interior pages + a root above them =
    // THREE levels, exercising the level recursion and the lone-child
    // rebalance boundary
    val rows = (1L to 3000L).map(i => Row(i, s"row-$i-" + ("p" * 910)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8), schema)
    val out = tmp("deep.db")
    val stats = SqliteWriter.write(df, out, "t",
      "CREATE TABLE t (id INTEGER PRIMARY KEY, pad TEXT)",
      numPartitions = 8)
    assert(stats.levels >= 3 && stats.interiorPages >= 3,
      s"expected a multi-level tree, got $stats")
    val got = readAll(out)
    assert(got.size == 3000)
    assert(got.map(_.rowid) == (1L to 3000L))
    assert(got(1499).values(1) == s"row-1500-" + ("p" * 910))
    // file-format invariants: magic, declared page count == file size
    val bytes = Files.readAllBytes(Paths.get(out))
    assert(new String(bytes, 0, 15, "ISO-8859-1") == "SQLite format 3")
    val declared = ((bytes(28) & 0xffL) << 24) | ((bytes(29) & 0xffL) << 16) |
      ((bytes(30) & 0xffL) << 8) | (bytes(31) & 0xffL)
    assert(declared * 4096 == bytes.length,
      s"header page count $declared vs file ${bytes.length} bytes")
  }

  test("skewed partitioning (empty ranges) still streams pages in order") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", LongType, nullable = false)))
    // all rowids in a narrow band → most of the 8 range partitions empty
    val rows = (1L to 40L).map(i => Row(i, i * 10))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8), schema)
    val out = tmp("skew.db")
    SqliteWriter.write(df, out, "t",
      "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
      numPartitions = 8)
    assert(readAll(out).map(_.values(1)) == (1L to 40L).map(_ * 10))
  }

  test("empty table writes a valid file with an empty root leaf") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    val out = tmp("empty.db")
    val stats = SqliteWriter.write(df, out, "t",
      "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)")
    assert(stats.rows == 0 && stats.dataPages == 0)
    assert(readAll(out).isEmpty)
  }

  test("duplicate rowids are rejected, not written as a malformed tree") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, 1L), Row(1L, 2L)), 1),
      schema)
    val out = tmp("dup.db")
    val e = intercept[org.apache.spark.SparkException] {
      SqliteWriter.write(df, out, "t",
        "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER)",
        numPartitions = 1)
    }
    assert(e.getMessage.contains("strictly increasing") ||
      Option(e.getCause).exists(_.getMessage.contains("strictly increasing")))
  }

  test("full schema: UNIQUE autoindex + seeded sqlite_sequence") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("content", StringType, nullable = false),
      StructField("vector", BinaryType, nullable = false)))
    // contents long enough that index ENTRIES overflow their pages
    // (index local threshold ≈ 1002 B) and numerous enough for a
    // multi-page index leaf level + an interior level above it
    val rows = (1L to 600L).map { i =>
      Row(i, f"doc-$i%05d-" + ("c" * (if (i % 7 == 0) 1500 else 200)),
        Array.tabulate(64)(j => (i + j).toByte))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    val out = tmp("full.db")
    val stats = SqliteWriter.writeFull(df, out, SqliteWriter.ExportSchema(
      "documents",
      "CREATE TABLE documents (id INTEGER PRIMARY KEY AUTOINCREMENT, " +
        "content TEXT UNIQUE, vector BLOB)",
      uniqueTextCol = Some(1), autoincrement = true), numPartitions = 4)
    assert(stats.indexPages > 10 && stats.indexLevels >= 2,
      s"expected an overflowing multi-level index, got $stats")
    val bytes = Files.readAllBytes(Paths.get(out))
    // table rows intact under the 3-row sqlite_master
    val got = SqliteReader.readTable(bytes, "documents").toSeq
    assert(got.size == 600 && got.map(_.rowid) == (1L to 600L))
    assert(got(6).values(1) == f"doc-${7}%05d-" + ("c" * 1500))
    // the sequence table reads back with the reader too: seeded at max
    val seq = SqliteReader.readTable(bytes, "sqlite_sequence").toSeq
    assert(seq.map(r => (r.values(0), r.values(1))) ==
      Seq(("documents", 600L)))
    // declared page count still equals the file size with both extra
    // trees present
    val declared = ((bytes(28) & 0xffL) << 24) | ((bytes(29) & 0xffL) << 16) |
      ((bytes(30) & 0xffL) << 8) | (bytes(31) & 0xffL)
    assert(declared * 4096 == bytes.length)
    // stock-sqlite semantics (integrity_check, UNIQUE rejection on
    // INSERT, autoincrement continuation, index-backed lookups) are
    // cross-checked out-of-JVM by scripts/sqlitecheck.py
  }

  test("duplicate values in the UNIQUE column are rejected at export") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("content", StringType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, "same"), Row(2L, "same")), 1), schema)
    val e = intercept[org.apache.spark.SparkException] {
      SqliteWriter.writeFull(df, tmp("uniq.db"),
        SqliteWriter.ExportSchema("t",
          "CREATE TABLE t (id INTEGER PRIMARY KEY, content TEXT UNIQUE)",
          uniqueTextCol = Some(1)), numPartitions = 1)
    }
    assert(e.getMessage.contains("UNIQUE constraint") ||
      Option(e.getCause).exists(_.getMessage.contains("UNIQUE constraint")))
  }

  test("boundary-straddling UNIQUE duplicates are rejected (driver check)") {
    // the executor-side check is adjacency WITHIN a partition; a
    // duplicate pair split ACROSS two range partitions passes it, so
    // the driver's bounds check must fire instead
    SqliteWriter.checkIndexPartitionBounds(
      IndexedSeq(("a", "f"), ("g", "m"), ("n", "z"))) // strictly increasing: ok
    val e = intercept[IllegalArgumentException] {
      SqliteWriter.checkIndexPartitionBounds(
        IndexedSeq(("a", "same"), ("same", "z")))
    }
    assert(e.getMessage.contains("UNIQUE constraint") &&
      e.getMessage.contains("straddles"))
    // the comparison is UTF-8 byte order (= the range partitioner's
    // UTF8String order and SQLite BINARY collation), NOT Java UTF-16
    // order: U+10000 (surrogate pair, compareTo-below U+FFFD) sorts
    // ABOVE U+FFFD in UTF-8 bytes, so this legitimate order must pass
    SqliteWriter.checkIndexPartitionBounds(
      IndexedSeq(("a", "�"), ("𐀀", "𐀁")))
  }

  test("a cross-partition duplicate pair fails the export end-to-end") {
    // 16 distinct keys except ids 8/9 share content at the median of
    // the key order — the 2-way range partitioner's boundary lands
    // between them (all 16 keys are sampled at this size), so each
    // partition's local adjacency check passes and only the driver
    // bounds check can reject
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("content", StringType, nullable = false)))
    val rows = (1L to 16L).map { i =>
      Row(i, if (i == 8L || i == 9L) "m-dup"
             else if (i < 8L) f"a$i%02d" else f"z$i%02d")
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val e = intercept[Exception] {
      SqliteWriter.writeFull(df, tmp("xdup.db"),
        SqliteWriter.ExportSchema("t",
          "CREATE TABLE t (id INTEGER PRIMARY KEY, content TEXT UNIQUE)",
          uniqueTextCol = Some(1)), numPartitions = 2)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("straddles")), msgs(e))
  }

  test("full schema on an empty table: empty index root + empty sequence") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("content", StringType, nullable = false)))
    val out = tmp("emptyfull.db")
    val stats = SqliteWriter.writeFull(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
      out, SqliteWriter.ExportSchema("t",
        "CREATE TABLE t (id INTEGER PRIMARY KEY AUTOINCREMENT, " +
          "content TEXT UNIQUE)",
        uniqueTextCol = Some(1), autoincrement = true))
    assert(stats.rows == 0)
    val bytes = Files.readAllBytes(Paths.get(out))
    assert(SqliteReader.readTable(bytes, "t").isEmpty)
    assert(SqliteReader.readTable(bytes, "sqlite_sequence").isEmpty)
  }

  test("varint codec matches the reader's on the full boundary set") {
    val cases = Seq(0L, 1L, 127L, 128L, 16383L, 16384L, (1L << 21) - 1,
      1L << 21, (1L << 56) - 1, 1L << 56, Long.MaxValue, -1L, Long.MinValue)
    cases.foreach { v =>
      val buf = new Array[Byte](9)
      val n = SqliteWriter.putVarint(buf, 0, v)
      assert(n == SqliteWriter.varintLen(v))
      val (got, used) = SqliteReader.varintAt(buf, 0)
      assert(got == v && used == n, s"varint round-trip failed for $v")
    }
  }

  test("localSize splits table and index payloads at the documented " +
      "boundaries, and the writer's cells read back through the reader") {
    import SqliteReader.localSize
    // 4096-byte pages: maxLocal 4061 (table) / 1002 (index), minLocal
    // 489; past maxLocal, K = 489 + (len - 489) % 4092, or 489 when K
    // exceeds maxLocal
    val u = SqliteWriter.Usable
    assert(localSize(4061, u, index = false) == 4061)
    assert(localSize(4062, u, index = false) == 489)  // K = 4062
    assert(localSize(6200, u, index = false) == 2108) // K fits
    assert(localSize(8154, u, index = false) == 489)  // K = 4062
    assert(localSize(1002, u, index = true) == 1002)
    assert(localSize(1003, u, index = true) == 489)   // K = 1003
    assert(localSize(4681, u, index = true) == 589)   // K fits
    assert(localSize(5181, u, index = true) == 489)   // K = 1089
    // a text of n ASCII bytes makes a table record of n + 4 bytes
    // (NULL rowid alias) and an index record of n + 5 (rowid < 128),
    // so these contents put cells at every length above
    val lens = Seq(4057, 4058, 6196, 8150, 997, 998, 4676, 5176)
    val texts = lens.zipWithIndex.map { case (n, i) =>
      ('a' + i).toChar.toString + "x" * (n - 1) }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("content", StringType, nullable = false)))
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i + 1L, t) }
    val out = tmp("split.db")
    SqliteWriter.writeFull(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema),
      out, SqliteWriter.ExportSchema("t",
        "CREATE TABLE t (id INTEGER PRIMARY KEY, content TEXT UNIQUE)",
        uniqueTextCol = Some(1)), numPartitions = 1)
    val bytes = Files.readAllBytes(Paths.get(out))
    assert(SqliteReader.readTable(bytes, "t").map(_.values(1)).toSeq ==
      texts)
    val (hits, _) = SqliteReader.readTableByContent(bytes, "t",
      Array(0, 1), texts)
    assert(hits.map(r => (r(0), r(1))).toSeq ==
      texts.zipWithIndex.map { case (t, i) => (i + 1L, t) })
  }

  test("countRows and readTableRanges visit the same pages on a " +
      "multi-level file, for seeded random rowid ranges") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("pad", StringType, nullable = false)))
    val rows = (1L to 3000L).map(i => Row(i, s"row-$i-" + ("p" * 910)))
    val out = tmp("deep_ranges.db")
    val stats = SqliteWriter.write(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 8), schema), out, "t",
      "CREATE TABLE t (id INTEGER PRIMARY KEY, pad TEXT)",
      numPartitions = 8)
    assert(stats.levels >= 3, s"expected a multi-level tree, got $stats")
    val bytes = Files.readAllBytes(Paths.get(out))
    val rnd = new scala.util.Random(11)
    val random = (1 to 40).map { _ =>
      // strictly increasing endpoints pair into sorted-disjoint ranges
      Iterator.continually(rnd.nextInt(3040) - 20L).distinct
        .take(2 * (1 + rnd.nextInt(3))).toSeq.sorted
        .grouped(2).map(p => (p(0), p(1))).toIndexedSeq
    }
    (SqliteReader.FullRange +: IndexedSeq((Long.MinValue, Long.MinValue)) +:
        random).foreach { ranges =>
      val (it, readPages) =
        SqliteReader.readTableRanges(bytes, "t", Array(0), ranges)
      val ids = it.map(_(0)).toVector
      val (n, countPages) = SqliteReader.countRows(bytes, "t", ranges)
      assert(ids == (1L to 3000L).filter(id =>
        ranges.exists(r => r._1 <= id && id <= r._2)))
      assert(n == ids.size && countPages == readPages(),
        s"$ranges: counted $n rows over $countPages pages, read " +
          s"${ids.size} over ${readPages()}")
    }
  }
}

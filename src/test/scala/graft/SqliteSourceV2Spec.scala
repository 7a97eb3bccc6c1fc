package graft

import java.nio.file.{Files, Paths}

import graft.sources.{Sources, SqliteReader}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types._

/** The DSv2 registration (`format("sqlite")`) against both halves of
  * the migration seam: the REFERENCE's own vectors.db (read parity
  * with [[Sources.fromSqliteDocumentsRaw]]) and the engine's own
  * full-schema export (write → DSv2 read round-trip). Column pruning
  * is asserted at the plan level (the scan's readSchema) AND at the
  * decode level ([[SqliteReader.readTableRanges]] skips bodies).
  */
class SqliteSourceV2Spec extends SparkSpec {

  private val RefDb = Sources.referenceDb

  test("format(\"sqlite\") reads the reference vectors.db with an " +
      "inferred DDL schema, matching the library route") {
    val df = spark.read.format("sqlite").load(RefDb)
    assert(df.schema == StructType(Seq(
      StructField("id", LongType),
      StructField("content", StringType),
      StructField("vector", BinaryType))))
    val viaLib = Sources.fromSqliteDocumentsRaw(spark, RefDb)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[Array[Byte]](2).toSeq))
    val viaV2 = df.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[Array[Byte]](2).toSeq))
    assert(viaV2.length == 7 && viaV2.toSeq == viaLib.toSeq)
  }

  test("a blob-free projection prunes the scan to (id, content)") {
    val df = spark.read.format("sqlite").load(RefDb)
      .select("content", "id")
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.readSchema()
    }
    assert(scans.nonEmpty)
    assert(scans.head.fieldNames.toSeq == Seq("id", "content"),
      s"pruned readSchema was ${scans.head.fieldNames.toSeq}")
    // values still correct through the projected decode
    val got = df.orderBy("id").collect()
      .map(r => (r.getString(0).take(20), r.getLong(1)))
    assert(got.length == 7 && got.map(_._2).toSeq == (1L to 7L))
  }

  test("readTableProjected skips unrequested bodies but keeps values " +
      "and the rowid alias") {
    val bytes = Files.readAllBytes(Paths.get(RefDb))
    val full = SqliteReader.readTable(bytes, "documents").toSeq
    val proj = SqliteReader.readTableRanges(bytes, "documents",
      Array(2, 0), SqliteReader.FullRange)._1.toSeq
    assert(proj.length == full.length)
    proj.zip(full).foreach { case (p, f) =>
      assert(p(1) == f.values(0)) // rowid alias on ordinal 0
      assert(p(0).asInstanceOf[Array[Byte]].toSeq ==
        f.values(2).asInstanceOf[Array[Byte]].toSeq)
    }
  }

  test("write -> DSv2 read round-trip over a full-schema export") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("content", StringType, nullable = false),
      StructField("vector", BinaryType, nullable = false)))
    val rows = (1L to 40L).map(i =>
      Row(i, f"doc-$i%03d", Array.tabulate(24)(j => (i + j).toByte)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val dir = Files.createTempDirectory("graft_dsv2").toString
    val db = Paths.get(dir, "t.db").toString
    Sources.toSqliteDocuments(df, db, numPartitions = 3,
      fullSchema = true)
    val back = spark.read.format("sqlite").load(db)
    assert(back.schema.fieldNames.toSeq ==
      Seq("id", "content", "vector"))
    val got = back.orderBy("id").collect()
    assert(got.length == 40)
    assert(got.map(_.getLong(0)).toSeq == (1L to 40L))
    assert(got(4).getString(1) == "doc-005")
    assert(got(39).getAs[Array[Byte]](2).toSeq ==
      Array.tabulate(24)(j => (40 + j).toByte).toSeq)
    // directory + table option route: load the parent dir
    val viaDir = spark.read.format("sqlite")
      .option("table", "documents").load(dir)
    assert(viaDir.count() == 40)
  }

  test("rowid filter pushdown: a 1-row lookup reads O(depth) pages, " +
      "ranges/IN prune subtrees, non-alias tables stay residual") {
    import org.apache.spark.sql.functions.col
    import graft.sources.SqliteSourceV2
    // a file WITH an interior level: 2000 short rows over 4-KiB pages
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("content", StringType, nullable = false),
      StructField("vector", BinaryType, nullable = false)))
    val rows = (1L to 2000L).map(i =>
      Row(i, f"row-$i%04d", Array.tabulate(4)(j => (i + j).toByte)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    val dir = Files.createTempDirectory("graft_push").toString
    val db = Paths.get(dir, "p.db").toString
    df.write.format("sqlite").mode("overwrite")
      .option("table", "docs").save(db)
    val bytes = Files.readAllBytes(Paths.get(db))
    // the meter: a full scan visits every leaf; the 1-row range
    // visits root + one child per level (O(depth))
    val (fullIt, fullPages) = SqliteReader.readTableRanges(bytes,
      "docs", Array(0, 1), SqliteReader.FullRange)
    assert(fullIt.size == 2000)
    val (oneIt, onePages) = SqliteReader.readTableRanges(bytes,
      "docs", Array(0, 1), IndexedSeq((1234L, 1234L)))
    val one = oneIt.toSeq
    assert(one.map(_.head) == Seq(1234L) &&
      one.head(1) == "row-1234")
    assert(fullPages() >= 10,
      s"fixture too small for the claim: ${fullPages()} pages")
    assert(onePages() <= 3, // root + ≤2 levels on this fixture
      s"1-row lookup visited ${onePages()} of ${fullPages()} pages")
    // end-to-end through the DSv2 plan: pushed ranges are IN the scan
    def scanOf(q: org.apache.spark.sql.DataFrame)
        : graft.sources.SqliteScan =
      q.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[graft.sources.SqliteScan]
      }.head
    val base = spark.read.format("sqlite").option("table", "docs")
      .load(db)
    val eq = base.filter(col("id") === 42L)
    assert(scanOf(eq).pushedRanges == IndexedSeq((42L, 42L)))
    assert(eq.collect().map(_.getString(1)).toSeq == Seq("row-0042"))
    val in = base.filter(col("id").isin(7L, 3L, 1999L))
    assert(scanOf(in).pushedRanges ==
      IndexedSeq((3L, 3L), (7L, 7L), (1999L, 1999L)))
    assert(in.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(3L, 7L, 1999L))
    val rng = base.filter(col("id") > 10L && col("id") <= 13L)
    assert(scanOf(rng).pushedRanges == IndexedSeq((11L, 13L)))
    assert(rng.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(11L, 12L, 13L))
    // a contradiction prunes the whole scan at plan time
    val none = base.filter(col("id") > 100L && col("id") < 50L)
    assert(scanOf(none).pushedRanges.isEmpty && none.count() == 0)
    // non-rowid filters stay residual and still evaluate correctly
    val resid = base.filter(col("content") === "row-0099")
    assert(scanOf(resid).pushedRanges == SqliteReader.FullRange)
    assert(resid.collect().map(_.getLong(0)).toSeq == Seq(99L))
    // a table WITHOUT the rowid alias refuses pushdown (col-0 values
    // are real stored values, rowids independent — pruning by rowid
    // would be wrong) but filters still evaluate post-scan
    val db2 = Paths.get(dir, "noalias.db").toString
    graft.sources.SqliteWriter.write(df.limit(50), db2, "docs",
      "CREATE TABLE docs (id BIGINT, content TEXT, vector BLOB)",
      numPartitions = 2, rowidAlias = false)
    val base2 = spark.read.format("sqlite").option("table", "docs")
      .load(db2)
    val eq2 = base2.filter(col("id") === 5L)
    assert(scanOf(eq2).pushedRanges == SqliteReader.FullRange)
    assert(eq2.collect().map(_.getString(1)).toSeq == Seq("row-0005"))
    // the two-pointer interval intersection, directly
    assert(SqliteSourceV2.intersectRanges(
      IndexedSeq((1L, 10L), (20L, 30L)),
      IndexedSeq((5L, 25L))) == IndexedSeq((5L, 10L), (20L, 25L)))
  }

  test("content-key pushdown through the UNIQUE autoindex: " +
      "O(depth + k) pages, plan-asserted keys, pushed COUNT(*)") {
    import org.apache.spark.sql.functions.col
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("content", StringType, nullable = false),
      StructField("vector", BinaryType, nullable = false)))
    val rows = (1L to 2000L).map(i =>
      Row(i, f"row-$i%04d", Array.tabulate(4)(j => (i + j).toByte)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    val dir = Files.createTempDirectory("graft_cpush").toString
    val db = Paths.get(dir, "c.db").toString
    df.write.format("sqlite").mode("overwrite")
      .option("table", "docs").option("unique", "content").save(db)
    val bytes = Files.readAllBytes(Paths.get(db))
    // the meter: a full scan visits every leaf; a 3-key content
    // lookup descends the autoindex once (O(depth + k) index pages)
    // then point-reads the 2 hit rowids (O(depth) each)
    val (fullIt, fullPages) = SqliteReader.readTableRanges(bytes,
      "docs", Array(0, 1), SqliteReader.FullRange)
    assert(fullIt.size == 2000)
    val (hitIt, hitPages) = SqliteReader.readTableByContent(bytes,
      "docs", Array(0, 1), Seq("row-1234", "row-0007", "missing"))
    val hits = hitIt.toSeq
    assert(hits.map(_.head).toSet == Set(1234L, 7L) &&
      hits.map(_(1)).toSet == Set("row-1234", "row-0007"))
    assert(fullPages() >= 10,
      s"fixture too small for the claim: ${fullPages()} pages")
    assert(hitPages() <= 9,
      s"content lookup visited ${hitPages()} of ${fullPages()} pages")
    // COUNT(*) from cell counts: no payload decode, pages bounded by
    // the b-tree walk; a content-keyed count reads NO table page
    val (n, cPages) = SqliteReader.countRows(bytes, "docs")
    assert(n == 2000L && cPages <= fullPages())
    val (nRange, _) = SqliteReader.countRows(bytes, "docs",
      IndexedSeq((100L, 199L)))
    assert(nRange == 100L)
    val (nc, ncPages) = SqliteReader.countByContent(bytes, "docs",
      Seq("row-0001", "row-0002", "nope"))
    assert(nc == 2L && ncPages <= 5,
      s"content count visited $ncPages pages")
    // end-to-end through the DSv2 plan
    def scanOf(q: org.apache.spark.sql.DataFrame)
        : graft.sources.SqliteScan =
      q.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[graft.sources.SqliteScan]
      }.head
    val base = spark.read.format("sqlite").option("table", "docs")
      .load(db)
    val eq = base.filter(col("content") === "row-0099")
    assert(scanOf(eq).pushedKeys.contains(Seq("row-0099")))
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(99L))
    val in = base.filter(
      col("content").isin("row-0003", "row-1999", "zzz"))
    assert(scanOf(in).pushedKeys.map(_.toSet)
      .contains(Set("row-0003", "row-1999", "zzz")))
    assert(in.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(3L, 1999L))
    // composes with a pushed rowid range (intersection)
    val both = base.filter(
      col("content").isin("row-0003", "row-1999") && col("id") < 100L)
    assert(both.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // contradictory content key sets prune the scan at plan time
    val none = base.filter(col("content").isin("row-0003", "row-0004")
      && col("content").isin("row-0005"))
    assert(scanOf(none).pushedKeys.contains(Seq.empty) &&
      none.count() == 0)
    // the pushed ungrouped COUNT(*) — and it composes with filters
    val cnt = base.groupBy().count()
    assert(scanOf(cnt).countCols == 1)
    assert(cnt.head().getLong(0) == 2000L)
    assert(base.filter(col("id") >= 100L && col("id") < 200L)
      .groupBy().count().head().getLong(0) == 100L)
    assert(base.filter(col("content").isin("row-0005", "zzz"))
      .groupBy().count().head().getLong(0) == 1L)
    // a file WITHOUT the autoindex: content filters stay residual
    // (and still evaluate correctly post-scan)
    val db2 = Paths.get(dir, "noidx.db").toString
    df.limit(200).write.format("sqlite").mode("overwrite")
      .option("table", "docs").save(db2)
    val base2 = spark.read.format("sqlite").option("table", "docs")
      .load(db2)
    val eq2 = base2.filter(col("content") === "row-0099")
    assert(scanOf(eq2).pushedKeys.isEmpty)
    assert(eq2.collect().map(_.getLong(0)).toSeq == Seq(99L))
    // mixed-DDL directory: pushdown planned from the indexed head
    // file must FAIL LOUDLY on a file without the index, not filter
    // it wrong
    val dir3 = Files.createTempDirectory("graft_cpush_mix").toString
    df.limit(100).write.format("sqlite").mode("overwrite")
      .option("table", "docs").option("unique", "content")
      .save(Paths.get(dir3, "a.db").toString)
    df.limit(100).write.format("sqlite").mode("overwrite")
      .option("table", "docs")
      .save(Paths.get(dir3, "b.db").toString)
    val mixed = spark.read.format("sqlite").option("table", "docs")
      .load(dir3).filter(col("content") === "row-0042")
    def msgs3(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs3(t.getCause)
    val e3 = intercept[Exception] { mixed.collect() }
    assert(msgs3(e3).exists(_.contains("indexes a different column")),
      msgs3(e3).take(3))
  }

  test("DSv2 WRITE: df.write.format(\"sqlite\") round-trips, derives " +
      "the DDL, enforces UNIQUE, rejects append and remote paths") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("content", StringType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      StructField("vector", BinaryType, nullable = false)))
    val rows = (1L to 40L).map(i =>
      Row(i, f"w-$i%03d", i * 0.5,
        Array.tabulate(8)(j => (i + j).toByte)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val dir = Files.createTempDirectory("graft_dsv2w").toString
    val db = Paths.get(dir, "w.db").toString
    df.write.format("sqlite").mode("overwrite")
      .option("table", "docs").option("unique", "content").save(db)
    // read back via the DSv2 source: schema inferred from the
    // DERIVED DDL (INTEGER/TEXT/REAL/BLOB storage classes)
    val back = spark.read.format("sqlite").option("table", "docs")
      .load(db)
    assert(back.schema == StructType(Seq(
      StructField("id", LongType),
      StructField("content", StringType),
      StructField("score", DoubleType),
      StructField("vector", BinaryType))))
    val got = back.orderBy("id").collect()
    assert(got.length == 40 && got(4).getString(1) == "w-005" &&
      got(4).getDouble(2) == 2.5 &&
      got(39).getAs[Array[Byte]](3).toSeq ==
        Array.tabulate(8)(j => (40 + j).toByte).toSeq)
    // the stored DDL carries the rowid alias + UNIQUE so the library
    // reader and a stock sqlite3 both see the constraint
    val ddl = SqliteReader.readTable(
        java.nio.file.Files.readAllBytes(Paths.get(db)),
        "sqlite_master")
      .collectFirst {
        case r if r.values.lift(1).contains("docs") &&
          r.values.head == "table" =>
          r.values(4).asInstanceOf[String]
      }.get
    assert(ddl.contains("id INTEGER PRIMARY KEY") &&
      ddl.contains("content TEXT UNIQUE"), ddl)
    // overwrite of an EXISTING file is a fresh assembly
    df.limit(10).write.format("sqlite").mode("overwrite")
      .option("table", "docs").save(db)
    assert(spark.read.format("sqlite").option("table", "docs")
      .load(db).count() == 10)
    // duplicate content through the DSv2 route raises the UNIQUE
    // guard before a corrupt file ships
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val dup = intercept[Exception] {
      import org.apache.spark.sql.functions.{col, lit}
      df.select(col("id"), lit("same").as("content"), col("score"),
          col("vector"))
        .write.format("sqlite").mode("overwrite")
        .option("table", "docs").option("unique", "content")
        .save(Paths.get(dir, "dup.db").toString)
    }
    assert(msgs(dup).exists(_.contains("UNIQUE")), msgs(dup))
    // append refuses loudly (single-writer format)
    val app = intercept[Exception] {
      df.write.format("sqlite").mode("append")
        .option("table", "docs").save(db)
    }
    assert(msgs(app).exists(_.contains("only mode(\"overwrite\")")),
      msgs(app))
    // non-local URIs refuse loudly (the final stream is java.io)
    val rem = intercept[Exception] {
      df.write.format("sqlite").mode("overwrite")
        .save("hdfs://nn/remote.db")
    }
    assert(msgs(rem).exists(_.contains("only local paths")), msgs(rem))
  }
}

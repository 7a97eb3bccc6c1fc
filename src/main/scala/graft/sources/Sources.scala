package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink surface beyond the driver's parquet tables.
  *
  * Reference coverage: the documents-directory scan (O1, reference
  * server.js:161-190), the CSV sink (O20, embed.js:106-127); CSV/JSON
  * reads are free Spark capability (SURVEY.md §2.2).
  */
object Sources {

  /** Where the reference service's shipped store lives: `vectors.db`
    * plus the `documents/` corpus. Set with `-Dgraft.reference.dir`;
    * the default is the committed fixture `scripts/mkreference.py`
    * writes, resolved against the working directory (the repository
    * root under sbt).
    */
  lazy val referenceDir: String = new java.io.File(
    sys.props.getOrElse("graft.reference.dir",
      "src/test/resources/graft/reference")).getAbsolutePath
  def referenceDb: String = s"$referenceDir/vectors.db"
  def referenceDocs: String = s"$referenceDir/documents"

  /** Whole-file directory scan — one row per file, like the reference's
    * readdir + readFile loop (server.js:165-170), but distributed:
    * (source, text) with source = file name.
    */
  def textDir(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("wholetext", "true").text(dir)
      .select(
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("source"),
        col("value").as("text"))

  /** CSV sink (header, like embed.js:108-114) + source. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** JSON-lines sink + source. */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** Opaque whole-file scan: (path, length, payload) per file — the
    * multimodal entry point (payload stays `binary`; see
    * [[graft.operators.Multimodal]]).
    */
  def binaryDir(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("source"),
        col("length"), col("content").as("payload"))

  /** Migration path for an existing reference store: read a
    * `vectors.db` SQLite file (reference server.js:21-32 schema:
    * `documents(id INTEGER PRIMARY KEY, content TEXT UNIQUE, vector
    * BLOB)`) into (doc_id, content, vector) with the 1536-dim
    * little-endian float32 blob decoded (reference server.js:86).
    *
    * `path` may be a glob over many .db files; parsing runs inside
    * executors, one task per file ([[SqliteReader]] is a pure function
    * over the file bytes). A single SQLite file is an inherently
    * serial read — the format is single-node by design — so this is
    * the one-time migration scan, not an operational source: land the
    * output in the parquet store and query that.
    */
  def fromSqliteDocuments(spark: SparkSession, path: String): DataFrame = {
    import graft.functions.VectorFunctions.floatVectorFromBinary
    fromSqliteDocumentsRaw(spark, path)
      .select(col("doc_id"), col("content"),
        floatVectorFromBinary(col("vector_blob")).as("vector"))
  }

  /** [[fromSqliteDocuments]] without the blob decode — (doc_id,
    * content, vector_blob) with the RAW bytes, for byte-level
    * round-trip checks against [[SqliteWriter]] exports (i26) and for
    * callers that re-encode rather than search. */
  def fromSqliteDocumentsRaw(spark: SparkSession, path: String)
      : DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select("content").as[Array[Byte]]
      .flatMap { bytes =>
        SqliteReader.readTable(bytes, "documents").map { r =>
          (r.values(0).asInstanceOf[Long],
            r.values(1).asInstanceOf[String],
            r.values(2).asInstanceOf[Array[Byte]])
        }
      }
      .toDF("doc_id", "content", "vector_blob")
  }

  /** The reference's own DDL, verbatim (as stored in its vectors.db
    * sqlite_master; reference server.js:26-32) — so `.schema` on an
    * exported file matches the original character for character. */
  private val RefCreateSql =
    """CREATE TABLE documents (
      |                id INTEGER PRIMARY KEY AUTOINCREMENT,
      |                content TEXT UNIQUE,
      |                vector BLOB
      |            )""".stripMargin

  /** Inverse of [[fromSqliteDocuments]]: export (doc_id, content,
    * vector_blob) rows as a reference-shaped SQLite file a stock
    * `sqlite3` opens (see [[SqliteWriter]] for the distributed page
    * assembly). With `fullSchema` the file carries the reference's
    * EXACT schema — `UNIQUE` backed by a real autoindex b-tree,
    * `AUTOINCREMENT` backed by a seeded sqlite_sequence — so a
    * reference server pointed at the export keeps working, INSERTs
    * included; without it, a bare data-only schema. */
  def toSqliteDocuments(df: DataFrame, out: String,
                        numPartitions: Int = 4,
                        fullSchema: Boolean = false)
      : SqliteWriter.WriteStats =
    if (fullSchema)
      SqliteWriter.writeFull(df, out, SqliteWriter.ExportSchema(
        "documents", RefCreateSql, uniqueTextCol = Some(1),
        autoincrement = true), numPartitions)
    else
      SqliteWriter.write(df, out, "documents",
        "CREATE TABLE documents (id INTEGER PRIMARY KEY, content TEXT, " +
          "vector BLOB)", numPartitions)
}

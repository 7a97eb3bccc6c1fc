package graft.queries

import graft.Tables
import graft.operators.Multimodal.{MediaRow, SynthMedia}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The id-derived media fixtures of the oracle-gated media queries, one
  * builder per family. Every fixture covers the documents with
  * doc_id < 60, and every payload is a pure function of the id, so the
  * oracles replay it from the documents table.
  */
private[queries] object MediaFixtures {

  /** (doc_id, payload) frame, each payload built in the executors from
    * its id: the image frames of t49, t65, v32, v34, v35, v46 and v56
    * and the PCM frames of t50, t51 and t54. */
  def frame(spark: SparkSession, sfDir: String)(
      payload: Long => Array[Byte]): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select("doc_id")
      .filter(col("doc_id") < 60).as[Long]
      .map(id => MediaRow(id, payload(id)))
      .toDF()
  }

  /** The media mix of i12, i19 and s16: id % 4 picks a PNG, JPEG, WAV or
    * AVI file, returned with its extension. */
  def mixFile(id: Long): (Array[Byte], String) = (id % 4) match {
    case 0 => (SynthMedia.pngForId(id), "png")
    case 1 => (SynthMedia.jpegForId(id), "jpg")
    case 2 => (SynthMedia.wavForId(id), "wav")
    case _ => (SynthMedia.aviForId(id), "avi")
  }

  /** Writes `doc_<id>.<ext>` into `dir` (created if missing) for each
    * fixture id, and returns `dir`: the staged files of i12, i19, s16
    * and s17. The binaryFile source has no DataFrame writer, so the
    * files are written from the driver. */
  def stage(spark: SparkSession, sfDir: String, dir: String)(
      file: Long => (Array[Byte], String)): String = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    Tables.documents(spark, sfDir).select("doc_id")
      .filter(col("doc_id") < 60)
      .collect().map(_.getLong(0))
      .foreach { id =>
        val (bytes, ext) = file(id)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, f"doc_$id%05d.$ext"), bytes): Unit
      }
    dir
  }

  /** The doc_id a staged file's name or path carries. */
  private def docIdFromName(name: Column): Column =
    regexp_extract(name, "doc_(\\d+)", 1).cast("long").as("doc_id")

  /** The staged files under `dir` as a (doc_id, payload) frame. */
  def files(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Sources.binaryDir(spark, dir)
      .select(docIdFromName(col("source")), col("payload"))

  /** The staged files under `dir` as a (doc_id, payload) stream. */
  def fileStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.format("binaryFile").load(dir).schema
    spark.readStream.schema(schema)
      .format("binaryFile").load(dir)
      .select(docIdFromName(col("path")), col("content").as("payload"))
  }
}

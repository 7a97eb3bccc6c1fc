package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plan-evidence dumper: writes each named query's formatted physical
  * plan (and a few interior frames) to `<outDir>/<name>_<suffix>.txt`.
  * Two protocol rules:
  *
  *   1. INTERIOR frames: most touched queries drive work through
  *      driver-side loops over `localCheckpoint()`ed frames, so the
  *      returned frame's explain cannot show the interior claims
  *      (what got checkpointed, how wide). For each interior claim
  *      a named probe dumps the exact frame the operator
  *      materializes — e.g. `updateNearDupReps`' returned
  *      rows (whose LogicalRDD leaf exposes the checkpointed pair
  *      frame's schema: the r19 change narrows it from carrying both
  *      d-dim vectors to the five decision columns) and `lmDocNll`'s
  *      scoring frame (whose unigram-count leg becomes a LogicalRDD
  *      read instead of a second tokenize pass).
  *   2. FAILURES are tracked and the run exits non-zero, so a stale
  *      or missing dump can no longer masquerade as evidence.
  *
  * Run: sbt "runMain graft.PlanProbe <outDir> <suffix> [sfDir] [names...]"
  * with the local master sized by SPARK_GRAFT_CPUS (default 4), as
  * Bench and Verify read it.
  */
object PlanProbe {

  private def explainStr(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode).trim + "\n"

  /** Interior-frame probes: name -> the frame whose physical plan IS
    * the claim's evidence. Kept tiny (sf0.001-sized inputs) — the
    * evidence is plan SHAPE, not timing. */
  private def interiorProbes(spark: SparkSession, sfDir: String)
      : Seq[(String, () => DataFrame)] = {
    import graft.operators.{Ann, TextAnalysis}
    val docs = () => graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    // a small two-bucket vector fixture for the near-dup tier probes
    def vecs(n: Int, offset: Int = 0): DataFrame = {
      import spark.implicits._
      (0 until n).map { i =>
        val base = Array.fill(8)(0.0f)
        base(i % 2) = 1.0f
        base(2 + (i % 3)) = 0.01f * (i + offset)
        ((i + offset).toLong, base.toSeq)
      }.toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding"))
    }
    Seq(
      // v78/v75/v76/v79 claim: the update's pair checkpoint carries
      // only decision columns; the returned rows' LogicalRDD leaf
      // shows the checkpointed schema
      "interior_updateNearDupReps_rows" -> (() => {
        val base = vecs(6)
        val idx = Ann.srpBucketIndex(base, "vec_id", "embedding", 8, 2)
          .localCheckpoint()
        val sidecar = Ann.fineBucketNearDupReps(base, "vec_id",
          "embedding", bits = 8, fineBits = 2, tau = 0.8)
          .localCheckpoint()
        Ann.updateNearDupReps(idx, sidecar, vecs(4, offset = 6),
          "vec_id", "embedding", bits = 8, fineBits = 2, tau = 0.8)._1
      }),
      // t19/t53/t58 claim: the unigram-count leg of the scoring plan
      // reads a checkpointed frame instead of re-tokenizing
      "interior_lmDocNll" -> (() =>
        TextAnalysis.lmDocNll(docs(), "doc_id", "text")),
      // the shared scored-pair relation v78/v79 filter per τ
      "interior_fineBucketScoredPairs" -> (() =>
        Ann.fineBucketScoredPairs(vecs(6), "vec_id", "embedding",
          bits = 8, fineBits = 2, tauMin = 0.7)))
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val queryNames = if (args.length > 3) args.drop(3).toSeq else Seq(
      "v75_neardup_tier", "v76_neardup_serve", "v78_neardup_tier_lsm",
      "v79_neardup_tau_sweep", "t19_surprisal", "t53_lm_perplexity",
      "t58_quality_ensemble", "t73_sem_prefilter_10k",
      "s27_stream_graph_lsm", "s28_stream_sem_margin",
      "s10_stream_dedup_index", "v53_graph_salted_build")
    val spark = SparkEntry.session()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    var failed = List.empty[String]
    def dump(name: String, frame: () => DataFrame): Unit = {
      try {
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
          explainStr(frame()))
        println(s"[plans] $name ok")
      } catch { case e: Throwable =>
        println(s"[plans] $name FAILED: ${e.getMessage}")
        failed ::= name
      }
      spark.catalog.clearCache()
    }
    queryNames.foreach { n =>
      dump(n, () => SparkEntry.queries(n)(spark, sfDir))
    }
    interiorProbes(spark, sfDir).foreach { case (n, f) => dump(n, f) }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[plans] ${failed.size} dump(s) FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}

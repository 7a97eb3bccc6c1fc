package graft.queries

import graft.operators.Pq
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HELD-OUT RECALL GATE for trained-quantizer artifacts — the
  * operator-level guard the round-13 measurements demanded: v66
  * trained two RVQ stage-2 codebooks to IDENTICAL post-stage MSE
  * (0.048) whose serving recalls were 0.9 (corpus-trained) vs 0.2
  * (half-sample-trained), and v67 stacked a third stage that cut MSE
  * 0.104 → 0.062 with recall FLAT — so average distortion, the one
  * number k-means training minimizes and a pipeline naturally logs,
  * is NOT a proxy for serving quality. At 100 TB sample training is
  * mandatory, which means a silently sample-collapsed index passes
  * every aggregate meter a training job emits. The gate closes that
  * operationally: every k-means-TRAINED quantizer artifact seals the
  * measured held-out reconstruction recall@10 NEXT TO the model bytes
  * (`<name>_gate`, a one-row parquet the oracle can read like any
  * artifact), training RAISES below the site's declared floor, and
  * the model-load path re-checks the sealed gate — a snapshot whose
  * training regressed can neither be written quietly nor adopted
  * quietly by a later run.
  *
  * Metric: RECONSTRUCTION recall@10 — approximate top-10 by
  * L2(query, decode(codes)) vs exact top-10 by L2(query, vector),
  * ties to the lower id. For a single PQ stage this is identically
  * ADC recall (ADC distance IS the reconstruction distance); for
  * stacked RVQ stages the reconstruction composes through
  * [[graft.operators.Pq.residuals]] (recon = x − residual-after-last-
  * stage), equal to the multi-stage decomposed ADC the serving
  * queries run. Queries must be HELD OUT from the training split —
  * each call site names its fixture's held-out set.
  *
  * Scope, stated: the gate guards TRAINED (iterative, sample-
  * sensitive) quantizers — the Pq/Opq/RVQ family. SQ8's scales are
  * exact corpus min/max statistics and BQ/Matryoshka are untrained
  * transforms: no training sample exists whose insufficiency could
  * silently degrade them, and their serving quality is pinned
  * directly by v61/v62/v63.
  *
  * Scale shape: one residual-chain encode pass over the corpus
  * (narrow kernels, no shuffle), then per held-out query two global
  * top-10s — snapshot-build-time work, proportional to one corpus
  * scan per gate, never per serving query.
  */
object QuantGate {

  /** Held-out reconstruction recall@10 of `models` (stage 1 first)
    * over `corpus`, averaged across `queries` (id → vector, already
    * in the basis the models encode). Deterministic: ties to the
    * lower id on both the approximate and the exact rank.
    */
  def reconRecallAt10(corpus: DataFrame, idCol: String, vecCol: String,
                      queries: Seq[(Long, Array[Double])],
                      models: Seq[Pq.PqModel]): Double = {
    require(queries.nonEmpty, "reconRecallAt10: no held-out queries")
    require(models.nonEmpty, "reconRecallAt10: no models")
    import graft.functions.VectorFunctions.l2Dist
    val base = corpus.select(col(idCol), col(vecCol))
    val res = models.foldLeft(base)((df, m) =>
      Pq.residuals(df, idCol, vecCol, m))
    val recon = base
      .join(res.withColumnRenamed(vecCol, "_res"), Seq(idCol))
      .select(col(idCol), col(vecCol).cast("array<double>").as("_x"),
        zip_with(col(vecCol).cast("array<double>"), col("_res"),
          (x, r) => x - r).as("_recon"))
      .localCheckpoint() // one encode chain feeds every query's ranks
    val recalls = queries.map { case (_, q) =>
      val qLit = array(q.map(x => lit(x)).toIndexedSeq: _*)
      def top10(c: org.apache.spark.sql.Column): Set[Long] =
        recon.select(col(idCol), l2Dist(c, qLit).as("_d"))
          .orderBy(col("_d").asc, col(idCol)).limit(10)
          .select(idCol).collect().map(_.getLong(0)).toSet
      ServeGate.recallOf(top10(col("_recon")), top10(col("_x")))
    }
    recalls.sum / recalls.size
  }

  /** Seal the gate artifact `<modelName>_gate` — (recall_at_10, floor,
    * note) — then RAISE if the recall is below the floor: the evidence
    * lands on disk even when the build aborts, so the failure is
    * diagnosable from artifacts alone. `note` documents the floor's
    * provenance (measured steady value minus headroom) or, for
    * measurement fixtures whose POINT is a collapsed regime (v66's
    * sampled rung, v67's capacity cliff), why the floor is 0.
    */
  def seal(spark: SparkSession, modelName: String, sfDir: String,
           recall: Double, floor: Double, note: String): Unit = {
    import spark.implicits._
    Artifacts.write(
      Seq((math.rint(recall * 1e6) / 1e6, floor, note))
        .toDF("recall_at_10", "floor", "note"),
      modelName + "_gate", sfDir)
    require(recall + 1e-9 >= floor,
      s"quantizer gate FAILED for '$modelName': held-out recall@10 " +
        f"$recall%.4f < declared floor $floor%.4f ($note) — the " +
        "trained artifact does not meet its serving bar; at 100 TB " +
        "this is the sample-trained collapse v66 measured (identical " +
        "MSE, recall 0.9 vs 0.2) surfacing before the index ships")
  }

  /** Re-check a sealed gate on the model-LOAD path (cache hits adopt
    * artifacts a previous run trained — the gate must bind there too,
    * not only at training time). Absent gate = artifact predates the
    * gate discipline or was tampered with: fail loudly, the
    * loadCodebooks convention.
    */
  def check(spark: SparkSession, modelName: String, sfDir: String): Unit = {
    val dir = Artifacts.resolve(modelName + "_gate", sfDir)
    val row =
      try spark.read.parquet(dir)
        .select("recall_at_10", "floor", "note").head()
      catch {
        case e: Exception => throw new IllegalStateException(
          s"quantizer gate artifact missing/unreadable for " +
            s"'$modelName' at $dir — rebuild the model (delete its " +
            "artifact dir) so training re-seals the gate", e)
      }
    require(row.getDouble(0) + 1e-9 >= row.getDouble(1),
      s"quantizer gate check FAILED on load for '$modelName': sealed " +
        f"recall@10 ${row.getDouble(0)}%.4f < floor " +
        f"${row.getDouble(1)}%.4f (${row.getString(2)})")
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame

/** Scan-layout repair for CPU-heavy per-row kernels.
  *
  * Parquet splits at row-group boundaries, so a corpus that lands in
  * one small file (every per-corpus [[graft.queries.Artifacts]] store,
  * any sub-128MB fixture) scans as ONE task — and a kernel pass over
  * it (the d×d matvec of [[Opq.rotate]] at ~590k flops/row, the
  * m·k1·k2 joint-AQ enumeration at ~131k/row, PQ encode at ~200k/row)
  * computes on one core while the rest of the host idles. That is the
  * guide-§2.5 "one unsplittable input file" case, and the remedy is
  * its: repartition immediately after the read.
  *
  * Made SCALE-ADAPTIVE rather than local-tuned: a frame already
  * carrying at least the cluster's default parallelism — any real
  * corpus at deployment scale — passes through untouched, so the
  * added exchange exists exactly where the alternative is idle
  * capacity, and the bytes it moves are the small frame itself.
  * Round-robin repartition: the kernels are per-row and order-free,
  * and Spark's sort-before-repartition keeps the row→partition
  * assignment deterministic under task retry (SPARK-23207).
  */
object Kernels {

  /** `df`, split across the session's default parallelism when its
    * physical plan would otherwise scan in fewer partitions.
    *
    * The partition probe is gated on the plan being exchange-free:
    * under AQE (default-on in Spark 4) converting an exchange-bearing
    * plan to an RDD MATERIALIZES every upstream query stage as real
    * jobs whose output is then discarded, and the caller's own action
    * re-executes them — so for those plans we pass through instead of
    * probing. That loses nothing: a post-exchange frame already runs
    * at shuffle parallelism, exactly the case the fan-out exists to
    * skip. Exchange-free plans (scans, checkpointed frames, narrow
    * projections — every current call site) keep the exact probe,
    * which builds the RDD without running any job. It reads the RDD of
    * the physical plan already built for that check; `df.rdd` would
    * plan the input a second time.
    *
    * A frame the optimizer bounds at one row (the query vector of
    * [[Opq.rotate]]) passes through too: one row has nothing to
    * spread, and the exchange would only cost a shuffle into every
    * core. */
  def fanOut(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.maxRows.exists(_ <= 1)) df
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      val planned = df.queryExecution.executedPlan
      val adaptive = planned.isInstanceOf[
        org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]
      val hasExchange = adaptive || planned.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      if (hasExchange) df
      else if (df.queryExecution.toRdd.getNumPartitions < p) df.repartition(p)
      else df
    }
}

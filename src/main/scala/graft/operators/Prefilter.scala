package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Bloom-filter semi-join prefilter — the "runtime filter" pattern for
  * joins where the dimension side is too large to broadcast as a hash
  * relation but its KEY SET fits a compact sketch.
  *
  * At 100 TB the big side of a shuffled join pays its full scan+shuffle
  * even when the join keeps 1% of rows; pushing a bloom filter of the
  * dim keys into the big side's scan drops non-matching rows before the
  * shuffle. Bloom filters have no false negatives, so
  * `bloomSemiFilter(big, dim) join dim` is semantically identical to
  * `big join dim` — false positives are eliminated by the exact join
  * that follows (the oracle for r31 pins exactly this equivalence).
  *
  * Spark's own AQE runtime filter (spark.sql.optimizer.runtime
  * .bloomFilter.enabled) injects the same construct automatically when
  * its size thresholds are met — the engine's sessions RUN WITH THAT
  * INJECTION OFF (SparkEntry.session: localCheckpoint frames' unknown stats
  * defeat the thresholds, so the injected, statically-sized 1 MiB
  * blooms landed exactly where they cost task-binary weight and
  * pruned nothing); this operator makes the pattern explicit and
  * CORPUS-SIZED — and it probes with the SAME codegen'd expression
  * the optimizer uses (`BloomFilterMightContain`), not a Scala UDF: the sketch is built by one distributed
  * `BloomFilterAggregate` job, carried to the probe side as a binary
  * literal (KB-scale — the transport a broadcast would use), and the
  * membership test participates in whole-stage codegen, so the
  * prefilter adds no interpreted hop to the big side's hot scan path.
  */
object Prefilter {

  /** Filter `big` down to rows whose `bigKey` might be present in
    * `dim`'s `dimKey` column. Guaranteed to keep every true match; an
    * EMPTY dim yields an empty result (no keys → no matches).
    *
    * Both key columns must already be BIGINT: an implicit cast inserted
    * for a mistyped column would fail mid-job under ANSI mode (Spark
    * 4's default) or, with ANSI off, null-drop rows and silently break
    * the no-false-negative guarantee — so the shape is validated up
    * front and fails fast instead.
    */
  def bloomSemiFilter(big: DataFrame, dim: DataFrame, bigKey: String,
                      dimKey: String, expectedKeys: Long,
                      fpp: Double): DataFrame = {
    def requireLong(df: DataFrame, key: String, side: String): Unit = {
      val dt = df.schema(key).dataType
      require(dt == LongType,
        s"bloomSemiFilter: $side key '$key' must be BIGINT, got ${dt.sql}")
    }
    requireLong(big, bigKey, "big")
    requireLong(dim, dimKey, "dim")
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedKeys, fpp)
    // BloomFilterAggregate SILENTLY clamps to the runtime-filter conf
    // caps — a clamped sketch would keep the call "working" while the
    // real fpp degrades toward 1, so oversize requests fail fast with
    // the knob to turn instead
    val conf = big.sparkSession.conf
    val maxItems = conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
    val maxBits = conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
    require(expectedKeys <= maxItems && numBits <= maxBits,
      s"bloomSemiFilter: expectedKeys=$expectedKeys (numBits=$numBits for " +
        s"fpp=$fpp) exceeds the runtime bloom-filter caps " +
        s"(maxNumItems=$maxItems, maxNumBits=$maxBits) — the aggregate " +
        "would silently clamp and break the fpp contract; raise " +
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits " +
        "to build a sketch this large")
    val sketch = Bridge.column(
      new BloomFilterAggregate(Bridge.expression(col(dimKey)),
        Literal(expectedKeys), Literal(numBits)).toAggregateExpression())
    // one KB-scale driver fetch — the same data movement the previous
    // broadcast-variable formulation paid, now feeding a literal the
    // codegen'd probe folds into the scan stage
    val bfBytes = dim.select(sketch.as("bf")).head().getAs[Array[Byte]](0)
    if (bfBytes == null) big.filter(lit(false)) // empty dim: no matches
    else big.filter(Bridge.column(BloomFilterMightContain(
      Literal(bfBytes, BinaryType), Bridge.expression(col(bigKey)))))
  }
}

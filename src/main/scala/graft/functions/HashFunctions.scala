package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hashing.
  *
  * Spark's `hash`/`xxhash64` and DuckDB's `hash` use different algorithms,
  * so anything hash-derived would be untestable against a SQL oracle.
  * Instead all graft hashing is built on md5 (identical in every engine):
  * the first 15 hex chars (60 bits) parsed as a non-negative Long.
  *
  * DuckDB equivalent of [[md5Long]]:
  *   CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)
  */
object HashFunctions {

  /** First 60 bits of md5(s) as a non-negative Long column. */
  def md5Long(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Element-wise md5Long over an array<string> column — a single-pass
    * kernel; the `transform(arr, md5Long)` formulation runs interpreted
    * (higher-order functions don't participate in codegen). */
  def md5LongArray(arr: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expressions.Md5LongArray(
        org.apache.spark.sql.graft.Bridge.expression(arr)))

  /** Distinct n-gram shingle hashes from a token array — single-pass
    * kernel equivalent of md5LongArray(array_distinct(shingles(ws, n))).
    */
  def shingleHashes(tokens: Column, n: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expressions.ShingleHashes(
        org.apache.spark.sql.graft.Bridge.expression(tokens), n))

  /** Sign-random-projection sketch (cosine LSH, ≤60 bits) over an
    * array<float|double> column — the ONE wrapper for
    * [[graft.expressions.CosineLshBits]] (query/operator/probe call
    * sites must not re-bridge the expression individually).
    */
  def cosineLshBits(vec: Column, bits: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expressions.CosineLshBits(
        org.apache.spark.sql.graft.Bridge.expression(vec), bits))

  /** Margin-ranked capped multi-probe SRP buckets (own bucket + the
    * `maxProbes` smallest-|margin| hamming-1 flips) — the ONE wrapper
    * for [[graft.expressions.SrpProbeBucketsCapped]]. */
  def srpProbeBucketsCapped(vec: Column, bucketBits: Int,
                            maxProbes: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expressions.SrpProbeBucketsCapped(
        org.apache.spark.sql.graft.Bridge.expression(vec),
        bucketBits, maxProbes))

  /** Salted variant — independent hash families for MinHash/SimHash. */
  def md5Long(s: Column, salt: Int): Column =
    md5Long(concat(lit(salt.toString), lit(":"), s))

  // ---- affine universal-hash family over one md5 base hash ------------
  //
  // md5 (string hex → conv → long) is ~50× the cost of integer math, so
  // hash families pay ONE md5 per input and derive family member j as
  //   h_j(x) = (A_j · (md5Long(x) mod P) + B_j) mod P,  P = 2^31 − 1
  // — the classic Carter–Wegman construction. All operands stay < 2^62,
  // so the arithmetic is exact in Long on Spark and BIGINT on DuckDB
  // (constants are embedded in the oracle SQL as literals).

  /** Mersenne prime 2^31 − 1: multiplications fit exactly in a Long. */
  val AffineP: Long = 2147483647L

  /** Knuth-multiplicative constants; j is the family index. */
  def affineA(j: Int): Long = (2654435761L * (j + 1) + 1) % AffineP
  def affineB(j: Int): Long = (40503L * (j + 1) + 2971215073L) % AffineP

  /** Family member j applied to a precomputed 60-bit base hash column. */
  def affineHash(base: Column, j: Int): Column =
    (lit(affineA(j)) * (base % AffineP) + affineB(j)) % AffineP
}

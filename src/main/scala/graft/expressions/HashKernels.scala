package graft.expressions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Shared md5 kernel: first 60 bits of md5 as a non-negative Long —
  * identical to [[graft.functions.HashFunctions.md5Long]] and the
  * oracle's `CAST(concat('0x', substring(md5(s),1,15)) AS BIGINT)`.
  */
object Md5Util {
  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  def md5_60(s: String): Long = {
    val d = digest.get()
    d.reset()
    val h = d.digest(s.getBytes(StandardCharsets.UTF_8))
    // 15 hex chars = 7.5 bytes: bytes 0-6 fully, high nibble of byte 7
    var acc = 0L
    var i = 0
    while (i < 7) { acc = (acc << 8) | (h(i) & 0xffL); i += 1 }
    (acc << 4) | ((h(7) & 0xf0L) >> 4)
  }
}

/** Element-wise 60-bit md5 over an array<string> — the batch form of
  * md5Long. The `transform(arr, s -> conv(substring(md5(s)...)))` column
  * equivalent runs interpreted (higher-order functions don't codegen)
  * through string radix conversion; this is one digest per element in a
  * primitive loop.
  */
case class Md5LongArray(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "md5_long_array"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"$prettyName requires array<string> input, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = Md5Util.md5_60(arr.getUTF8String(i).toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** Distinct word n-gram shingle hashes straight from a token array:
  * windows of `n` tokens joined with single spaces, md5'd (60-bit) and
  * deduped — semantically `md5LongArray(array_distinct(shingles(ws, n)))`
  * (fewer than n tokens → one whole-text shingle, matching
  * TextFunctions.shingles), but one pass with no intermediate string
  * arrays. Set equality is what downstream consumers (MinHash min,
  * inverted-index explode) observe, so emission order is free.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "shingle size must be >= 1")

  override def prettyName: String = "shingle_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckSuccess
      case other => TypeCheckFailure(
        s"$prettyName requires array<string> input, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val count = arr.numElements()
    val tokens = new Array[String](count)
    var i = 0
    while (i < count) { tokens(i) = arr.getUTF8String(i).toString; i += 1 }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder
    if (count <= n) {
      sb.setLength(0)
      var k = 0
      while (k < count) {
        if (k > 0) sb.append(' ')
        sb.append(tokens(k)); k += 1
      }
      seen.add(Md5Util.md5_60(sb.toString))
    } else {
      var start = 0
      while (start <= count - n) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(tokens(start + k)); k += 1
        }
        seen.add(Md5Util.md5_60(sb.toString))
        start += 1
      }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** Sign-random-projection (cosine LSH) sketch of a float/double vector:
  * bit j = sign(dot(v, r_j)) where hyperplane r_j has ±1 components
  * derived from md5("srp:j:i") — deterministic, so the SQL oracle can
  * rebuild the very same hyperplanes. Hamming distance between sketches
  * estimates angular distance; bucketing on sketch prefixes blocks
  * near-dup search over embeddings the way MinHash bands do for text.
  */
case class CosineLshBits(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback with VectorInput {
  require(bits <= 60, "sketch fits a 60-bit long")

  override def prettyName: String = "cosine_lsh_bits"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  // ±1 hyperplane matrix, built on first eval for the observed dim.
  // The null check (not a dim sentinel) guards correctness across task
  // serialization: @transient vars reset to 0/null on the executor.
  @transient private var signs: Array[Array[Double]] = _
  @transient private var signsDim: Int = _

  private def signMatrix(dim: Int): Array[Array[Double]] = {
    if (signs == null || signsDim != dim) {
      signs = Array.tabulate(bits, dim) { (j, i) =>
        if ((Md5Util.md5_60(s"srp:$j:$i") & 1L) == 1L) 1.0 else -1.0
      }
      signsDim = dim
    }
    signs
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    if (dim == 0) return 0L // zero vector: every dot is 0, no bit set
    val m = signMatrix(dim)
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      v(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < bits) {
      val row = m(j)
      var dot = 0.0
      i = 0
      while (i < dim) { dot += v(i) * row(i); i += 1 }
      if (dot > 0.0) out |= (1L << j)
      j += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** Margin-ranked capped multi-probe buckets over the SRP bucket space
  * (Lv et al. 2007, "Multi-Probe LSH" — probe the buckets whose
  * boundary the query sits closest to, not every neighbor). Returns
  * the query's own bucket (the low `bucketBits` bits of its
  * [[CosineLshBits]] sketch) plus the hamming-1 flips of the
  * `maxProbes` hyperplanes with the SMALLEST |dot| margin (tie → lower
  * bit index) — the bits most likely to have flipped for a true
  * neighbor. Capping at a fixed `maxProbes` is what keeps the k-NN
  * graph build's candidate fan-out CONSTANT per vector as `bucketBits`
  * scales with the corpus (uncapped hamming-1 probing fans out
  * 1 + bucketBits buckets, a log n factor at 100 TB).
  *
  * The hyperplanes are the identical md5-derived ±1 rows CosineLshBits
  * uses (plane j only ever feeds bit j), so bucket values here agree
  * bit-for-bit with `cosineLshBits(v, bits) & (2^bucketBits − 1)` and
  * the DuckDB oracle replays both the signs and the margin ranking
  * from the same `md5('srp:j:i')` formula. `maxProbes ≥ bucketBits`
  * degenerates to the full hamming-1 probe set (same bucket SET as
  * [[graft.operators.Ann.srpProbeBuckets]]); the output buckets are
  * distinct by construction (xor with distinct single bits).
  */
case class SrpProbeBucketsCapped(child: Expression, bucketBits: Int,
                                 maxProbes: Int)
    extends UnaryExpression with CodegenFallback with VectorInput {
  require(bucketBits > 0 && bucketBits <= 60,
    "srp_probe_buckets_capped: bucketBits must be in [1, 60]")
  require(maxProbes >= 0, "srp_probe_buckets_capped: maxProbes >= 0")

  override def prettyName: String = "srp_probe_buckets_capped"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  // same ±1 rows as CosineLshBits (plane j is a function of (j, i)
  // only), cached per observed dim; null check, not a dim sentinel —
  // @transient vars reset on executor deserialization
  @transient private var signs: Array[Array[Double]] = _
  @transient private var signsDim: Int = _

  private def signMatrix(dim: Int): Array[Array[Double]] = {
    if (signs == null || signsDim != dim) {
      signs = Array.tabulate(bucketBits, dim) { (j, i) =>
        if ((Md5Util.md5_60(s"srp:$j:$i") & 1L) == 1L) 1.0 else -1.0
      }
      signsDim = dim
    }
    signs
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    val p = math.min(maxProbes, bucketBits)
    if (dim == 0) { // zero vector: all dots 0, bucket 0, flips by index
      val out = new Array[Long](1 + p)
      var j = 0
      while (j < p) { out(j + 1) = 1L << j; j += 1 }
      return new GenericArrayData(out)
    }
    val m = signMatrix(dim)
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      v(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val dots = new Array[Double](bucketBits)
    var own = 0L
    var j = 0
    while (j < bucketBits) {
      val row = m(j)
      var dot = 0.0
      i = 0
      while (i < dim) { dot += v(i) * row(i); i += 1 }
      dots(j) = dot
      if (dot > 0.0) own |= (1L << j)
      j += 1
    }
    // rank planes by |margin| ascending, bit-index tiebreak — the exact
    // ordering the oracle's row_number() OVER (ORDER BY abs(dot), j)
    // replays. bucketBits ≤ 60 keeps a full sort cheap and allocation-
    // free beyond the index array.
    val order = Array.range(0, bucketBits).sortBy(j => (math.abs(dots(j)), j))
    val out = new Array[Long](1 + p)
    out(0) = own
    j = 0
    while (j < p) { out(j + 1) = own ^ (1L << order(j)); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** SimHash fingerprint from precomputed 60-bit token hashes: bit i of
  * the result is set iff the ±1 votes of bit i across all token hashes
  * sum positive. O(tokens × bits) primitive loop; matches the
  * bit-vote oracle exactly.
  */
case class SimHashBits(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback with LongArrayInput {
  require(bits <= 60, "simHash uses the 60-bit md5 hash")

  override def prettyName: String = "simhash_bits"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < bits) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

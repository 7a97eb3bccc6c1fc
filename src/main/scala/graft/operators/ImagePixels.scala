package graft.operators

import graft.operators.Multimodal.{l2Floats, mapMedia}
import org.apache.spark.sql.DataFrame

/** REAL pixel-level image processing — the layer the header-only
  * [[Multimodal]] codec deliberately stopped short of, closed here with
  * the JDK's own `javax.imageio` (public, dependency-free, headless):
  * PNG payloads decode to actual pixel grids, the grids downsample
  * through an EXACT integer block-mean resample, and the resampled
  * grids yield the two classic perceptual hashes (aHash/dHash) that
  * drive image near-duplicate detection in large-scale training-data
  * curation (the visual analog of SimHash text dedup — reference
  * johntango/VectorDBFAISS has no image path at all; this is north-star
  * scope per SURVEY.md §2.8).
  *
  * Everything downstream of `ImageIO.read` is deliberately
  * integer-exact and platform-free so a SQL oracle can replay it from
  * first principles:
  *
  *  - gray = (299·r + 587·g + 114·b) / 1000 (integer BT.601 luma; for
  *    the r=g=b fixtures this is the identity, so the oracle needs no
  *    float luma model);
  *  - bucket map x → x·gw / w (integer floor — the general
  *    arbitrary-dims rule, NOT Graphics2D interpolation, whose output
  *    is platform/JVM-dependent and would break bit-reproducibility);
  *  - block mean = floor(Σv / n); aHash bit i set iff mean_i >
  *    floor(Σmeans / 64); dHash bit (y·8+x) set iff md(x+1,y) >
  *    md(x,y) over a 9×8 grid.
  *
  * Scale shape: decode+hash is a NARROW mapPartitions kernel over the
  * shared media scaffold ([[Multimodal.mapMedia]], reading
  * [[Multimodal.MediaRow]]s) with [[decodeGray]] as the one decode
  * seam — at 100 TB it pipelines behind the binary-file scan
  * with zero shuffle; only the 16-byte (id, ahash, dhash) rows move.
  * Near-dup pairing then reuses the pigeonhole block join
  * ([[Dedup.simHashNearDupPairs]] — candidates bounded, hot-bucket
  * guarded) over the 64-bit hashes.
  */
object ImagePixels {

  case class HashRow(doc_id: Long, width: Int, height: Int,
                     ahash: Long, dhash: Long)
  case class PixelRow(doc_id: Long, x: Int, y: Int, v: Int)
  case class FeatureRow(doc_id: Long, features: Array[Float])

  /** Decode any ImageIO-supported payload (PNG here; JPEG/GIF/BMP ride
    * free) to an integer luma grid. None for undecodable payloads — at
    * 100 TB a corrupt shard skips, never kills the job (the
    * [[Multimodal.HeaderCodec]] contract).
    */
  def decodeGray(payload: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))).map { img =>
        val w = img.getWidth
        val h = img.getHeight
        val g = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xff
            val gc = (rgb >> 8) & 0xff
            val b = rgb & 0xff
            g(y * w + x) = (299 * r + 587 * gc + 114 * b) / 1000
            x += 1
          }
          y += 1
        }
        (w, h, g)
      }
    } catch { case _: Exception => None } // malformed: skip, never kill

  /** Integer block-mean downsample to a gw×gh grid: pixel (x, y) maps
    * to bucket (x·gw/w, y·gh/h) — floor division, exact for ANY input
    * dims — and each bucket reports floor(Σv / n). Returns row-major
    * bucket means. Requires w ≥ gw and h ≥ gh (every bucket non-empty).
    */
  def blockMeans(gray: Array[Int], w: Int, h: Int,
                 gw: Int, gh: Int): Array[Long] = {
    require(w >= gw && h >= gh, s"image ${w}x$h smaller than grid ${gw}x$gh")
    val sums = new Array[Long](gw * gh)
    val counts = new Array[Long](gw * gh)
    var y = 0
    while (y < h) {
      val by = y * gh / h
      var x = 0
      while (x < w) {
        val b = by * gw + x * gw / w
        sums(b) += gray(y * w + x)
        counts(b) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(gw * gh)(i => sums(i) / counts(i))
  }

  /** Average hash over an 8×8 mean grid: bit i (row-major) set iff
    * mean_i strictly exceeds the floor-mean of the 64 means. All 64
    * bits are used — bit 63 lands in the long's sign bit, two's
    * complement, which the SQL replay reproduces with an explicit
    * `-2^63` term (a BIGINT can't hold `+2^63`).
    */
  def aHash64(means: Array[Long]): Long = {
    require(means.length == 64, s"aHash needs 64 means, got ${means.length}")
    val m = means.sum / 64
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (means(i) > m) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** Difference (gradient) hash over a 9×8 mean grid: bit (y·8 + x)
    * set iff the mean brightens left→right between adjacent columns.
    * More robust than aHash to uniform brightness shifts — the two
    * together are the standard near-dup screen.
    */
  def dHash64(means9x8: Array[Long]): Long = {
    require(means9x8.length == 72,
      s"dHash needs 72 (9x8) means, got ${means9x8.length}")
    var bits = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (means9x8(y * 9 + x + 1) > means9x8(y * 9 + x))
          bits |= (1L << (y * 8 + x))
        x += 1
      }
      y += 1
    }
    bits
  }

  /** (doc_id, width, height, ahash, dhash) per decodable payload — the
    * perceptual fingerprint relation. One decoder context per
    * PARTITION; undecodable rows yield nothing. Narrow (no shuffle):
    * the scan → decode → hash pipeline is one codegen-adjacent stage.
    */
  def imageHashes(df: DataFrame): DataFrame =
    mapMedia(df) { () => r =>
      decodeGray(r.payload).map { case (w, h, g) =>
        HashRow(r.doc_id, w, h,
          aHash64(blockMeans(g, w, h, 8, 8)),
          dHash64(blockMeans(g, w, h, 9, 8)))
      }
    }

  /** The decoded pixel relation itself — (doc_id, x, y, v) — the
    * golden-pixel artifact shape: what the hashes derive from, exposed
    * so oracles and downstream feature extractors see the REAL decode
    * output, not a reimplementation.
    */
  def pixelGrid(df: DataFrame): DataFrame =
    mapMedia(df) { () => r =>
      decodeGray(r.payload).toSeq.flatMap { case (w, h, g) =>
        for (y <- 0 until h; x <- 0 until w)
          yield PixelRow(r.doc_id, x, y, g(y * w + x))
      }
    }

  /** REAL pixel content features: the L2-normalized gw×gh block-mean
    * vector — the upgrade over [[Multimodal.HeaderCodec.features]]'s
    * byte histogram (bytes see the COMPRESSED stream; this sees the
    * image). Same (binary → array<float>) signature, so it drops into
    * the v24 features→retrieval composition unchanged. Rows that fail
    * to decode are dropped.
    */
  def pixelFeatures(df: DataFrame, gw: Int, gh: Int): DataFrame =
    mapMedia(df) { () => r =>
      decodeGray(r.payload).map { case (w, h, g) =>
        FeatureRow(r.doc_id,
          l2Floats(blockMeans(g, w, h, gw, gh).map(_.toDouble)))
      }
    }

  /** Deterministic REAL-PNG fixture generator — full files with
    * zlib-compressed IDAT and checked CRCs (`ImageIO.write`), not just
    * headers: decoding them exercises the whole real parse path. Pixel
    * values follow closed-form integer formulas an oracle replays in
    * SQL; the encode→decode round-trip is lossless (PNG), so
    * formula-replay gates the DECODER end-to-end, which a persisted
    * engine-side artifact could not (it would only gate the hash math).
    *
    * The corpus shape (ids 0..n): every id with id % 5 == 4 is a
    * PERTURBED COPY of id-1 — same dims, +24 brightness on the sparse
    * (x+y) % 9 == 0 lattice — a planted near-duplicate whose
    * perceptual hashes land 0-2 bits from the original (measured over
    * ids 0..59), inside the hamming-3 pairing radius. All formulas,
    * restated for the oracle:
    *
    *   src  = id%5==4 ? id-1 : id
    *   w    = 16 + src%9,  h = 16 + src%7       (arbitrary, NOT ×8 —
    *                                             exercises the general
    *                                             bucket map)
    *   v    = min(255, (src·31 + x·7 + y·13) % 256
    *                    + (id%5==4 && (x+y)%9==0 ? 24 : 0))
    */
  object SynthImages {

    def grayForId(id: Long): (Int, Int, Array[Int]) = {
      val src = if (id % 5 == 4) id - 1 else id
      val w = (16 + src % 9).toInt
      val h = (16 + src % 7).toInt
      val g = Array.tabulate(w * h) { i =>
        val x = i % w
        val y = i / w
        val base = ((src * 31 + x * 7 + y * 13) % 256).toInt
        val delta = if (id % 5 == 4 && (x + y) % 9 == 0) 24 else 0
        math.min(255, base + delta)
      }
      (w, h, g)
    }

    /** The id's grid encoded as a REAL grayscale-in-RGB PNG (r=g=b=v,
      * so integer luma is the identity and decode returns the formula
      * values exactly). */
    def pngForId(id: Long): Array[Byte] = {
      val (w, h, g) = grayForId(id)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bufferedImage(w, h, g), "png", bos)
      bos.toByteArray
    }

    /** The SAME grid encoded as a REAL baseline JPEG — the LOSSY half
      * of the fixture family (web-crawl images are overwhelmingly
      * JPEG). Decode does NOT return the formula values (DCT +
      * quantization), so a closed-form oracle is impossible by
      * construction; the verification story is (a) the decoded grid
      * persisted as an artifact the oracle replays the hash math over,
      * and (b) golden-pixel specs against the JDK decoder for a
      * canonical tiny JPEG. Grayscale in RGB keeps chroma subsampling
      * irrelevant (Cb=Cr=128 exactly). */
    def jpegForId(id: Long): Array[Byte] = {
      val (w, h, g) = grayForId(id)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bufferedImage(w, h, g), "jpg", bos)
      bos.toByteArray
    }

    private def bufferedImage(w: Int, h: Int,
                              g: Array[Int]): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var i = 0
      while (i < g.length) {
        val v = g(i)
        img.setRGB(i % w, i / w, (v << 16) | (v << 8) | v)
        i += 1
      }
      img
    }
  }
}

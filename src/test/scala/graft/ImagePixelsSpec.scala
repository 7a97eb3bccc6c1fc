package graft

import graft.operators.{ImagePixels, Multimodal}
import graft.operators.ImagePixels.SynthImages
import org.apache.spark.sql.functions._

/** Pixel-level image contracts: real ImageIO decode with golden pixel
  * values (incl. the canonical real-world 1×1 PNG), the exact integer
  * block-mean resample, aHash/dHash bit rules incl. the sign-bit edge,
  * encode→decode round-trip on the synthetic corpus, and the planted
  * near-dup structure the v32 pairing radius must catch.
  */
class ImagePixelsSpec extends SparkSpec {
  import spark.implicits._

  test("golden pixels: the canonical real-world 1x1 PNG decodes to " +
      "its exact luma") {
    // same 67-byte 1×1 fixture MultimodalSpec header-parses: a
    // half-transparent BLUE pixel (ARGB 7f0000ff). decodeGray reads
    // color, not alpha (dedup semantics — transparency isn't content),
    // so luma = (299·0 + 587·0 + 114·255) / 1000 = 29, exactly.
    val real = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhf" +
        "DwAChwGA60e6kgAAAABJRU5ErkJggg==")
    val Some((w, h, g)) = ImagePixels.decodeGray(real)
    assert((w, h, g.toSeq) == (1, 1, Seq(29)))
  }

  test("golden pixels: 1x1 RGB round-trip hits the exact integer luma") {
    val img = new java.awt.image.BufferedImage(
      1, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, (10 << 16) | (20 << 8) | 30)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val Some((w, h, g)) = ImagePixels.decodeGray(bos.toByteArray)
    // (299*10 + 587*20 + 114*30) / 1000 = 18150 / 1000 = 18
    assert((w, h, g.toSeq) == (1, 1, Seq(18)))
  }

  test("decodeGray: undecodable payloads skip (None), never throw") {
    assert(ImagePixels.decodeGray("not an image".getBytes("UTF-8")).isEmpty)
    assert(ImagePixels.decodeGray(Array.empty[Byte]).isEmpty)
    // headers-only (signature + partial IHDR, no IDAT) must skip, not
    // kill. NOTE a payload truncated near the END partially decodes —
    // ImageIO fills what it can — which is the documented
    // skip-or-decode contract, not an error path.
    assert(ImagePixels.decodeGray(
      SynthImages.pngForId(3).take(20)).isEmpty)
  }

  test("blockMeans: exact integer floor means under the general " +
      "(non-multiple) bucket map") {
    // 3x2 image into a 2x2 grid: bucket map x·2/3 → x buckets {0,1}
    // {2}, y buckets {0} {1}
    val g = Array(10, 20, 30,
                  40, 50, 61)
    assert(ImagePixels.blockMeans(g, 3, 2, 2, 2).toSeq ==
      Seq(15L, 30L, 45L, 61L)) // (10+20)/2, 30, (40+50)/2, 61
  }

  test("aHash64: strict > vs floor-mean, sign bit lands in bit 63") {
    val means = Array.fill(64)(0L)
    means(0) = 64 // mean of means = 1; only index 0 exceeds it
    assert(ImagePixels.aHash64(means) == 1L)
    val top = Array.fill(64)(0L)
    top(63) = 128 // bit 63 = the long's sign bit
    assert(ImagePixels.aHash64(top) == Long.MinValue)
    // equality is NOT >: uniform grid hashes to 0
    assert(ImagePixels.aHash64(Array.fill(64)(7L)) == 0L)
  }

  test("dHash64: bit set iff the right neighbor is strictly brighter") {
    val m = Array.tabulate(72)(i => i.toLong) // monotone rows: all 64 set
    assert(ImagePixels.dHash64(m) == -1L)
    assert(ImagePixels.dHash64(Array.fill(72)(5L)) == 0L)
  }

  test("SynthImages: PNG encode→decode round-trips the formula grid " +
      "exactly (lossless + identity luma)") {
    for (id <- Seq(0L, 4L, 23L, 59L)) {
      val (w, h, want) = SynthImages.grayForId(id)
      val Some((dw, dh, got)) = ImagePixels.decodeGray(SynthImages.pngForId(id))
      assert((dw, dh) == (w, h), s"dims for id=$id")
      assert(got.toSeq == want.toSeq, s"pixels for id=$id")
    }
  }

  test("planted near-dups land within hamming 3 of their originals; " +
      "perturbation is strictly nonzero") {
    def hashes(id: Long) = {
      val (w, h, g) = SynthImages.grayForId(id)
      (ImagePixels.aHash64(ImagePixels.blockMeans(g, w, h, 8, 8)),
        ImagePixels.dHash64(ImagePixels.blockMeans(g, w, h, 9, 8)))
    }
    for (id <- 4L until 60L by 5L) {
      val (a0, _) = hashes(id - 1)
      val (a1, _) = hashes(id)
      assert(java.lang.Long.bitCount(a0 ^ a1) <= 3,
        s"planted pair (${id - 1}, $id) escaped the radius")
      // the copy is genuinely perturbed, not byte-identical
      assert(SynthImages.grayForId(id)._3.toSeq !=
        SynthImages.grayForId(id - 1)._3.toSeq)
    }
  }

  test("imageHashes: per-partition decode drops undecodable rows, " +
      "keeps (id, dims, hashes)") {
    val rows = Seq(
      Multimodal.MediaRow(7L, SynthImages.pngForId(7L)),
      Multimodal.MediaRow(99L, "garbage".getBytes("UTF-8")))
      .toDF()
    val got = ImagePixels.imageHashes(rows)
      .as[(Long, Int, Int, Long, Long)].collect().toMap2
    val (w, h, g) = SynthImages.grayForId(7L)
    assert(got.keySet == Set(7L))
    assert(got(7L) == ((w, h,
      ImagePixels.aHash64(ImagePixels.blockMeans(g, w, h, 8, 8)),
      ImagePixels.dHash64(ImagePixels.blockMeans(g, w, h, 9, 8)))))
  }

  test("golden pixels: a canonical 4x4 gradient JPEG decodes to the " +
      "exact JDK-decoder grid") {
    // the JPEG analog of the 1×1-PNG convention: lossy decode has no
    // closed form, so the pin IS the decoder's own output on a fixed
    // tiny input — encode the 0,16,..,240 gray gradient, decode, and
    // assert the exact grid (hand-captured from the JDK decoder; any
    // decoder deviation — different IDCT, quant rounding — fails here
    // rather than silently shifting every downstream hash)
    val src = Array.tabulate(16)(i => 16 * i)
    val img = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (i <- 0 until 16) {
      val v = src(i)
      img.setRGB(i % 4, i / 4, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val Some((w, h, g)) = ImagePixels.decodeGray(bos.toByteArray)
    assert((w, h) == (4, 4))
    assert(g.toSeq == Seq(0, 14, 32, 45, 66, 80, 99, 111,
      128, 142, 160, 173, 196, 210, 228, 241))
  }

  test("SynthImages JPEG: dims survive the lossy round-trip, decode " +
      "is deterministic, and pixel error stays block-mean-small") {
    for (id <- Seq(0L, 7L, 23L, 59L)) {
      val (w, h, g) = SynthImages.grayForId(id)
      val Some((dw, dh, dg)) =
        ImagePixels.decodeGray(SynthImages.jpegForId(id))
      assert((dw, dh) == (w, h), s"dims changed for id=$id")
      // lossy but bounded: per-pixel DCT error must stay well inside
      // the range block means average over (measured max 42 across
      // the corpus; a decoder regression would blow past this)
      val dev = g.zip(dg).map { case (a, b) => math.abs(a - b) }.max
      assert(dev <= 64, s"pixel deviation $dev for id=$id")
      val again = ImagePixels.decodeGray(SynthImages.jpegForId(id))
      assert(again.get._3.toSeq == dg.toSeq, s"non-deterministic id=$id")
    }
  }

  test("truncated JPEG refuses (None) — never a guessed partial grid") {
    val full = SynthImages.jpegForId(7)
    for (cut <- Seq(2, full.length / 4, full.length / 2))
      assert(ImagePixels.decodeGray(full.take(cut)).isEmpty,
        s"truncation at $cut bytes must not decode")
  }

  test("cross-codec planted pairs stay inside the v32/v46 pairing " +
      "radius: PNG original vs JPEG perturbed copy, hamming <= 3") {
    def ahash(bytes: Array[Byte]): Long = {
      val Some((w, h, g)) = ImagePixels.decodeGray(bytes)
      ImagePixels.aHash64(ImagePixels.blockMeans(g, w, h, 8, 8))
    }
    for (id <- Seq(4L, 19L, 34L, 59L)) {
      val ham = java.lang.Long.bitCount(
        ahash(SynthImages.pngForId(id - 1)) ^
          ahash(SynthImages.jpegForId(id)))
      assert(ham <= 3, s"cross-codec pair ($id) at hamming $ham")
    }
  }

  test("pixelFeatures: L2-normalized block means as float32") {
    val rows = Seq(Multimodal.MediaRow(3L, SynthImages.pngForId(3L))).toDF()
    val feats = ImagePixels.pixelFeatures(rows, 4, 4)
      .select(col("features")).as[Array[Float]].collect()
    assert(feats.length == 1)
    val f = feats.head
    assert(f.length == 16)
    val norm = math.sqrt(f.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5, s"norm $norm")
  }

  private implicit class Tup5Ops(
      rows: Array[(Long, Int, Int, Long, Long)]) {
    def toMap2: Map[Long, (Int, Int, Long, Long)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
  }
}

package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.{HeaderCodec, MediaMeta, SynthMedia}
import org.apache.spark.sql.functions._

/** Header codec contracts: real PNG/JPEG/GIF/WAV header parses (golden
  * fixtures incl. a real-world 1×1 PNG), the stub fallback for unknown
  * and malformed payloads, and the batch decode shape.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val codec = new HeaderCodec(4)

  test("PNG: dimensions come from the IHDR chunk") {
    assert(codec.decode(SynthMedia.pngBytes(640, 359)) ==
      MediaMeta(640, 359, "png"))
  }

  test("PNG: a REAL 1x1 image file parses (not just synthesized bytes)") {
    // the canonical 67-byte 1×1 transparent PNG
    val real = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhf" +
        "DwAChwGA60e6kgAAAABJRU5ErkJggg==")
    assert(codec.decode(real) == MediaMeta(1, 1, "png"))
  }

  test("JPEG: the segment walk skips APP0 and reads SOF0") {
    assert(codec.decode(SynthMedia.jpegBytes(639, 478)) ==
      MediaMeta(639, 478, "jpeg"))
  }

  test("JPEG: fill bytes and lengthless markers do not desync the walk") {
    // spec-valid quirks: 0xFF fill padding ahead of markers, and a
    // lengthless TEM marker, before the SOF0 that carries dimensions
    val sof = Array[Byte](0xff.toByte, 0xc0.toByte, 0, 11, 8,
      0, 120, 0, 80, 1, 1, 0x11, 0) // height 120, width 80
    val quirky = Array[Byte](0xff.toByte, 0xd8.toByte, // SOI
      0xff.toByte, // fill byte
      0xff.toByte, 0x01, // TEM (no length)
      0xff.toByte, 0xd3.toByte, // RST3 (no length)
      0xff.toByte, 0xfe.toByte, 0, 4, 'h', 'i') ++ // COM, len 4
      Array[Byte](0xff.toByte) ++ // another fill byte
      sof ++ Array[Byte](0xff.toByte, 0xd9.toByte)
    assert(codec.decode(quirky) == MediaMeta(80, 120, "jpeg"))
  }

  test("GIF: logical screen descriptor, little-endian") {
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](0x21, 0x01, 0x0f, 0x00) // 289 x 15
    assert(codec.decode(gif) == MediaMeta(289, 15, "gif"))
  }

  test("WAV: sample rate and channels from the fmt chunk") {
    assert(codec.decode(SynthMedia.wavBytes(44100, 2, Array.empty)) ==
      MediaMeta(44100, 2, "wav"))
  }

  test("AVI: dimensions from the avih header inside LIST hdrl") {
    assert(codec.decode(SynthMedia.aviBytes(1920, 1080, 240)) ==
      MediaMeta(1920, 1080, "avi"))
    // a leading non-hdrl LIST must be skipped, not descended into
    val padded = {
      val pad = "LIST".getBytes("US-ASCII") ++
        Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
      val base = SynthMedia.aviBytes(640, 480, 30)
      base.take(12) ++ pad ++ base.drop(12)
    }
    assert(codec.decode(padded) == MediaMeta(640, 480, "avi"))
    // truncated avih payload falls back instead of mis-parsing
    assert(codec.decode(SynthMedia.aviBytes(640, 480, 30).take(40))
      .format == "bin")
  }

  test("frameSample: stride rule over real avih frame counts; " +
      "non-AVI payloads yield no rows") {
    import spark.implicits._
    val rows = Seq(
      (1L, SynthMedia.aviBytes(320, 240, 20)),  // ceil(20/8)=3 -> 7 frames
      (2L, SynthMedia.aviBytes(320, 240, 5)),   // n<target -> all 5
      (3L, SynthMedia.pngBytes(4, 4)),          // not a video
      (4L, "garbage".getBytes("UTF-8")),
      // the floor-division overshoot band (target < n < 2*target):
      // floor stride would emit all 12 frames; ceil bounds at 6
      (5L, SynthMedia.aviBytes(320, 240, 12)))
      .toDF("doc_id", "payload")
    val got = Multimodal.frameSample(rows, target = 8)
      .as[(Long, Int, Int)].collect().toSet
    val want =
      (0 until 20 by 3).map(ix => (1L, 20, ix)).toSet ++
        (0 until 5).map(ix => (2L, 5, ix)).toSet ++
        (0 until 12 by 2).map(ix => (5L, 12, ix)).toSet
    assert(got == want, s"got $got")
    // output size is bounded by target under the ceil rule
    assert(got.groupBy(_._1).values.forall(_.size <= 8))
  }

  test("unknown payloads fall back to deterministic stub metadata") {
    val m = codec.decode("just some text".getBytes("UTF-8"))
    assert(m.format == "bin")
    assert(m.width >= 1 && m.width <= 1280)
    assert(m.height >= 1 && m.height <= 720)
    // deterministic
    assert(codec.decode("just some text".getBytes("UTF-8")) == m)
  }

  test("malformed containers never throw — they fall back") {
    val truncatedPng = SynthMedia.pngBytes(10, 10).take(14)
    assert(codec.decode(truncatedPng).format == "bin")
    val headlessJpeg = Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xd9.toByte) // SOI then EOI, no SOF
    assert(codec.decode(headlessJpeg).format == "bin")
    val riffNoFmt = "RIFF".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ "WAVE".getBytes("US-ASCII")
    assert(codec.decode(riffNoFmt).format == "bin")
    assert(codec.decode(Array.empty[Byte]).format == "bin")
  }

  test("decodeBatch: real headers + fallback in one partition-mapped pass") {
    val media = Seq(
      Multimodal.MediaRow(1L, SynthMedia.pngBytes(100, 50)),
      Multimodal.MediaRow(2L, SynthMedia.wavBytes(16000, 1, Array.empty)),
      Multimodal.MediaRow(3L, "opaque".getBytes("UTF-8"))).toDF()
    val out = Multimodal.decodeBatch(media, featureDim = 4)
      .select("doc_id", "width", "height", "format", "features")
      .as[(Long, Int, Int, String, Array[Float])]
      .collect().sortBy(_._1)
    assert(out(0)._2 == 100 && out(0)._3 == 50 && out(0)._4 == "png")
    assert(out(1)._2 == 16000 && out(1)._3 == 1 && out(1)._4 == "wav")
    assert(out(2)._4 == "bin")
    assert(out.forall(_._5.length == 4))
    // featureDim = 0 skips the per-row hash cascade entirely
    val noFeat = Multimodal.decodeBatch(media, featureDim = 0)
      .select("features").as[Array[Float]].collect()
    assert(noFeat.forall(_.isEmpty))
  }
}

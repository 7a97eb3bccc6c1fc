package graft

import graft.operators.Audio
import graft.operators.Audio.SynthAudio
import graft.operators.ImagePixels.SynthImages
import graft.operators.Multimodal.{HeaderCodec, SynthMedia}
import org.scalatest.funsuite.AnyFunSuite

/** The container decoders' malformed-payload contract as a seeded
  * property: ~2,000 damaged variants of the SynthMedia and SynthAudio
  * fixtures (truncations, flipped size bytes, negative and odd chunk
  * sizes, padded and unpadded odd-sized chunks, `data` before `fmt `,
  * a `LIST hdrl` without `avih`) go through [[HeaderCodec.decode]],
  * [[HeaderCodec.aviFrames]] and [[Audio.decodePcm16Mono]]. None may
  * throw, and the outcomes are pinned as per-outcome counts plus one
  * digest over every outcome in order, so any change to a walk rule
  * (word alignment, the negative-size stop, the descent bound) or to a
  * skip rule shows up here. The fixture payloads themselves are pinned
  * by digest for ids 0–59.
  */
class MediaDecodePropertySpec extends AnyFunSuite {

  private def le32(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4)
    .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def setLe32(b: Array[Byte], at: Int, v: Int): Array[Byte] = {
    val c = b.clone()
    System.arraycopy(le32(v), 0, c, at, 4)
    c
  }
  private def addLe32(b: Array[Byte], at: Int, d: Int): Array[Byte] =
    setLe32(b, at, java.nio.ByteBuffer.wrap(b, at, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt + d)

  /** An odd-sized chunk, with or without its word-alignment pad byte. */
  private def oddJunk(r: scala.util.Random, padded: Boolean): Array[Byte] = {
    val n = 2 * r.nextInt(8) + 1
    val body = Array.fill(n)(r.nextInt(256).toByte)
    ascii("JUNK") ++ le32(n) ++ body ++
      (if (padded) Array[Byte](0) else Array.empty[Byte])
  }

  // fixture layouts: WAV = RIFF(12) fmt(24) data-header(8) samples;
  // AVI = RIFF(12) LIST-header+"hdrl"(12) avih(8 + 56)
  private val WavSizes = Seq(4, 16, 40)
  private val AviSizes = Seq(4, 16, 28)

  private def wavVariant(b: Array[Byte], r: scala.util.Random)
      : Array[Byte] = r.nextInt(8) match {
    case 0 => b.take(r.nextInt(b.length + 1))
    case 1 =>
      val c = b.clone()
      val at = WavSizes(r.nextInt(3)) + r.nextInt(4)
      c(at) = (c(at) ^ (1 + r.nextInt(255))).toByte
      c
    case 2 => setLe32(b, WavSizes(r.nextInt(3)), Int.MinValue | r.nextInt())
    case 3 => addLe32(b, WavSizes(r.nextInt(3)), 2 * r.nextInt(4) + 1)
    case 4 | 5 => // an odd chunk ahead of fmt or of data
      val junk = oddJunk(r, padded = r.nextInt(4) != 0)
      val at = if (r.nextBoolean()) 12 else 36
      addLe32(b.take(at) ++ junk ++ b.drop(at), 4, junk.length)
    case 6 => b.take(12) ++ b.drop(36) ++ b.slice(12, 36) // data before fmt
    case _ =>
      val c = b.clone()
      val at = r.nextInt(c.length)
      c(at) = (c(at) ^ (1 + r.nextInt(255))).toByte
      c
  }

  private def aviVariant(b: Array[Byte], r: scala.util.Random)
      : Array[Byte] = r.nextInt(8) match {
    case 0 => b.take(r.nextInt(b.length + 1))
    case 1 =>
      val c = b.clone()
      val at = AviSizes(r.nextInt(3)) + r.nextInt(4)
      c(at) = (c(at) ^ (1 + r.nextInt(255))).toByte
      c
    case 2 => setLe32(b, AviSizes(r.nextInt(3)), Int.MinValue | r.nextInt())
    case 3 => addLe32(b, AviSizes(r.nextInt(3)), 2 * r.nextInt(4) + 1)
    case 4 => // an odd chunk ahead of LIST hdrl
      val junk = oddJunk(r, padded = r.nextInt(4) != 0)
      addLe32(b.take(12) ++ junk ++ b.drop(12), 4, junk.length)
    case 5 => // an odd chunk inside hdrl, ahead of avih
      val junk = oddJunk(r, padded = r.nextInt(4) != 0)
      addLe32(addLe32(b.take(24) ++ junk ++ b.drop(24), 16, junk.length),
        4, junk.length)
    case 6 => // LIST hdrl without avih: renamed, or dropped
      if (r.nextBoolean()) b.take(24) ++ ascii("strh") ++ b.drop(28)
      else setLe32(setLe32(b.take(24), 16, 4), 4, 16)
    case _ =>
      val c = b.clone()
      val at = r.nextInt(c.length)
      c(at) = (c(at) ^ (1 + r.nextInt(255))).toByte
      c
  }

  private def otherVariant(b: Array[Byte], r: scala.util.Random)
      : Array[Byte] =
    if (r.nextBoolean()) b.take(r.nextInt(b.length + 1))
    else {
      val c = b.clone()
      val at = r.nextInt(c.length)
      c(at) = (c(at) ^ (1 + r.nextInt(255))).toByte
      c
    }

  private def variant(r: scala.util.Random): Array[Byte] = {
    val id = r.nextInt(60).toLong
    r.nextInt(6) match {
      case 0 => wavVariant(SynthMedia.wavForId(id), r)
      case 1 => wavVariant(SynthAudio.wavForId(id), r)
      case 2 => wavVariant(SynthAudio.wavFramedForId(id), r)
      case 3 => aviVariant(SynthMedia.aviForId(id), r)
      case 4 => otherVariant(SynthMedia.pngForId(id), r)
      case _ => otherVariant(SynthMedia.jpegForId(id), r)
    }
  }

  private def md5(parts: Iterator[Array[Byte]]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    parts.foreach { p => d.update(le32(p.length)); d.update(p) }
    d.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  test("decoders keep their outcome on 2,000 seeded malformed variants") {
    val codec = new HeaderCodec(0)
    val r = new scala.util.Random(20261019L)
    val outcomes = (0 until 2000).map { _ =>
      val b = variant(r)
      val m = codec.decode(b)
      val pcm = Audio.decodePcm16Mono(b).map { case (rate, s) =>
        s"$rate/${s.length}/${java.util.Arrays.hashCode(s)}"
      }
      (s"${m.format} ${m.width}x${m.height}", codec.aviFrames(b), pcm)
    }
    val counts = outcomes.groupBy(_._1.takeWhile(_ != ' '))
      .map { case (f, v) => f -> v.size } ++ Map(
        "aviFrames" -> outcomes.count(_._2.isDefined),
        "pcm" -> outcomes.count(_._3.isDefined))
    val digest = md5(outcomes.iterator.map(o => ascii(o.toString)))
    assert(counts == Map("wav" -> 863, "avi" -> 202, "png" -> 145,
      "jpeg" -> 174, "bin" -> 616, "aviFrames" -> 202, "pcm" -> 474),
      s"counts $counts")
    assert(digest == "1591ba4ac8297f11c7205192af821c72", s"digest $digest")
  }

  test("fixture payloads for ids 0-59 are pinned by digest") {
    def all(f: Long => Array[Byte]): String = md5((0L until 60L).iterator.map(f))
    val got = Map(
      "SynthMedia.png" -> all(SynthMedia.pngForId),
      "SynthMedia.jpeg" -> all(SynthMedia.jpegForId),
      "SynthMedia.wav" -> all(SynthMedia.wavForId),
      "SynthMedia.avi" -> all(SynthMedia.aviForId),
      "SynthAudio.wav" -> all(SynthAudio.wavForId),
      "SynthAudio.wavFramed" -> all(SynthAudio.wavFramedForId),
      "SynthImages.png" -> all(SynthImages.pngForId),
      "SynthImages.jpeg" -> all(SynthImages.jpegForId))
    assert(got == Map(
      "SynthMedia.png" -> "3956452552f0c0c6de6f5865f0927721",
      "SynthMedia.jpeg" -> "f4744c9b8b92e98e099581461572a74e",
      "SynthMedia.wav" -> "f4a6bcfb451f313c1e09341eb0cb7519",
      "SynthMedia.avi" -> "46b6aa056700b120ae1c15264b9cff0f",
      "SynthAudio.wav" -> "e976c7045fe453b9859ea1bee7c11467",
      "SynthAudio.wavFramed" -> "0fadd05ac11e5a43c90fe4ca42cb2136",
      "SynthImages.png" -> "bcee737aa8b29d93eeaea5ddc3e724c4",
      "SynthImages.jpeg" -> "78afb9e08f9c12c3806bf42cb8a7942c"),
      s"digests $got")
  }
}

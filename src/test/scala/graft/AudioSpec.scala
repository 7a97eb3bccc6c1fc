package graft

import graft.operators.Audio
import graft.operators.Audio.SynthAudio
import graft.operators.Multimodal.MediaRow

/** PCM decode contracts: golden samples through a hand-built WAV,
  * the refuse-don't-guess policy for non-PCM16-mono payloads, the
  * encode→decode round-trip on the fixtures, and the feature math.
  */
class AudioSpec extends SparkSpec {
  import spark.implicits._

  private def wav(rate: Int, channels: Int, bits: Int,
                  samples: Seq[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
    buf.putShort(1).putShort(channels.toShort).putInt(rate)
    buf.putInt(rate * channels * bits / 8)
    buf.putShort((channels * bits / 8).toShort).putShort(bits.toShort)
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(v => buf.putShort(v))
    buf.array()
  }

  test("golden samples: a hand-built PCM16 mono WAV decodes exactly") {
    val got = Audio.decodePcm16Mono(
      wav(16000, 1, 16, Seq[Short](0, 100, -100, 32767, -32768)))
    assert(got.isDefined)
    val (rate, s) = got.get
    assert(rate == 16000)
    assert(s.toSeq == Seq[Short](0, 100, -100, 32767, -32768))
  }

  test("refuse-don't-guess: stereo, 8-bit, non-PCM and garbage all skip") {
    assert(Audio.decodePcm16Mono(
      wav(16000, 2, 16, Seq[Short](1, 2))).isEmpty) // stereo
    assert(Audio.decodePcm16Mono("not audio".getBytes("UTF-8")).isEmpty)
    assert(Audio.decodePcm16Mono(Array.empty[Byte]).isEmpty)
    // header-only (the t11 fixture shape: data size 0) decodes to
    // ZERO samples — valid, just silent
    val empty = Audio.decodePcm16Mono(
      graft.operators.Multimodal.SynthMedia.wavBytes(8000, 1, Array.empty))
    assert(empty.exists(_._2.isEmpty))
  }

  test("SynthAudio round-trip: decode(wavForId) == samplesForId, " +
      "within int16 range") {
    for (id <- Seq(0L, 6L, 33L, 59L)) {
      val want = SynthAudio.samplesForId(id)
      assert(want.forall(v => v >= -32768 && v <= 32767))
      val Some((rate, got)) = Audio.decodePcm16Mono(SynthAudio.wavForId(id))
      assert(rate == 8000 + 1000 * (id % 5).toInt)
      assert(got.toSeq == want.toSeq, s"samples for id=$id")
    }
  }

  test("frameFeatures: consecutive frames, partial tail, exact " +
      "aggregates; framed fixture plants true digital silence") {
    val rows = Seq(MediaRow(1L,
      wav(8000, 1, 16, Seq[Short](10, -20, 30, 0, 5)))).toDF()
    val got = Audio.frameFeatures(rows, frameLen = 2)
      .as[(Long, Long, Long, Long, Long)].collect()
      .sortBy(_._2).toSeq
    assert(got == Seq(
      (1L, 0L, 2L, 10L * 10 + 20L * 20, 20L),
      (1L, 1L, 2L, 30L * 30, 30L),
      (1L, 2L, 1L, 25L, 5L))) // partial tail frame of one sample
    // the t51 fixture: every third 500-block is digital silence
    val framed = SynthAudio.samplesFramedForId(9L)
    assert(framed.slice(1000, 1500).forall(_ == 0))
    assert(framed.slice(0, 500).exists(_ != 0))
    val Some((_, rt)) =
      Audio.decodePcm16Mono(SynthAudio.wavFramedForId(9L))
    assert(rt.toSeq == framed.toSeq)
  }

  test("pcmFeatures: integer-exact energy / crossings / clip count; " +
      "undecodable rows drop") {
    val rows = Seq(
      MediaRow(1L, wav(8000, 1, 16,
        Seq[Short](100, -200, 300, 0, -400, 31000))),
      MediaRow(2L, "garbage".getBytes("UTF-8")))
      .toDF()
    val got = Audio.pcmFeatures(rows)
      .as[(Long, Int, Long, Long, Long, Long)].collect()
    assert(got.length == 1)
    val (id, rate, n, energy, zc, clip) = got.head
    assert((id, rate, n) == (1L, 8000, 6L))
    assert(energy ==
      100L*100 + 200L*200 + 300L*300 + 0L + 400L*400 + 31000L*31000)
    // sign flips: 100→-200, -200→300; 300→0 and 0→-400 are NOT
    // crossings (strict product < 0); -400→31000 is
    assert(zc == 3L)
    assert(clip == 1L)
  }

  test("spectralFeatures: pure tone at bin 4 dominates; silence zeros") {
    // 128 samples of cos(2π·4·i/64): two 64-frames of a bin-4 tone,
    // then a 64-sample digital-silence frame
    val tone = (0 until 128).map(i =>
      math.round(1000.0 * math.cos(2.0 * math.Pi * 4 * i / 64)).toShort)
    val rows = Seq(
      MediaRow(1L, wav(8000, 1, 16, tone ++ Seq.fill(64)(0.toShort))),
      // 65 samples: one full frame + a dropped partial tail
      MediaRow(2L, wav(8000, 1, 16, tone.take(65))))
      .toDF()
    val got = Audio.spectralFeatures(rows, frameLen = 64)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(got.size == 4) // doc1: 3 frames, doc2: 1 (partial dropped)
    // both tone frames: dominant bin 4, centroid pulled to ~4
    for (fix <- 0L to 1L) {
      val (dom, domP, totP, cen) = got((1L, fix))
      assert(dom == 4L, s"frame $fix dominant bin $dom")
      assert(domP > 0L && totP >= domP)
      // quantized twiddles leak tiny power into other bins; the
      // centroid must still sit hard against the tone bin
      assert(math.abs(cen - 4.0) < 0.01, s"centroid $cen")
    }
    // digital silence: all-zero spectrum, flagged via zeros
    assert(got((1L, 2L)) == ((0L, 0L, 0L, 0.0)))
    // doc 2's only frame is the same tone frame 0
    assert(got((2L, 0L))._1 == 4L)
  }

  test("spectralFeatures: DC-only input has zero AC spectrum") {
    // constant signal: every k>=1 bin of a full period sums to zero
    // EXACTLY in milli-unit trig (Σcos/Σsin over a full cycle is 0)
    val rows = Seq(MediaRow(7L,
      wav(8000, 1, 16, Seq.fill(64)(500.toShort)))).toDF()
    val got = Audio.spectralFeatures(rows, frameLen = 64)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(got.length == 1)
    assert((got.head._3, got.head._4, got.head._5) == ((0L, 0L, 0L)))
  }
}

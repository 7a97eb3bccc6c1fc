package graft.operators

import graft.operators.Multimodal.{ascii, le16, le32, mapMedia,
  riffChunks, riffForm}
import org.apache.spark.sql.DataFrame

/** REAL audio SAMPLE decode — the audio half of the boundary
  * [[ImagePixels]] closed for images: PCM in a WAV container is
  * UNCOMPRESSED, so the JDK needs no codec library to read it — the
  * one RIFF chunk walk ([[Multimodal.riffChunks]]) that
  * [[Multimodal.HeaderCodec]] runs for `fmt ` extends to the `data`
  * chunk and plain little-endian int16 reads. The fixtures are written
  * by the one WAV writer, [[Multimodal.SynthMedia.wavBytes]].
  * On top of the decoded samples, the integer-exact features an audio
  * curation gate runs: sample count, energy (Σs², the RMS numerator),
  * zero-crossing count (the classic cheap pitch/noisiness signal),
  * and clip count (|s| at the rail ⇒ recording damage) — each a pure
  * integer so a SQL oracle replays the whole pipeline from the
  * fixture formulas, gating the DECODER end-to-end (the t49
  * convention).
  *
  * What stays out: compressed codecs (MP3/AAC/Opus) — those need
  * libraries this container lacks; [[decodePcm16Mono]] is the one
  * decode seam they drop into, exactly like ffmpeg in
  * [[Multimodal.frameSample]]. FFT-domain features are IN:
  * [[spectralFeatures]] computes the discrete Fourier spectrum with
  * fixed-point twiddle tables, no library needed.
  *
  * Scale shape: decode+aggregate is one narrow mapPartitions kernel —
  * each payload reduces to a 5-long feature row inside the scan, so
  * at 100 TB only ~40 bytes per file leave the executors.
  */
object Audio {

  case class PcmFeatures(doc_id: Long, sample_rate: Int, n_samples: Long,
                         energy: Long, zero_crossings: Long,
                         clip_count: Long)

  /** Decode 16-bit mono PCM from a WAV payload: (sampleRate, samples).
    * None for anything else — non-WAV, compressed, non-16-bit, >1
    * channel, or malformed structure (a corrupt shard skips, never
    * kills; stereo would need an explicit channel policy, so it is
    * refused rather than silently mixed down).
    */
  def decodePcm16Mono(b: Array[Byte]): Option[(Int, Array[Short])] =
    try {
      if (!riffForm(b, "WAVE")) return None
      var rate: Option[Int] = None
      val chunks = riffChunks(b, 12, b.length)
      while (chunks.hasNext) {
        val (i, size) = chunks.next()
        if (ascii(b, i, "fmt ") && size >= 16 && i + 8 + 16 <= b.length) {
          val fmt = le16(b, i + 8)
          val channels = le16(b, i + 10)
          val bits = le16(b, i + 22)
          if (fmt != 1 || channels != 1 || bits != 16) return None
          rate = Some(le32(b, i + 12))
        } else if (ascii(b, i, "data"))
          // no rate yet: data before fmt is malformed
          return rate.map(r => (r, Array.tabulate(
            math.min(size, b.length - i - 8) / 2)(k =>
            le16(b, i + 8 + 2 * k).toShort)))
      }
      None
    } catch { case _: IndexOutOfBoundsException => None }

  /** Per-payload integer-exact PCM features
    * ([[PcmFeatures]] columns). One decoder pass per partition;
    * undecodable rows yield nothing. `clipAt` = |s| ≥ clipAt counts
    * as clipped (the rail test; 30000 ≈ 0.92 full scale default).
    */
  def pcmFeatures(df: DataFrame, clipAt: Int = 30000): DataFrame =
    mapMedia(df) { () => r =>
      decodePcm16Mono(r.payload).map { case (rate, s) =>
        var energy = 0L
        var zc = 0L
        var clip = 0L
        var i = 0
        while (i < s.length) {
          val v = s(i).toLong
          energy += v * v
          if (math.abs(v) >= clipAt) clip += 1
          // strict sign flip — zeros break a crossing, exactly as
          // the SQL replay's s(i)*s(i+1) < 0 does
          if (i > 0 && s(i - 1).toLong * v < 0) zc += 1
          i += 1
        }
        PcmFeatures(r.doc_id, rate, s.length.toLong, energy, zc, clip)
      }
    }

  case class FrameRow(doc_id: Long, frame_ix: Long, n: Long,
                      energy: Long, peak: Long)

  /** FRAME-level PCM features — the framing stage every audio model
    * pipeline runs before anything spectral (and the basis of
    * VAD-style silence gating): samples split into consecutive
    * `frameLen`-sample frames (last frame partial), each reduced to
    * (count, energy, peak |s|) — all integers, SQL-replayable. A
    * downstream silence gate is `energy == 0` (digital silence) or an
    * energy/`n` threshold; frame selection then mirrors
    * [[Multimodal.frameSample]]'s stride rule.
    */
  def frameFeatures(df: DataFrame, frameLen: Int = 500): DataFrame = {
    require(frameLen >= 1, s"frameLen=$frameLen must be >= 1")
    mapMedia(df) { () => r =>
      decodePcm16Mono(r.payload).toSeq.flatMap { case (_, s) =>
        s.iterator.zipWithIndex
          .map { case (v, i) => (i / frameLen, v.toLong) }
          .toSeq.groupBy(_._1).toSeq.map { case (fix, vs) =>
            FrameRow(r.doc_id, fix.toLong, vs.size.toLong,
              vs.map(t => t._2 * t._2).sum,
              vs.map(t => math.abs(t._2)).max)
          }
      }
    }
  }

  case class SpectralRow(doc_id: Long, frame_ix: Long, dom_bin: Long,
                         dom_power: Long, total_power: Long,
                         centroid: Double)

  /** Frame-level DFT spectral features over the decoded PCM — the
    * FFT-domain half of the audio seam, computed with NO external
    * library: per `frameLen`-sample frame (partial tail dropped — a
    * DFT needs the full window), the discrete Fourier magnitude
    * spectrum over bins k = 1..N/2, reduced to the features a
    * spectral curation gate keys on: dominant bin (argmax |X_k|²,
    * ties → lowest k), its power, total power, and the spectral
    * centroid Σk·P_k / ΣP_k (the classic brightness signal).
    *
    * Engine-portability is the design driver: the ONLY transcendental
    * step is the twiddle table cos/sin(2πj/N), quantized to integer
    * MILLI-units up front — after that every accumulation (re, im,
    * P_k = re²+im², the Σk·P_k centroid numerator) is exact Long
    * arithmetic, order-independent, so a SQL oracle replays the whole
    * spectrum bit-for-bit from the fixture formulas. P_k is stored in
    * trig-scale² units (// 10⁶) so the 32-bin total fits a Long at
    * full-scale int16 input. The angle is reduced mod N BEFORE the
    * trig ((k·i) mod N — cos is 2π-periodic), keeping libm arguments
    * in [0, 2π) where both engines' cos/sin agree to the last ulp;
    * the residual cross-engine risk is a twiddle landing exactly on a
    * .5 milli-unit boundary, which only the four rational angles can
    * do (0, ±1000, 0 — none end in .5).
    *
    * `frameLen` ≤ 64 keeps re²+im² within Long: |re| ≤ N·32768·1000,
    * and 2·(64·32768·1000)² = 8.8e18 < 2⁶³.
    *
    * Scale shape: decode + spectrum + reduce is ONE narrow
    * mapPartitions kernel (trig tables built once per partition);
    * ~50 bytes per frame leave the scan, never samples.
    */
  def spectralFeatures(df: DataFrame, frameLen: Int = 64): DataFrame = {
    require(frameLen >= 2 && frameLen <= 64,
      s"frameLen=$frameLen outside [2, 64] (Long-exact power bound)")
    val n = frameLen
    mapMedia(df) { () =>
      val cosT = Array.tabulate(n)(j =>
        math.round(math.cos(2.0 * math.Pi * j / n) * 1000.0))
      val sinT = Array.tabulate(n)(j =>
        math.round(math.sin(2.0 * math.Pi * j / n) * 1000.0))
      r => decodePcm16Mono(r.payload).toSeq.flatMap { case (_, s) =>
        (0 until s.length / n).map { fix =>
          val off = fix * n
          var domBin = 0L; var domP = 0L; var totP = 0L; var wSum = 0L
          var k = 1
          while (k <= n / 2) {
            var re = 0L; var im = 0L; var i = 0
            while (i < n) {
              val v = s(off + i).toLong
              val j = (k * i) % n
              re += v * cosT(j)
              im += v * sinT(j)
              i += 1
            }
            val p = (re * re + im * im) / 1000000L
            if (p > domP) { domP = p; domBin = k.toLong }
            totP += p
            wSum += k.toLong * p
            k += 1
          }
          // centroid left UNROUNDED: query layers round(…, 6) on
          // both engines (the t19 convention) — the division here
          // is exact-int inputs, identical IEEE op either side
          if (totP == 0L) SpectralRow(r.doc_id, fix.toLong, 0L, 0L, 0L, 0.0)
          else SpectralRow(r.doc_id, fix.toLong, domBin, domP, totP,
            wSum.toDouble / totP.toDouble)
        }
      }
    }
  }

  /** Deterministic REAL-PCM fixture generator (the
    * [[ImagePixels.SynthImages]] convention): full WAV files with a
    * genuine fmt chunk and an int16 sample stream following a
    * closed-form integer formula an oracle replays in SQL. The
    * sawtooth-ish formula is chosen transcendental-free (a sine would
    * need float trig on both engines):
    *
    *   n     = 2000 + (id % 7) · 500         samples
    *   rate  = 8000 + 1000 · (id % 5)        Hz (the t11 formula)
    *   s(i)  = (((id·13 + i·97) % 4001) − 2000) · 16   ∈ [−32000, 32000]
    *
    * The ·16 scaling pushes peaks past the default clip rail (30000)
    * so clip_count is exercised, and the %4001 sawtooth crosses zero
    * constantly so zero_crossings is non-trivial.
    *
    * The FRAMED variant (t51) zeroes every third 500-sample block —
    * `s(i) = 0 when (i / 500) % 3 == 2` — planting digital-silence
    * frames so the silence gate has something to catch.
    */
  object SynthAudio {

    def samplesForId(id: Long): Array[Short] = {
      val n = (2000 + (id % 7) * 500).toInt
      Array.tabulate(n)(i =>
        ((((id * 13 + i.toLong * 97) % 4001) - 2000) * 16).toShort)
    }

    def samplesFramedForId(id: Long): Array[Short] = {
      val base = samplesForId(id)
      Array.tabulate(base.length)(i =>
        if ((i / 500) % 3 == 2) 0.toShort else base(i))
    }

    def wavFramedForId(id: Long): Array[Byte] = mono(id, samplesFramedForId(id))

    def wavForId(id: Long): Array[Byte] = mono(id, samplesForId(id))

    private def mono(id: Long, s: Array[Short]): Array[Byte] =
      Multimodal.SynthMedia.wavBytes(8000 + 1000 * (id % 5).toInt, 1, s)
  }
}

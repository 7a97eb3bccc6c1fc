package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Multimodal column plumbing: image/audio/video payloads ride through
  * the engine as opaque `binary` columns plus a typed metadata struct —
  * the layout used by large-scale multimodal training pipelines (and by
  * Spark's own `binaryFile` source).
  *
  * Header DECODE is real: [[HeaderCodec]] parses PNG (IHDR), JPEG
  * (marker walk to SOFn), GIF (logical screen descriptor), WAV
  * (RIFF `fmt ` chunk) and AVI (`LIST hdrl` → `avih`) with plain JVM
  * byte inspection — no native codec libraries. Each container rule
  * has one definition here: one set of byte readers ([[le16]],
  * [[le32]], [[be16]], [[be32]], [[ascii]]), one RIFF chunk walker
  * ([[riffChunks]], shared with [[Audio.decodePcm16Mono]]), one WAV
  * writer ([[SynthMedia.wavBytes]], shared with [[Audio.SynthAudio]]),
  * one `(doc_id, payload)` row ([[MediaRow]]) and one per-partition
  * scaffold ([[mapMedia]]) for every media operator here and in
  * [[Audio]] and [[ImagePixels]]. Feature extraction is real too, at
  * the level a codec-free container permits: the L2-normalized byte
  * histogram ([[HeaderCodec.features]]) — a learned image/audio
  * embedding would replace that one method without touching shape or
  * plumbing. IMAGE pixel decode is real as well — [[ImagePixels]]
  * decodes PNG (and any other ImageIO-supported format) to pixel
  * grids, extracts real pixel features and perceptual hashes
  * (t49/v32/v34). The remaining boundary is video FRAME decode (frame
  * pixels): that needs codecs the JDK lacks; [[frameSample]]'s
  * per-row body is the documented seam an ffmpeg call drops into.
  * Unknown or MALFORMED payloads never throw: they fall back to
  * [[StubCodec]] hash-derived metadata under format "bin" — at 100 TB
  * a corrupt shard must skip, not kill the job.
  */
object Multimodal {

  case class MediaMeta(width: Int, height: Int, format: String)

  /** Wrap a text table as a fake media table: payload = utf-8 bytes.
    * In production this column comes from `spark.read.format("binaryFile")`
    * or pre-packed parquet/webdataset shards.
    */
  def asBinaryPayload(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.select(
      col(idCol),
      encode(col(textCol), "UTF-8").as("payload"),
      lit("application/octet-stream").as("mime"))

  /** One media payload keyed by its document: the row every media
    * operator reads. */
  case class MediaRow(doc_id: Long, payload: Array[Byte])

  /** The per-partition scaffold of every media operator: the
    * (doc_id, payload) rows of `df`, mapped one partition at a time.
    * `init` runs once per PARTITION and returns the per-row function
    * (real decoders — libjpeg, ffmpeg contexts — are expensive to init
    * and not serializable, so they must be constructed inside
    * mapPartitions, not per row and not on the driver); a row may yield
    * any number of output rows, none for a payload it skips.
    */
  private[operators] def mapMedia[R <: Product : TypeTag](df: DataFrame)(
      init: () => MediaRow => IterableOnce[R]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions(rows => rows.flatMap(init()))
      .toDF()
  }

  private[operators] def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private[operators] def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private[operators] def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private[operators] def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
  /** Whether `s` is spelled at `b(i)`; false when it runs off the end. */
  private[operators] def ascii(b: Array[Byte], i: Int, s: String): Boolean =
    i + s.length <= b.length &&
      s.indices.forall(k => (b(i + k) & 0xff) == s.charAt(k))

  /** `RIFF....<form>`: the 12-byte header every RIFF file opens with. */
  private[operators] def riffForm(b: Array[Byte], form: String): Boolean =
    b.length >= 12 && ascii(b, 0, "RIFF") && ascii(b, 8, form)

  /** The one RIFF chunk walk: (offset, size) of each `id(4) size(4le)
    * data` chunk header in `b`, starting at `from`, while a header fits
    * before `end`. Chunks are word-aligned — an odd size is followed by
    * one pad byte. The walk stops at a negative size: later chunks of
    * such a container cannot be located. A size large enough to
    * overflow the next offset makes a later read throw
    * `IndexOutOfBoundsException`, which every caller catches.
    */
  private[operators] def riffChunks(b: Array[Byte], from: Int,
                                    end: Int): Iterator[(Int, Int)] =
    new Iterator[(Int, Int)] {
      private var i = from
      def hasNext: Boolean = i + 8 <= end && le32(b, i + 4) >= 0
      def next(): (Int, Int) = {
        val size = le32(b, i + 4)
        val chunk = (i, size)
        i += 8 + size + (size & 1)
        chunk
      }
    }

  /** `v / ‖v‖₂` as float32; the zero vector stays zero (no NaN). */
  private[operators] def l2Floats(v: Array[Double]): Array[Float] = {
    var sq = 0.0
    var i = 0
    while (i < v.length) { sq += v(i) * v(i); i += 1 }
    val norm = math.sqrt(sq)
    if (norm == 0.0) new Array[Float](v.length)
    else v.map(x => (x / norm).toFloat)
  }

  case class DecodedRow(doc_id: Long, byte_len: Int, width: Int,
                        height: Int, format: String,
                        features: Array[Float])

  /** Batch-shaped decode+extract: the Scala analog of a pandas-UDF
    * `mapInPandas` media pipeline — one [[HeaderCodec]] per PARTITION
    * ([[mapMedia]]), then a streaming iterator over the partition's
    * rows. Header metadata AND the byte-histogram content features are
    * real; pass `featureDim = 0` to skip feature extraction entirely
    * (metadata-only scans must not pay a per-row histogram pass for a
    * column they drop).
    */
  def decodeBatch(df: DataFrame, featureDim: Int): DataFrame =
    mapMedia(df) { () =>
      val codec = new HeaderCodec(featureDim)
      r => {
        val m = codec.decode(r.payload)
        Some(DecodedRow(r.doc_id, r.payload.length, m.width, m.height,
          m.format, codec.features(r.payload)))
      }
    }

  case class FrameRow(doc_id: Long, n_frames: Int, frame_ix: Int)

  /** VIDEO FRAME SAMPLING at the metadata level — the plumbing half of
    * the frame-sample stage a video training pipeline runs: for each
    * AVI payload, read dwTotalFrames from the real header and emit one
    * row per SAMPLED frame index under the deterministic stride rule
    * `stride = max(1, ceil(n / target))` — ceil division bounds the
    * output at `target` frames (floor division would emit up to
    * 2*target-1 whenever target < n < 2*target), exact for the SQL
    * oracle — no RNG. The decode of the sampled
    * frame's PIXELS is the documented stub boundary (a real pipeline
    * drops an ffmpeg call into the per-row body below, where the
    * per-partition codec handle already lives); everything around it —
    * schema, per-partition batching, the explode shape, the sampling
    * rule — is real and oracle-gated. Non-AVI/malformed payloads yield
    * no rows (a corrupt shard skips, never kills).
    */
  def frameSample(df: DataFrame, target: Int): DataFrame = {
    require(target >= 1, s"target=$target must be >= 1")
    mapMedia(df) { () =>
      val codec = new HeaderCodec(0)
      r => codec.aviFrames(r.payload).toSeq.flatMap { n =>
        val stride = math.max(1, (n + target - 1) / target)
        (0 until n by stride).map(ix => FrameRow(r.doc_id, n, ix))
      }
    }
  }

  /** Pure-JVM container-header parser. Only HEADERS are decoded (the
    * metadata a curation pipeline filters on — dimensions, sample rate,
    * channel count); pixel/sample payloads are untouched. Every parse
    * path bounds-checks and falls back to [[StubCodec]] metadata under
    * format "bin" on any malformed structure.
    *
    * Field mapping for audio: WAV reports width = sample rate (Hz) and
    * height = channel count — the two gate-relevant numbers — keeping
    * one metadata struct across modalities.
    */
  final class HeaderCodec(featureDim: Int) {
    private val stub = new StubCodec

    private val PngMagic =
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    private def png(b: Array[Byte]): Option[MediaMeta] =
      if (b.length >= 24 && b.take(8).sameElements(PngMagic) &&
          ascii(b, 12, "IHDR"))
        Some(MediaMeta(be32(b, 16), be32(b, 20), "png"))
      else None

    /** SOI, then segment walk to the first SOFn frame header, whose
      * payload is precision(1) height(2) width(2). The walk honors the
      * two JPEG quirks that desync naive scanners: optional 0xFF FILL
      * bytes may pad ahead of any marker (advance one byte, not a
      * fabricated length), and TEM (0x01) / RSTn (0xD0-0xD7) markers
      * are LENGTHLESS (advance past the marker only). Everything else
      * (APPn/COM/DQT/DHT/...) is length-prefixed. */
    private def jpeg(b: Array[Byte]): Option[MediaMeta] = {
      if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
        return None
      var i = 2
      while (i + 1 < b.length && (b(i) & 0xff) == 0xff) {
        val marker = b(i + 1) & 0xff
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          return if (i + 9 <= b.length)
            Some(MediaMeta(be16(b, i + 7), be16(b, i + 5), "jpeg"))
          else None
        }
        if (marker == 0xff) i += 1 // fill byte: next 0xFF starts the marker
        else if (marker == 0xd9 || marker == 0xda) return None // EOI/SOS
        else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7))
          i += 2 // TEM/RSTn carry no length field
        else if (i + 3 < b.length)
          i += 2 + be16(b, i + 2) // marker + length-prefixed payload
        else return None
      }
      None
    }

    private def gif(b: Array[Byte]): Option[MediaMeta] =
      if (b.length >= 10 && (ascii(b, 0, "GIF87a") || ascii(b, 0, "GIF89a")))
        Some(MediaMeta(le16(b, 6), le16(b, 8), "gif"))
      else None

    /** RIFF....WAVE, then the [[riffChunks]] walk to the first `fmt `:
      * channels at data+2, sample rate at data+4. */
    private def wav(b: Array[Byte]): Option[MediaMeta] =
      if (!riffForm(b, "WAVE")) None
      else riffChunks(b, 12, b.length).find(c => ascii(b, c._1, "fmt "))
        .flatMap { case (i, size) =>
          if (size >= 8 && i + 8 + 8 <= b.length)
            Some(MediaMeta(le32(b, i + 12), le16(b, i + 10), "wav"))
          else None
        }

    /** RIFF....AVI , then the chunk walk DESCENDS into the `LIST hdrl`
      * container to the `avih` main header, whose payload carries
      * dwTotalFrames at +16 and dwWidth/dwHeight at +32/+36 — the
      * frame-count and dimensions a video curation gate filters on.
      * Frame payloads (`movi`) are untouched, like every codec here.
      * Field mapping: width/height are the real pixel dims; the frame
      * count is recoverable as byte_len-independent metadata but the
      * shared MediaMeta struct keeps the cross-modal (w, h, format)
      * shape — [[decodeBatch]] rows carry byte_len for the rest.
      */
    private def avi(b: Array[Byte]): Option[MediaMeta] =
      aviHeader(b).map { case (w, h, _) => MediaMeta(w, h, "avi") }

    /** The full avih read: (dwWidth, dwHeight, dwTotalFrames) —
      * [[avi]] keeps the cross-modal MediaMeta shape; frame-level
      * consumers ([[aviFrames]], i19's [[frameSample]]) need the count. */
    private def aviHeader(b: Array[Byte]): Option[(Int, Int, Int)] =
      if (!riffForm(b, "AVI ")) None
      else riffChunks(b, 12, b.length)
        .find(c => ascii(b, c._1, "LIST") && ascii(b, c._1 + 8, "hdrl"))
        .flatMap { case (i, size) =>
          // descend: subchunks start after the 4-byte list type
          riffChunks(b, i + 12, math.min(b.length, i + 8 + size))
            .find(c => ascii(b, c._1, "avih"))
        }
        .flatMap { case (j, size) =>
          if (size >= 40 && j + 8 + 40 <= b.length)
            Some((le32(b, j + 8 + 32), le32(b, j + 8 + 36),
              le32(b, j + 8 + 16)))
          else None
        }

    /** dwTotalFrames of an AVI payload; None for non-AVI/malformed. */
    def aviFrames(payload: Array[Byte]): Option[Int] =
      try aviHeader(payload).map(_._3)
      catch { case _: IndexOutOfBoundsException => None }

    def decode(payload: Array[Byte]): MediaMeta =
      try png(payload).orElse(jpeg(payload)).orElse(gif(payload))
        .orElse(avi(payload)).orElse(wav(payload))
        .getOrElse(stub.decode(payload).copy(format = "bin"))
      catch { // malformed sizes/offsets must skip, never kill the job
        case _: IndexOutOfBoundsException =>
          stub.decode(payload).copy(format = "bin")
      }

    /** REAL content feature: the L2-normalized byte-value histogram
      * (`dim` bins by byte % dim) — the classic cheap content signature
      * (file-type detection, corruption screens, near-dup blocking for
      * byte-identical-ish payloads). Deliberately modest: a learned
      * image/audio embedding needs codecs this container lacks, and
      * would REPLACE this body without touching shape or plumbing.
      * Empty payloads yield the zero vector (no NaN).
      */
    def features(payload: Array[Byte]): Array[Float] = {
      if (featureDim == 0) return Array.empty
      val counts = new Array[Double](featureDim)
      var i = 0
      while (i < payload.length) {
        counts((payload(i) & 0xff) % featureDim) += 1.0
        i += 1
      }
      l2Floats(counts)
    }
  }

  /** Deterministic stand-in for a native media codec. Holds the mutable
    * scratch state a real decoder would (buffers, contexts) — hence one
    * instance per partition.
    */
  final class StubCodec {
    private val digest = java.security.MessageDigest.getInstance("MD5")

    private def h60(bytes: Array[Byte]): Long = {
      digest.reset()
      digest.update(bytes)
      val h = digest.digest()
      var acc = 0L
      var i = 0
      while (i < 7) { acc = (acc << 8) | (h(i) & 0xffL); i += 1 }
      (acc << 4) | ((h(7) & 0xf0L) >> 4)
    }

    private val formats = Array("jpeg", "png", "webp", "wav")

    def decode(payload: Array[Byte]): MediaMeta = {
      val h = h60(payload)
      MediaMeta((h % 1280 + 1).toInt, ((h >> 16) % 720 + 1).toInt,
        formats(((h >> 32) % 4).toInt))
    }
  }

  /** Deterministic minimal-but-REAL container headers, synthesized from
    * plain metadata — the fixture generator for [[HeaderCodec]]: every
    * byte layout here is the real format's (PNG signature+IHDR, JPEG
    * SOI+APP0+SOF0+EOI, WAV RIFF/fmt/data), so decoding them exercises
    * the same parse paths real shards hit.
    */
  object SynthMedia {

    /** The id-derived fixture dims shared by t11 and i12 — ONE Scala
      * definition of the formulas their oracles replicate in SQL. */
    def pngForId(id: Long): Array[Byte] =
      pngBytes((id * 37 % 1280).toInt + 1, (id * 53 % 720).toInt + 1)
    def jpegForId(id: Long): Array[Byte] =
      jpegBytes((id * 11 % 640).toInt + 1, (id * 13 % 480).toInt + 1)
    def wavForId(id: Long): Array[Byte] =
      wavBytes(8000 + 1000 * (id % 5).toInt, (id % 2).toInt + 1, Array.empty)
    def aviForId(id: Long): Array[Byte] =
      aviBytes((id * 17 % 1920).toInt + 1, (id * 19 % 1080).toInt + 1,
        (id * 7 % 300).toInt + 1)

    def pngBytes(width: Int, height: Int): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(33)
      buf.put(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte))
      buf.putInt(13).put("IHDR".getBytes("US-ASCII"))
      buf.putInt(width).putInt(height)
      buf.put(8.toByte).put(6.toByte) // bit depth, color type RGBA
      buf.put(0.toByte).put(0.toByte).put(0.toByte) // comp/filter/interlace
      buf.putInt(0) // CRC placeholder (header parse does not check it)
      buf.array()
    }

    def jpegBytes(width: Int, height: Int): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(35)
      buf.putShort(0xffd8.toShort) // SOI
      buf.putShort(0xffe0.toShort).putShort(16) // APP0 ahead of SOF —
      buf.put("JFIF".getBytes("US-ASCII")).put(0.toByte) // the walk is real
      buf.put(Array[Byte](1, 1, 0, 0, 1, 0, 1, 0, 0))
      buf.putShort(0xffc0.toShort).putShort(11) // SOF0, 1 component
      buf.put(8.toByte).putShort(height.toShort).putShort(width.toShort)
      buf.put(1.toByte).put(Array[Byte](1, 0x11, 0))
      buf.putShort(0xffd9.toShort) // EOI
      buf.array()
    }

    /** RIFF AVI with a real `LIST hdrl` → `avih` main header (56-byte
      * payload: µs/frame, rates, dwTotalFrames at +16, dwWidth/dwHeight
      * at +32/+36) — no frame data, exactly like the other fixtures.
      */
    def aviBytes(width: Int, height: Int, frames: Int): Array[Byte] = {
      val buf = java.nio.ByteBuffer
        .allocate(88).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(80)
      buf.put("AVI ".getBytes("US-ASCII"))
      buf.put("LIST".getBytes("US-ASCII")).putInt(68)
      buf.put("hdrl".getBytes("US-ASCII"))
      buf.put("avih".getBytes("US-ASCII")).putInt(56)
      buf.putInt(33333) // µs per frame (~30 fps)
      buf.putInt(0).putInt(0).putInt(0) // maxBytesPerSec, padding, flags
      buf.putInt(frames) // dwTotalFrames
      buf.putInt(0).putInt(1).putInt(0) // initialFrames, streams, sugBuf
      buf.putInt(width).putInt(height)
      buf.putInt(0).putInt(0).putInt(0).putInt(0) // reserved
      buf.array()
    }

    /** The one WAV writer: RIFF/WAVE, a 16-byte `fmt ` chunk for
      * 16-bit PCM, and a `data` chunk holding `samples` as
      * little-endian int16 (interleaved when `channels` > 1). */
    def wavBytes(sampleRate: Int, channels: Int,
                 samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val buf = java.nio.ByteBuffer
        .allocate(44 + dataLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      buf.put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      buf.putShort(1) // PCM
      buf.putShort(channels.toShort).putInt(sampleRate)
      buf.putInt(sampleRate * channels * 2) // byte rate
      buf.putShort((channels * 2).toShort).putShort(16) // align, bits
      buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(v => buf.putShort(v))
      buf.array()
    }
  }
}

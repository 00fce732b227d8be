package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A media payload row: opaque binary column + typed metadata.
  * At 100 TB the binary column lives in parquet alongside its metadata;
  * scans prune to metadata-only unless the decode stage is requested. */
final case class MediaRecord(doc_id: Long, media_type: String,
                             media: Array[Byte])

/** Decoded/extracted features for one media payload. A payload the
  * decoder cannot read degrades to an ERROR ROW — `format = "error"`,
  * width/height = -1, empty features — never a task failure: at 100 TB
  * some fraction of any crawl's payloads is corrupt, and one bad blob
  * must not kill a 10-million-row partition. */
final case class MediaMeta(doc_id: Long, media_type: String, n_bytes: Long,
                           width: Int, height: Int, format: String,
                           features: Seq[Float])

/** Decoded audio-payload metadata: everything a WAV/AIFF header plus
  * frame accounting yields JDK-only. An unreadable payload degrades to
  * an error row (-1 numerics, `format = "error"`) exactly like the
  * image path — never a task failure. */
final case class AudioMeta(doc_id: Long, n_bytes: Long, sample_rate: Long,
                           channels: Long, frames: Long, duration_ms: Long,
                           format: String)

/** Integer PCM features of one audio payload: sample count, signal
  * energy (Σ s²), peak |s| — exact integers, so order-independent and
  * SQL-replayable. Error rows carry -1s. */
final case class AudioFeatures(doc_id: Long, n_samples: Long,
                               energy_sum: Long, peak_abs: Long,
                               format: String)

/** Decoded video-CONTAINER metadata: what a RIFF/AVI main header
  * declares (dimensions, frame count, frame timing) — parsed JDK-only
  * by walking the public RIFF chunk layout. Unreadable payloads
  * degrade to error rows (-1 numerics) like the image/audio paths. */
final case class VideoMeta(doc_id: Long, n_bytes: Long, width: Int,
                           height: Int, frames: Long, us_per_frame: Long,
                           duration_ms: Long, format: String)

/** One sampled frame of a video container: where the frame's payload
  * lives in the blob (byte_off/n_bytes — the pointer a downstream
  * decoder seeks to) plus the unsigned-byte payload sum as the
  * parsed-the-right-bytes receipt. Exact integers → SQL-replayable. */
final case class FrameFingerprint(doc_id: Long, frame_idx: Long,
                                  fp: Long)

/** PCM content fingerprint of one audio payload: window count and the
  * order-sensitive per-audio signature over the windowed sample
  * stream. Exact integers → SQL-replayable. */
final case class AudioFingerprint(doc_id: Long, n_windows: Long,
                                  asig: Long)
final case class FrameSample(doc_id: Long, frame_idx: Long,
                             byte_off: Long, n_bytes: Long,
                             payload_sum: Long)

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, decoded/feature-extracted in batched
  * per-partition workers.
  *
  * The IMAGE path is real: payloads are decoded with `javax.imageio`
  * (PNG/JPEG/GIF/BMP readers ship in the JDK, fully offline), so
  * width/height/format/features come from actual pixel data and
  * unreadable payloads degrade to error rows. The AUDIO path is real
  * for the container formats the JDK ships codecs for:
  * `javax.sound.sampled.AudioSystem` parses WAV/AIFF/AU headers and
  * PCM frame accounting offline ([[decodeAudioMeta]]). The VIDEO
  * CONTAINER path is real too: [[decodeVideo]] walks the public
  * RIFF/AVI chunk layout for dimensions/frames/timing — parsing a
  * container needs no codec. What remains honestly stubbed is pixel
  * access: compressed audio (mp3/flac) and video FRAME decode (no
  * MJPEG codec ships with the JDK) keep deterministic STUB feature
  * rows, with Spark-side plumbing (schema, binary handling,
  * `mapPartitions` batch shape) identical to the real paths' and
  * equally tested.
  */
object Multimodal {

  /** Synthesize a binary media column from the documents fixture (the
    * fixtures carry no real media): payload = utf-8 bytes of the text,
    * media_type assigned deterministically. NOTE these payloads are NOT
    * valid images — rows typed `image` exercise the corrupt-payload
    * path of [[decodeMeta]] (error rows), which is exactly what the m2
    * oracle checks. [[attachImages]] builds the valid-image fixtures. */
  def attachBinary(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("media_type"),
      encode(col("text"), "UTF-8").as("media"))

  /** Deterministic synthesis parameters for [[attachImages]], shared
    * with the m3 oracle: a doc's PNG is `width(id) × height(id)` filled
    * with `rgb(id)`. Pure functions of the id so DuckDB can recompute
    * the expected decode output without any image library. */
  def imageWidth(docId: Long): Int = 4 + (docId % 32).toInt
  def imageHeight(docId: Long): Int = 4 + ((docId / 32) % 32).toInt
  def imageRgb(docId: Long): Int =
    (((docId * 3) % 256) << 16 | ((docId * 5) % 256) << 8 |
      ((docId * 7) % 256)).toInt

  /** Real-PNG fixture attach: for every `doc_id % 3 == 0` document,
    * synthesize an actual PNG (`BufferedImage` → PNG bytes, JDK-only)
    * with dimensions/fill derived from the id. Runs per partition on
    * executors — no driver-side image work, no collect. */
  def attachImages(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"))
      .filter(col("doc_id") % 3 === 0)
      .as[Long]
      .mapPartitions(_.map { id =>
        MediaRecord(id, "image",
          synthesizePng(imageWidth(id), imageHeight(id), imageRgb(id)))
      })
  }

  /** A `width × height` solid-`rgb` PNG, encoded in memory. */
  def synthesizePng(width: Int, height: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic synthesis parameters for [[attachAudio]], shared
    * with the m5 oracle: a doc's WAV is `frames(id)` 16-bit PCM frames
    * at `sampleRate(id)` Hz over `channels(id)` channels. Pure
    * functions of the id so DuckDB can recompute the expected decode
    * output without any audio library. */
  def audioSampleRate(docId: Long): Int = 8000 + (docId % 8).toInt * 1000
  def audioChannels(docId: Long): Int = 1 + (docId % 2).toInt
  def audioFrames(docId: Long): Int = 400 + (docId % 600).toInt

  /** Real-WAV fixture attach: for every `doc_id % 3 == 1` document,
    * synthesize an actual RIFF/WAVE payload (`AudioSystem.write`,
    * JDK-only) with rate/channels/frames derived from the id. Runs per
    * partition on executors — no driver-side audio work, no collect. */
  def attachAudio(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"))
      .filter(col("doc_id") % 3 === 1)
      .as[Long]
      .mapPartitions(_.map { id =>
        MediaRecord(id, "audio", synthesizeWav(audioSampleRate(id),
          audioChannels(id), audioFrames(id)))
      })
  }

  /** `frames` frames of 16-bit little-endian PCM at `rate` Hz ×
    * `channels`, written as a WAV container in memory. The sample
    * bytes are a deterministic ramp — the meta decode never reads
    * them, but a byte-identical payload per id keeps every downstream
    * hash stable. */
  def synthesizeWav(rate: Int, channels: Int, frames: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16,
      channels, true, false)
    val data = new Array[Byte](frames * channels * 2)
    var i = 0
    while (i < data.length) { data(i) = ((i * 31) & 0xff).toByte; i += 1 }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio metadata decode, JDK-only: `AudioSystem` parses the
    * container header (WAV/AIFF/AU) for rate/channels/frame count —
    * header-and-accounting work, no full-payload buffering, so a
    * header declaring absurd frame counts costs nothing to reject
    * downstream. Unreadable payloads degrade per row. `duration_ms`
    * is integer arithmetic (`frames * 1000 / rate`) so the oracle
    * recomputes it exactly. */
  def decodeAudio(r: MediaRecord): AudioMeta =
    try {
      val in = new java.io.ByteArrayInputStream(r.media)
      val ff = javax.sound.sampled.AudioSystem.getAudioFileFormat(in)
      val f = ff.getFormat
      val rate = f.getSampleRate.toLong
      val frames = ff.getFrameLength.toLong
      if (rate <= 0 || frames < 0 || f.getChannels <= 0)
        AudioMeta(r.doc_id, r.media.length.toLong, -1, -1, -1, -1, "error")
      else
        AudioMeta(r.doc_id, r.media.length.toLong, rate,
          f.getChannels.toLong, frames, frames * 1000L / rate,
          ff.getType.toString.toLowerCase(java.util.Locale.ROOT))
    } catch {
      case scala.util.control.NonFatal(_) =>
        AudioMeta(r.doc_id, r.media.length.toLong, -1, -1, -1, -1, "error")
    }

  /** Per-partition batched audio decode — the audio analogue of
    * [[decodeMeta]]'s image branch. */
  def decodeAudioMeta(records: Dataset[MediaRecord]): Dataset[AudioMeta] = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.map(decodeAudio))
  }

  /** Real-decode pipeline: synthesized WAV per audio-typed doc →
    * `AudioSystem` header decode → per-doc rate/channels/frames/
    * duration. Every value is recomputable from the synthesis
    * formulas, so a SQL oracle checks the real codec round-trip row
    * by row (m5 — the m3 playbook applied to audio). */
  def audioDecodeTable(docs: DataFrame): DataFrame =
    decodeAudioMeta(attachAudio(docs)).toDF()
      .select(col("doc_id"), col("sample_rate"), col("channels"),
        col("frames"), col("duration_ms"), col("format"))
      .orderBy("doc_id").limit(500)

  /** Real audio FEATURE EXTRACTION — past the header, into the PCM
    * frames: signal energy (sum of squared samples) and peak
    * amplitude over the decoded 16-bit stream. Both are INTEGER
    * features by construction, so they are order-independent,
    * mergeable, and bit-exactly replayable by a SQL oracle from the
    * synthesis ramp — the audio analogue of m7's "the whole
    * decode loop must land the predicted value" check. Unreadable or
    * non-16-bit-PCM payloads degrade to an error row (-1 features),
    * never a task failure. The PCM read is inherently bounded by the
    * payload length (`ByteArrayInputStream` cannot produce more bytes
    * than it holds, whatever frame count the header declares). */
  def audioFeatures(r: MediaRecord): AudioFeatures =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.media))
      try {
        val f = in.getFormat
        if (f.getSampleSizeInBits != 16 || f.isBigEndian ||
          f.getEncoding !=
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
          AudioFeatures(r.doc_id, -1L, -1L, -1L, "error")
        else {
          val bytes = in.readAllBytes()
          var i = 0; var energy = 0L; var peak = 0L; var n = 0L
          while (i + 1 < bytes.length) {
            val s = (((bytes(i + 1) & 0xff) << 8) |
              (bytes(i) & 0xff)).toShort.toLong
            energy += s * s
            if (math.abs(s) > peak) peak = math.abs(s)
            n += 1; i += 2
          }
          AudioFeatures(r.doc_id, n, energy, peak, "wave")
        }
      } finally in.close()
    } catch {
      case scala.util.control.NonFatal(_) =>
        AudioFeatures(r.doc_id, -1L, -1L, -1L, "error")
    }

  /** Samples per fingerprint window: NOT a multiple (or divisor) of
    * any power of two, so a periodic PCM pattern phases differently
    * into successive windows and per-window fingerprints stay varied
    * (a power-of-two window against byte-ramp test fixtures collapses
    * every window to one value, weakening the differential check). */
  private val AudioFpWindow = 100

  /** PCM content fingerprints: the AUDIO near-dup modality, mirroring
    * [[videoFrameFingerprints]] at sample granularity — the decoded
    * 16-bit stream windows into [[AudioFpWindow]]-sample blocks, each
    * block Horner-hashes its UNSIGNED 16-bit sample images (base 131
    * mod 1e9+7, the m10 frame hash), and the per-audio signature is
    * Σ fp(w)·(w+1) mod p over the ordered windows (order-sensitive —
    * a reshuffled sample stream is different audio; per-term mod so
    * partials never overflow even at 10^9-sample payloads). A payload
    * the decoder cannot read (wrong encoding, corrupt container)
    * yields no row — the walker-skip convention of the video path.
    * One pass over the samples per record, executor-side only. */
  def audioFingerprints(records: Dataset[MediaRecord])
      : Dataset[AudioFingerprint] = {
    import records.sparkSession.implicits._
    records.flatMap { r =>
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.media))
        try {
          val f = in.getFormat
          if (f.getSampleSizeInBits != 16 || f.isBigEndian ||
            f.getEncoding !=
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
          else {
            val bytes = in.readAllBytes()
            var w = 0L; var asig = 0L; var fp = 0L
            var j = 0; var i = 0
            while (i + 1 < bytes.length) {
              val u = ((bytes(i + 1) & 0xffL) << 8) |
                (bytes(i) & 0xffL)
              fp = (fp * 131L + u) % FpMod
              j += 1; i += 2
              if (j == AudioFpWindow || i + 1 >= bytes.length) {
                asig = (asig + fp * (w + 1L) % FpMod) % FpMod
                w += 1; fp = 0L; j = 0
              }
            }
            Some(AudioFingerprint(r.doc_id, w, asig))
          }
        } finally in.close()
      } catch {
        case scala.util.control.NonFatal(_) => None
      }
    }
  }

  /** Audio NEAR-DUP detection over [[audioFingerprints]]: keep-min-id
    * per signature in the m7/m10 aggregate+join de-skew shape. Output
    * (doc_id, n_windows, asig, keep_id) — asig itself is
    * oracle-checked, pinning the decode→window→hash→aggregate chain
    * against closed-form arithmetic on the synthesis formulas. */
  def audioFingerprintDedupTable(docs: DataFrame): DataFrame = {
    val sig = audioFingerprints(attachAudio(docs)).toDF()
    val keep = sig.groupBy(col("asig").as("_ka"))
      .agg(min(col("doc_id")).as("keep_id"))
    sig.join(keep, col("asig") === col("_ka"))
      .select(col("doc_id"), col("n_windows"), col("asig"),
        col("keep_id"))
      .orderBy("doc_id").limit(500)
  }

  /** Real PCM feature pipeline: synthesized WAV → full frame decode →
    * integer energy/peak per doc (m8). */
  def audioFeatureTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    attachAudio(docs).mapPartitions(_.map(audioFeatures)).toDF()
      .select(col("doc_id"), col("n_samples"), col("energy_sum"),
        col("peak_abs"))
      .orderBy("doc_id").limit(500)
  }

  /** Deterministic synthesis parameters for [[attachVideos]], shared
    * with the m6 oracle: a doc's AVI declares `videoFrames(id)` MJPEG
    * frames of `videoWidth × videoHeight` at `videoUsPerFrame` µs per
    * frame. Pure functions of the id so DuckDB recomputes the decode
    * output without any video library. Container size is closed-form:
    * 224 header bytes + 24 per frame chunk (asserted in the spec). */
  def videoWidth(docId: Long): Int = 160 + (docId % 8).toInt * 16
  def videoHeight(docId: Long): Int = 120 + (docId % 5).toInt * 24
  def videoFrames(docId: Long): Int = 10 + (docId % 20).toInt
  def videoUsPerFrame(docId: Long): Int = 20000 + (docId % 5).toInt * 5000

  /** Real-AVI fixture attach: for every `doc_id % 3 == 2` document,
    * synthesize an actual RIFF/AVI container (hand-assembled — the
    * RIFF layout is a public spec and needs no codec) with
    * width/height/frames/rate derived from the id. */
  def attachVideos(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"))
      .filter(col("doc_id") % 3 === 2)
      .as[Long]
      .mapPartitions(_.map { id =>
        MediaRecord(id, "video", synthesizeAvi(videoWidth(id),
          videoHeight(id), videoFrames(id), videoUsPerFrame(id)))
      })
  }

  /** Minimal valid RIFF/AVI container: `RIFF('AVI ' LIST('hdrl' avih
    * LIST('strl' strh strf)) LIST('movi' frames × '00dc'))`. Frame
    * payloads are 16 deterministic filler bytes — [[decodeVideo]] is a
    * METADATA parser and never decodes them (no MJPEG codec in the
    * JDK; the honest boundary that remains stubbed is pixel access,
    * not the container). Total size = 224 + 24·frames. */
  def synthesizeAvi(width: Int, height: Int, frames: Int,
                    usPerFrame: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(224 + frames * 24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fcc(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    fcc("RIFF"); bb.putInt(216 + frames * 24); fcc("AVI ")
    fcc("LIST"); bb.putInt(192); fcc("hdrl")
    fcc("avih"); bb.putInt(56)
    bb.putInt(usPerFrame); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(frames); bb.putInt(0); bb.putInt(1); bb.putInt(0)
    bb.putInt(width); bb.putInt(height)
    (0 until 4).foreach(_ => bb.putInt(0))
    fcc("LIST"); bb.putInt(116); fcc("strl")
    fcc("strh"); bb.putInt(56)
    fcc("vids"); fcc("MJPG"); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(1000)                              // dwScale
    bb.putInt((1000000000L / usPerFrame).toInt)  // dwRate (fps·1000)
    bb.putInt(0); bb.putInt(frames); bb.putInt(0); bb.putInt(0)
    bb.putInt(0)
    bb.putShort(0); bb.putShort(0)
    bb.putShort(width.toShort); bb.putShort(height.toShort)
    fcc("strf"); bb.putInt(40)
    bb.putInt(40); bb.putInt(width); bb.putInt(height)
    bb.putInt(1 | (24 << 16)); fcc("MJPG"); bb.putInt(width * height * 3)
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    fcc("LIST"); bb.putInt(4 + frames * 24); fcc("movi")
    var i = 0
    while (i < frames) {
      fcc("00dc"); bb.putInt(16)
      var j = 0
      while (j < 4) { bb.putInt(i * 4 + j); j += 1 }
      i += 1
    }
    bb.array()
  }

  /** REAL video-container metadata decode, JDK-only: a RIFF chunk
    * walker (the container layout is a public spec — parsing it needs
    * no codec) that validates the RIFF/AVI magic, walks to
    * `LIST hdrl → avih`, and reads frame timing + dimensions from the
    * main header. Pure header arithmetic: nothing is allocated from
    * declared sizes, so an absurd header costs nothing to reject —
    * bounds are checked BEFORE every read and malformed/truncated
    * payloads degrade to error rows (the m3/m5 contract). Frame
    * PIXELS stay undecoded (no MJPEG codec ships with the JDK) —
    * that, and only that, remains the stub boundary. */
  def decodeVideo(r: MediaRecord): VideoMeta = {
    val b = r.media
    val err = VideoMeta(r.doc_id, b.length.toLong, -1, -1, -1L, -1L,
      -1L, "error")
    def u32(off: Int): Long =
      if (off < 0 || off + 4 > b.length) -1L
      else (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
    def fcc(off: Int): String =
      if (off < 0 || off + 4 > b.length) ""
      else new String(b, off, 4, "US-ASCII")
    if (fcc(0) != "RIFF" || fcc(8) != "AVI ") return err
    var off = 12
    while (off + 8 <= b.length) {
      val id = fcc(off)
      val size = u32(off + 4)
      if (size < 0 || size > Int.MaxValue - 8 ||
        off + 8 + size > b.length) return err // truncated/absurd
      if (id == "LIST" && fcc(off + 8) == "hdrl") {
        var ioff = off + 12
        val end = off + 8 + size.toInt
        while (ioff + 8 <= end) {
          val cid = fcc(ioff)
          val csize = u32(ioff + 4)
          if (csize < 0 || ioff + 8 + csize > end) return err
          if (cid == "avih" && csize >= 40) {
            val p = ioff + 8
            val us = u32(p); val fr = u32(p + 16)
            val w = u32(p + 32); val h = u32(p + 36)
            if (us <= 0 || fr < 0 || w <= 0 || h <= 0 ||
              w > 100000 || h > 100000) return err
            return VideoMeta(r.doc_id, b.length.toLong, w.toInt, h.toInt,
              fr, us, fr * us / 1000L, "avi")
          }
          ioff += 8 + csize.toInt + (csize.toInt & 1)
        }
        return err // hdrl without avih
      }
      off += 8 + size.toInt + (size.toInt & 1)
    }
    err
  }

  /** Per-partition batched video metadata decode. */
  def decodeVideoMeta(records: Dataset[MediaRecord]): Dataset[VideoMeta] = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.map(decodeVideo))
  }

  /** Real-container pipeline: synthesized AVI per video-typed doc →
    * RIFF header decode → per-doc dims/frames/timing. Every value is
    * recomputable from the synthesis formulas (m6 — the m5 playbook
    * applied to video containers). */
  def videoDecodeTable(docs: DataFrame): DataFrame =
    decodeVideoMeta(attachVideos(docs)).toDF()
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
        col("frames"), col("us_per_frame"), col("duration_ms"),
        col("format"))
      .orderBy("doc_id").limit(500)

  /** FRAME SAMPLING over the RIFF/AVI `movi` list — the training-data
    * step between container metadata (m6) and pixel decode: walk the
    * public chunk layout to index every video-data chunk ('##dc'/
    * '##db'), keep every `every`-th frame, and emit its blob
    * coordinates + payload byte-sum. No codec is touched: the sampled
    * output is exactly what a downstream (GPU) decoder consumes —
    * (blob, offset, length) pointers — so the Spark-side plumbing is
    * fully real and oracle-checkable while pixel decode stays out of
    * the JVM. Unparseable containers yield no rows (the m6 error-row
    * convention does not fit a one-to-many output). Per-partition
    * imperative walk (mapPartitions — the documented codec
    * exception); map-only at any scale. */
  def sampleVideoFrames(records: Dataset[MediaRecord],
                        every: Int): Dataset[FrameSample] = {
    require(every >= 1, "every must be >= 1")
    import records.sparkSession.implicits._
    records.flatMap { r =>
      val out = scala.collection.mutable.ArrayBuffer[FrameSample]()
      foreachMoviChunk(r.media) { (idx, off, len) =>
        if (idx % every == 0) {
          var sum = 0L
          var i = off
          val end = off + len
          while (i < end) { sum += r.media(i) & 0xffL; i += 1 }
          out += FrameSample(r.doc_id, idx, off.toLong, len.toLong, sum)
        }
      }
      out.iterator
    }
  }

  /** The RIFF/AVI `movi` walk shared by [[sampleVideoFrames]] and
    * [[videoFrameFingerprints]]: calls `f(frameIdx, payloadOff,
    * payloadLen)` for every video-data chunk ('##dc'/'##db') in stream
    * order; silently emits nothing for unparseable containers (the
    * one-to-many error convention). Bounds are checked BEFORE every
    * read — nothing is allocated from declared sizes. */
  private def foreachMoviChunk(b: Array[Byte])
                              (f: (Long, Int, Int) => Unit): Unit = {
    def u32(off: Int): Long =
      if (off < 0 || off + 4 > b.length) -1L
      else (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
    def fcc(off: Int): String =
      if (off < 0 || off + 4 > b.length) ""
      else new String(b, off, 4, "US-ASCII")
    if (fcc(0) != "RIFF" || fcc(8) != "AVI ") return
    var off = 12
    var moviStart = -1
    var moviEnd = -1
    while (moviStart < 0 && off + 8 <= b.length) {
      val id = fcc(off)
      val size = u32(off + 4)
      if (size < 0 || size > Int.MaxValue - 8 ||
        off + 8 + size > b.length) { off = b.length }
      else {
        if (id == "LIST" && fcc(off + 8) == "movi") {
          moviStart = off + 12
          moviEnd = off + 8 + size.toInt
        }
        off += 8 + size.toInt + (size.toInt & 1)
      }
    }
    if (moviStart < 0) return
    var coff = moviStart
    var idx = 0L
    var ok = true
    while (ok && coff + 8 <= moviEnd) {
      val cid = fcc(coff)
      val csize = u32(coff + 4)
      if (csize < 0 || coff + 8 + csize > moviEnd) ok = false
      else {
        // video data chunks: '##dc' (compressed) / '##db' (raw)
        if (cid.length == 4 &&
          (cid.endsWith("dc") || cid.endsWith("db"))) {
          f(idx, coff + 8, csize.toInt)
          idx += 1
        }
        coff += 8 + csize.toInt + (csize.toInt & 1)
      }
    }
  }

  /** Per-frame CONTENT FINGERPRINT over the raw frame payload — the
    * video near-dup signal (the one multimodal dedup modality m7/m8
    * didn't cover). The fingerprint is a polynomial (Horner) hash of
    * the payload bytes, base 131 mod 1e9+7 — the rolling-hash document
    * fingerprint applied at frame granularity. A DCT pHash (m7's
    * machinery) applies when frames decode to rasters; with no video
    * codec in the JVM the payload bytes ARE the frame content, and the
    * polynomial form has the property the oracle needs: it replays in
    * closed form from the container synthesis formulas, so the parser
    * + hash land on SQL-predicted values. Swap m7's aHash in at the
    * pixel boundary when a decoder exists — the plumbing (walk,
    * schema, clustering) is unchanged. */
  private val FpMod = 1000000007L
  def videoFrameFingerprints(records: Dataset[MediaRecord])
      : Dataset[FrameFingerprint] = {
    import records.sparkSession.implicits._
    records.flatMap { r =>
      val out = scala.collection.mutable.ArrayBuffer[FrameFingerprint]()
      foreachMoviChunk(r.media) { (idx, off, len) =>
        var acc = 0L
        var i = off
        val end = off + len
        // acc < 1e9+7, so acc*131 + 255 < 1.4e11 — no long overflow
        while (i < end) {
          acc = (acc * 131L + (r.media(i) & 0xffL)) % FpMod
          i += 1
        }
        out += FrameFingerprint(r.doc_id, idx, acc)
      }
      out.iterator
    }
  }

  /** Video NEAR-DUP detection via frame fingerprints: per-video
    * signature = Σ fp(i)·(i+1) mod 1e9+7 over the ordered frames
    * (order-sensitive — a shuffled frame sequence is a different
    * video; order-independent SUM of position-weighted terms, so
    * partial aggregation is safe), then keep-min-id per signature.
    * Clustering is the aggregate+join de-skew shape (m7/d14): a
    * boilerplate-content signature collapses map-side instead of
    * funneling one window task. Output (doc_id, n_frames, vsig,
    * keep_id) — vsig itself is oracle-checked, pinning the whole
    * walk→hash→aggregate chain against closed-form arithmetic. */
  def videoFingerprintDedupTable(docs: DataFrame): DataFrame = {
    val fps = videoFrameFingerprints(attachVideos(docs)).toDF()
    // per-term mod BEFORE the sum (mod is homomorphic over +, so the
    // result is unchanged): keeps every partial < n·1e9 — no long
    // overflow even at millions of frames per video
    val sig = fps.groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        pmod(sum(pmod(col("fp") * (col("frame_idx") + lit(1L)),
            lit(FpMod))),
          lit(FpMod)).cast("long").as("vsig"))
    val keep = sig.groupBy(col("vsig").as("_kv"))
      .agg(min(col("doc_id")).as("keep_id"))
    sig.join(keep, col("vsig") === col("_kv"))
      .select(col("doc_id"), col("n_frames"), col("vsig"),
        col("keep_id"))
      .orderBy("doc_id").limit(500)
  }

  // ImageIO's default read path spills to a temp-file cache per decode;
  // at millions of decodes per executor that is pure IO overhead.
  // Memory-backed streams only, set once per JVM.
  private lazy val imageIoInit: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  private def errorMeta(r: MediaRecord): MediaMeta =
    MediaMeta(r.doc_id, r.media_type, r.media.length.toLong, -1, -1,
      "error", Seq.empty)

  /** A corrupt header can DECLARE absurd dimensions (BMP carries them
    * as arbitrary 32-bit ints); `reader.read` would then allocate a
    * raster of that size and OOM the task — an Error, not an exception,
    * so it must be prevented, not caught. Bound checked BEFORE decode. */
  private val MaxDecodePixels = 64L * 1000 * 1000

  /** Guarded image read shared by decode and resize: None for any
    * unreadable payload — wrong magic, truncated stream, absurd
    * declared dimensions (checked BEFORE the raster allocation). */
  private def readGuarded(bytes: Array[Byte])
      : Option[(java.awt.image.BufferedImage, String)] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val (w0, h0) = (reader.getWidth(0), reader.getHeight(0))
          if (w0 <= 0 || h0 <= 0 || w0.toLong * h0 > MaxDecodePixels) None
          else Some((reader.read(0),
            reader.getFormatName.toLowerCase(java.util.Locale.ROOT)))
        } finally reader.dispose()
      }
    } finally iis.close()
  }

  /** Real image decode: format from the reader that claims the byte
    * stream, dimensions and a mean-pixel feature from the decoded
    * raster. Any unreadable payload — wrong magic, truncated stream,
    * absurd declared dimensions, decoder exception — becomes an error
    * row. */
  private def decodeImage(r: MediaRecord): MediaMeta = {
    imageIoInit
    try {
      readGuarded(r.media) match {
        case None             => errorMeta(r)
        case Some((img, fmt)) => decodeWith(img, fmt, r)
      }
    } catch { case scala.util.control.NonFatal(_) => errorMeta(r) }
  }

  private def decodeWith(img: java.awt.image.BufferedImage, fmt: String,
                         r: MediaRecord): MediaMeta = {
    // mean RGB over the raster — a real pixel statistic (solid
    // fixtures make it also the fill color, which the spec pins)
    var rSum = 0L; var gSum = 0L; var bSum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val px = img.getRGB(x, y)
        rSum += (px >> 16) & 0xff; gSum += (px >> 8) & 0xff
        bSum += px & 0xff
        x += 1
      }
      y += 1
    }
    val n = img.getWidth.toLong * img.getHeight
    MediaMeta(r.doc_id, r.media_type, r.media.length.toLong,
      img.getWidth, img.getHeight, fmt,
      Seq(rSum.toFloat / (255f * n), gSum.toFloat / (255f * n),
        bSum.toFloat / (255f * n)))
  }

  /** REAL image resize: decode with the shared guarded reader, scale
    * into a `maxSide` bounding box with bilinear `Graphics2D` drawing
    * (JDK-only, offline), re-encode PNG. Per-partition on executors.
    * Target dimensions are pure INTEGER arithmetic —
    * `max(1, side·maxSide/longSide)` — so an engine-independent oracle
    * recomputes them exactly, with no float-rounding ambiguity.
    * Images already inside the box pass through byte-identical (no
    * decode/re-encode drift); payloads the decoder rejects pass
    * through unchanged — a resize stage must neither drop rows nor
    * kill tasks, and the downstream decode flags the bad ones.
    * Non-image rows are untouched. */
  def resizeImages(records: Dataset[MediaRecord], maxSide: Int)
      : Dataset[MediaRecord] = {
    require(maxSide >= 1, "maxSide must be >= 1")
    import records.sparkSession.implicits._
    records.mapPartitions(_.map { r =>
      if (r.media_type != "image") r else resizeOne(r, maxSide)
    })
  }

  private def resizeOne(r: MediaRecord, maxSide: Int): MediaRecord = {
    imageIoInit
    try {
      readGuarded(r.media) match {
        case None => r
        case Some((img, _)) =>
          val (w, h) = (img.getWidth, img.getHeight)
          val m = math.max(w, h)
          if (m <= maxSide) r
          else {
            val tw = math.max(1, w * maxSide / m)
            val th = math.max(1, h * maxSide / m)
            val out = new java.awt.image.BufferedImage(tw, th,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            try {
              g.setRenderingHint(
                java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, tw, th, null)
            } finally g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            // write returns false when no PNG writer is registered —
            // then (or on an empty payload) keep the ORIGINAL record,
            // per the pass-through contract above; an empty byte[]
            // would poison every downstream decode of this row
            val wrote = javax.imageio.ImageIO.write(out, "png", bos)
            if (!wrote || bos.size() == 0) r
            else MediaRecord(r.doc_id, r.media_type, bos.toByteArray)
          }
      }
    } catch { case scala.util.control.NonFatal(_) => r }
  }

  /** STUB decoder for audio/video (no codecs in this container): a
    * deterministic fake derived from the payload length, so tests are
    * reproducible AND the summary is DuckDB-oracle-checkable. A
    * production build replaces only this body with an audio frame
    * parser; signature, batching and output schema stay put. */
  private def decodeStub(r: MediaRecord): MediaMeta = {
    val n = r.media.length
    val width = 16 + math.floorMod(n, 1024)
    val height = 16 + math.floorMod(31 * n, 1024)
    val format = r.media_type match {
      case "audio" => if (n % 2 == 0) "wav" else "flac"
      case _       => if (n % 2 == 0) "mp4" else "webm"
    }
    val features = r.media.take(8).map(b => (b & 0xff) / 255.0f).toSeq
    MediaMeta(r.doc_id, r.media_type, n.toLong, width, height, format,
      features)
  }

  /** Per-partition batched decode: real `javax.imageio` for images,
    * the labeled stub for audio/video. One worker per partition
    * processing an iterator (the JVM analogue of `mapInPandas`
    * batches); corrupt payloads degrade per-row, never per-task. */
  def decodeMeta(records: Dataset[MediaRecord]): Dataset[MediaMeta] = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.map { r =>
      r.media_type match {
        case "image" => decodeImage(r)
        case _       => decodeStub(r)
      }
    })
  }

  /** End-to-end pipeline over the documents fixture: attach binary,
    * decode per partition, aggregate per (media_type, format). The
    * `image` payloads here are text bytes — NOT valid images — so the
    * image group surfaces as `error` rows: the corrupt-payload
    * degradation is itself oracle-checked (m2). */
  def metaSummary(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val recs = attachBinary(docs).as[MediaRecord]
    decodeMeta(recs).groupBy("media_type", "format")
      .agg(count(lit(1)).as("n"),
        sum(col("n_bytes")).as("total_bytes"),
        round(avg(col("width")), 6).as("avg_width"))
      .orderBy("media_type", "format")
  }

  /** Real-decode pipeline: synthesized PNG per image-typed doc →
    * `javax.imageio` decode → per-doc dimensions/format. Every value is
    * recomputable from the synthesis formulas, so a SQL oracle checks
    * the real codec round-trip row by row (m3). */
  def imageDecodeTable(docs: DataFrame): DataFrame = {
    decodeMeta(attachImages(docs)).toDF()
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("format"))
      .orderBy("doc_id").limit(500)
  }

  /** Real scale→encode→decode loop: synthesized PNGs resized into a
    * `maxSide` box ([[resizeImages]]), then RE-DECODED — the reported
    * dimensions come from the resized payload's actual pixels, so the
    * oracle's integer-arithmetic expectation checks the whole codec
    * round trip (m4). */
  def imageResizeTable(docs: DataFrame, maxSide: Int): DataFrame = {
    decodeMeta(resizeImages(attachImages(docs), maxSide)).toDF()
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("format"))
      .orderBy("doc_id").limit(500)
  }

  // ---- perceptual hashing: image near-dup detection (m7) ------------

  /** Pattern class for [[attachPatternImages]], shared with the m7
    * oracle: 0 = left-bright/right-dark vertical split, 1 = top-bright
    * horizontal split, 2 = quadrant checker (TL+BR bright). Derived
    * from the id INDEPENDENTLY of the media-type assignment (doc_id%3
    * picks image-typed docs; the pattern uses the next radix). */
  def imagePattern(docId: Long): Int = ((docId / 3) % 3).toInt

  /** Whether a pixel of a `pat`-patterned `w × h` image is bright —
    * two-level 0/255 content with boundaries at the half-lines, so the
    * 8×8 center-sampled average hash is a pure function of the pattern
    * for any dims >= [[MinPHashSide]] (the sampling-robustness bound
    * proven in MultimodalSpec). */
  def patternBright(pat: Int, x: Int, y: Int, w: Int, h: Int): Boolean =
    pat match {
      case 0 => 2 * x < w
      case 1 => 2 * y < h
      case _ => (2 * x < w) == (2 * y < h)
    }

  /** Below this side length an 8×8 center sample can straddle the
    * half-line boundary (floor(0.5625·w) < w/2 for some w <= 8), making
    * the hash dimension-dependent; >= 9 it is pattern-pure. */
  val MinPHashSide = 9

  /** A `width × height` two-level pattern PNG, encoded in memory. */
  def synthesizePatternPng(width: Int, height: Int, pat: Int)
      : Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y,
          if (patternBright(pat, x, y, width, height)) 0xffffff else 0)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Patterned-PNG fixture attach for the perceptual-hash path: every
    * image-typed doc whose synthesis dims are >= [[MinPHashSide]] gets
    * a real two-level pattern PNG (dims from the m3 formulas, pattern
    * from [[imagePattern]]). Executor-side synthesis like
    * [[attachImages]]. */
  def attachPatternImages(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"))
      .filter(col("doc_id") % 3 === 0)
      .as[Long]
      .mapPartitions(_.flatMap { id =>
        val (w, h) = (imageWidth(id), imageHeight(id))
        if (w < MinPHashSide || h < MinPHashSide) Iterator.empty
        else Iterator.single(MediaRecord(id, "image",
          synthesizePatternPng(w, h, imagePattern(id))))
      })
  }

  /** 64-bit average hash (aHash) of a decoded image: gray levels
    * sampled on an 8×8 grid of cell centers (NEAREST pixel — no
    * interpolation, so two-level content yields two-level samples),
    * bit b = 8·row + col set iff its sample exceeds the 64-sample
    * mean. Near-duplicate images — same content at different sizes,
    * re-encodes, small crops — collide; distinct content does not. */
  def averageHash64(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val gray = new Array[Double](64)
    var i = 0
    while (i < 64) {
      val x = ((i % 8) * 2 + 1) * w / 16   // floor((col+0.5)·w/8)
      val y = ((i / 8) * 2 + 1) * h / 16
      val rgb = img.getRGB(math.min(x, w - 1), math.min(y, h - 1))
      gray(i) = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
        (rgb & 0xff)) / 3.0
      i += 1
    }
    val mean = gray.sum / 64.0
    var hash = 0L
    i = 0
    while (i < 64) {
      if (gray(i) > mean) hash |= 1L << i
      i += 1
    }
    hash
  }

  /** Image near-dup clusters by perceptual hash: decode every payload,
    * aHash it, and map each image to its hash-cluster's canonical
    * (lowest-id) survivor — the d14 lineage table for IMAGES, with the
    * hash doing the work token fingerprints do for text. Unreadable
    * payloads are dropped (an error row has no meaningful hash).
    *
    * Shape at scale: decode+hash is one mapPartitions scan; the
    * cluster minimum is an aggregate+join on the 64-bit hash (the d14
    * de-skew move — a hyper-common hash, e.g. a boilerplate logo,
    * collapses map-side and AQE splits the hot join key, where a
    * window over the hash partition would funnel the cluster into one
    * task). The hashed frame feeds BOTH the keep-set aggregate and
    * the join probe, so it is persisted: the decode — the dominant
    * cost — runs exactly once, and the cached rows are just
    * (long, long) pairs (~16 B/row; billions of images cache in a few
    * GB cluster-wide, against re-decoding the raw bytes). The cache
    * is released by the ContextCleaner once the result frame is
    * unreferenced. `decodeCounter`, when supplied, counts decode
    * attempts — the spec asserts it equals the image count, proving
    * the single pass. */
  def imagePHashTable(docs: DataFrame): DataFrame =
    imagePHashTable(docs, None)

  def imagePHashTable(
      docs: DataFrame,
      decodeCounter: Option[org.apache.spark.util.LongAccumulator])
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hashed = attachPatternImages(docs)
      .mapPartitions { it =>
        imageIoInit
        it.flatMap { r =>
          decodeCounter.foreach(_.add(1L))
          try readGuarded(r.media).map { case (img, _) =>
            (r.doc_id, averageHash64(img))
          } catch { case scala.util.control.NonFatal(_) => None }
        }
      }.toDF("doc_id", "phash")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keep = hashed.groupBy(col("phash").as("_kh"))
      .agg(min(col("doc_id")).as("keep_id"))
    hashed.join(keep, col("phash") === col("_kh"))
      .select(col("doc_id"), col("keep_id"))
      .orderBy("doc_id").limit(500)
  }
}

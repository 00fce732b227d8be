package graft

import graft.pipeline.{MediaRecord, Multimodal}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def docs = {
    val s = spark
    import s.implicits._
    Seq((0L, "hello world"), (1L, "audio payload"), (2L, "video bytes"),
      (3L, "another image")).toDF("doc_id", "text")
  }

  test("binary attach: payload bytes and media_type assignment") {
    val rows = Multimodal.attachBinary(docs).orderBy("doc_id").collect()
    assert(rows.map(_.getAs[String]("media_type")).toSeq ===
      Seq("image", "audio", "video", "image"))
    assert(rows.head.getAs[Array[Byte]]("media") ===
      "hello world".getBytes("UTF-8"))
  }

  test("decode is deterministic; audio/video stub rows are metadata-complete") {
    val s = spark
    import s.implicits._
    val recs = Multimodal.attachBinary(docs).as[MediaRecord]
    val a = Multimodal.decodeMeta(recs).orderBy("doc_id").collect()
    val b = Multimodal.decodeMeta(recs).orderBy("doc_id").collect()
    assert(a.toSeq === b.toSeq)
    a.filter(m => m.media_type != "image").foreach { m =>
      assert(m.n_bytes > 0)
      assert(m.width >= 16 && m.height >= 16)
      assert(m.features.nonEmpty)
    }
    // image-typed rows carry TEXT payloads here -> real decoder rejects
    // them as error rows (and keeps the task alive)
    a.filter(_.media_type == "image").foreach { m =>
      assert(m.format === "error")
      assert(m.width === -1 && m.height === -1)
    }
    assert(a.head.n_bytes === "hello world".getBytes("UTF-8").length)
  }

  test("real PNG round-trip: imageio reproduces synthesized dims and color") {
    val metas = Multimodal.decodeMeta(Multimodal.attachImages(docs))
      .orderBy("doc_id").collect()
    assert(metas.map(_.doc_id).toSeq === Seq(0L, 3L)) // doc_id % 3 == 0
    metas.foreach { m =>
      assert(m.format === "png")
      assert(m.width === Multimodal.imageWidth(m.doc_id))
      assert(m.height === Multimodal.imageHeight(m.doc_id))
      // decoded mean pixel == the solid fill color, channel by channel
      val rgb = Multimodal.imageRgb(m.doc_id)
      val expected = Seq((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
        .map(_ / 255.0f)
      assert(m.features.length === 3)
      m.features.zip(expected).foreach { case (got, want) =>
        assert(math.abs(got - want) < 1e-6f)
      }
      // a real PNG payload, not the text stub: magic bytes present
      assert(m.n_bytes > 8)
    }
  }

  test("corrupt payloads degrade to error rows, not task failures") {
    val s = spark
    import s.implicits._
    val goodPng = Multimodal.synthesizePng(5, 4, 0x336699)
    val recs = Seq(
      MediaRecord(1L, "image", goodPng),
      MediaRecord(2L, "image", "not an image at all".getBytes("UTF-8")),
      // valid PNG magic, truncated body: the reader claims it, then
      // throws mid-decode — the per-row guard must catch that too
      MediaRecord(3L, "image", goodPng.take(16)),
      MediaRecord(4L, "image", Array.empty[Byte])).toDS()
    val out = Multimodal.decodeMeta(recs).orderBy("doc_id").collect()
    assert(out.length === 4)
    assert(out(0).format === "png" && out(0).width === 5 &&
      out(0).height === 4)
    out.drop(1).foreach { m =>
      assert(m.format === "error")
      assert(m.width === -1 && m.height === -1)
      assert(m.features.isEmpty)
    }
  }

  test("real WAV round-trip: AudioSystem reproduces synthesized params") {
    val s = spark
    import s.implicits._
    val out = Multimodal.decodeAudioMeta(
        Seq(11L, 22L, 37L).map(id => MediaRecord(id, "audio",
          Multimodal.synthesizeWav(Multimodal.audioSampleRate(id),
            Multimodal.audioChannels(id), Multimodal.audioFrames(id))))
          .toDS())
      .orderBy("doc_id").collect()
    out.foreach { m =>
      assert(m.format === "wave")
      assert(m.sample_rate === Multimodal.audioSampleRate(m.doc_id))
      assert(m.channels === Multimodal.audioChannels(m.doc_id))
      assert(m.frames === Multimodal.audioFrames(m.doc_id))
      assert(m.duration_ms === m.frames * 1000 / m.sample_rate)
      // a real RIFF container: header + 2 bytes/sample payload
      assert(m.n_bytes > m.frames * m.channels * 2)
    }
  }

  test("corrupt audio payloads degrade to error rows, not task failures") {
    val s = spark
    import s.implicits._
    val good = Multimodal.synthesizeWav(8000, 1, 100)
    val recs = Seq(
      MediaRecord(1L, "audio", good),
      MediaRecord(2L, "audio", "not audio".getBytes("UTF-8")),
      // RIFF magic, truncated header: claimed then rejected mid-parse
      MediaRecord(3L, "audio", good.take(10)),
      MediaRecord(4L, "audio", Array.empty[Byte])).toDS()
    val out = Multimodal.decodeAudioMeta(recs).orderBy("doc_id").collect()
    assert(out.length === 4)
    assert(out(0).format === "wave" && out(0).frames === 100)
    out.drop(1).foreach { m =>
      assert(m.format === "error")
      assert(m.sample_rate === -1 && m.frames === -1 &&
        m.duration_ms === -1)
    }
  }

  test("real image resize: scaled dims, preserved color, pass-throughs") {
    val s = spark
    import s.implicits._
    val goodBig = Multimodal.synthesizePng(40, 20, 0x204060)  // outside box
    val goodSmall = Multimodal.synthesizePng(10, 8, 0x010203) // inside box
    val recs = Seq(
      MediaRecord(1L, "image", goodBig),
      MediaRecord(2L, "image", goodSmall),
      MediaRecord(3L, "image", "corrupt payload".getBytes("UTF-8")),
      MediaRecord(4L, "audio", goodBig)).toDS()
    val out = Multimodal.resizeImages(recs, maxSide = 16)
      .orderBy("doc_id").collect()
    // 40x20 -> integer box arithmetic: (16, 20*16/40 = 8)
    val m1 = Multimodal.decodeMeta(Seq(out(0)).toDS()).head()
    assert(m1.width === 16 && m1.height === 8 && m1.format === "png")
    // bilinear scale of a solid image stays the solid fill color
    assert(math.abs(m1.features(0) - 0x20 / 255.0f) < 1e-6f)
    assert(math.abs(m1.features(1) - 0x40 / 255.0f) < 1e-6f)
    assert(math.abs(m1.features(2) - 0x60 / 255.0f) < 1e-6f)
    // inside the box: byte-identical pass-through, no re-encode drift
    assert(out(1).media === goodSmall)
    // corrupt image and non-image rows pass through untouched
    assert(out(2).media === "corrupt payload".getBytes("UTF-8"))
    assert(out(3).media === goodBig && out(3).media_type === "audio")
  }

  test("AVI container roundtrip: synthesis formulas survive the " +
    "RIFF walker") {
    val s = spark
    import s.implicits._
    val recs = Seq(5L, 14L, 23L).map(id => MediaRecord(id, "video",
      Multimodal.synthesizeAvi(Multimodal.videoWidth(id),
        Multimodal.videoHeight(id), Multimodal.videoFrames(id),
        Multimodal.videoUsPerFrame(id))))
    recs.foreach { r =>
      // closed-form container size the m6 oracle relies on
      assert(r.media.length ===
        224 + 24 * Multimodal.videoFrames(r.doc_id))
    }
    val out = Multimodal.decodeVideoMeta(recs.toDS())
      .collect().sortBy(_.doc_id)
    out.foreach { m =>
      assert(m.format === "avi")
      assert(m.width === Multimodal.videoWidth(m.doc_id))
      assert(m.height === Multimodal.videoHeight(m.doc_id))
      assert(m.frames === Multimodal.videoFrames(m.doc_id))
      assert(m.us_per_frame === Multimodal.videoUsPerFrame(m.doc_id))
      assert(m.duration_ms === m.frames * m.us_per_frame / 1000)
    }
  }

  test("corrupt video payloads degrade to error rows, not failures") {
    val s = spark
    import s.implicits._
    val good = Multimodal.synthesizeAvi(160, 120, 5, 40000)
    val recs = Seq(
      MediaRecord(1L, "video", "not a riff file at all".getBytes("UTF-8")),
      MediaRecord(2L, "video", good.take(30)),          // truncated header
      MediaRecord(3L, "video", {                        // absurd declared dims
        val b = good.clone()
        // avih payload starts at offset 32; width at +32 within it
        val bb = java.nio.ByteBuffer.wrap(b)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.putInt(32 + 32, Int.MaxValue)
        b
      }),
      MediaRecord(4L, "video", good))
    val out = Multimodal.decodeVideoMeta(recs.toDS())
      .collect().sortBy(_.doc_id)
    assert(out.take(3).forall(m => m.format === "error" &&
      m.width === -1 && m.frames === -1L))
    assert(out(3).format === "avi" && out(3).width === 160 &&
      out(3).frames === 5L)
  }

  test("meta summary aggregates per media_type/format without collect") {
    val out = Multimodal.metaSummary(spark, docs).collect()
    assert(out.map(_.getAs[String]("media_type")).toSet ===
      Set("image", "audio", "video"))
    assert(out.map(_.getAs[Long]("n")).sum === 4)
  }

  test("audio features: exact PCM energy/peak replay; corrupt payload degrades") {
    // replay the synthesis ramp in plain Scala: sample k is the signed
    // 16-bit LE of bytes ((62k)&255, (62k+31)&255)
    def expected(id: Long): (Long, Long, Long) = {
      val n = (400 + id % 600) * (1 + id % 2)
      var energy = 0L; var peak = 0L
      (0L until n).foreach { k =>
        val v = ((((62 * k + 31) % 256) << 8) | ((62 * k) % 256))
          .toShort.toLong
        energy += v * v
        if (math.abs(v) > peak) peak = math.abs(v)
      }
      (n, energy, peak)
    }
    for (id <- Seq(1L, 4L, 7L, 601L)) {
      val rec = MediaRecord(id, "audio", Multimodal.synthesizeWav(
        Multimodal.audioSampleRate(id), Multimodal.audioChannels(id),
        Multimodal.audioFrames(id)))
      val got = Multimodal.audioFeatures(rec)
      val (n, e, p) = expected(id)
      assert((got.n_samples, got.energy_sum, got.peak_abs) === ((n, e, p)),
        s"id $id")
      assert(got.format === "wave")
    }
    val bad = Multimodal.audioFeatures(
      MediaRecord(9L, "audio", Array[Byte](1, 2, 3)))
    assert(bad.format === "error" && bad.energy_sum === -1L)
  }

  private def decodedPatternHash(w: Int, h: Int, pat: Int): Long = {
    val png = Multimodal.synthesizePatternPng(w, h, pat)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    Multimodal.averageHash64(img)
  }

  test("average hash: exact bits per pattern, dimension-invariant, distinct") {
    // expected bitsets from the sampling math: pattern 0 (left bright)
    // sets columns 0-3 of every row, pattern 1 (top bright) rows 0-3,
    // pattern 2 (quadrant checker) TL+BR quadrants
    val expect0 = (0 until 64).filter(i => i % 8 < 4)
      .map(1L << _).foldLeft(0L)(_ | _)
    val expect1 = (0 until 64).filter(i => i / 8 < 4)
      .map(1L << _).foldLeft(0L)(_ | _)
    val expect2 = (0 until 64).filter(i => (i % 8 < 4) == (i / 8 < 4))
      .map(1L << _).foldLeft(0L)(_ | _)
    // every dimension >= MinPHashSide yields the SAME hash per pattern
    // (near-dup collision across sizes is the whole point) — including
    // the boundary-tightest odd sizes
    for ((w, h) <- Seq((9, 9), (9, 35), (13, 10), (16, 16), (35, 9))) {
      assert(decodedPatternHash(w, h, 0) === expect0, s"pat0 at ${w}x$h")
      assert(decodedPatternHash(w, h, 1) === expect1, s"pat1 at ${w}x$h")
      assert(decodedPatternHash(w, h, 2) === expect2, s"pat2 at ${w}x$h")
    }
    assert(Set(expect0, expect1, expect2).size === 3)
  }

  test("imagePHashTable clusters by pattern with min-id canonicals") {
    val s = spark
    import s.implicits._
    // image-typed ids (doc_id % 3 == 0) with dims >= 9 on both axes:
    // doc_id % 32 >= 5 and (doc_id/32) % 32 >= 5. 165..168? pick ids
    // meeting all three congruences; pattern = (id/3) % 3.
    val ids = (0L until 2000L).filter(id => id % 3 == 0 &&
      id % 32 >= 5 && (id / 32) % 32 >= 5).take(12)
    val docs12 = ids.toDF("doc_id")
    val got = Multimodal.imagePHashTable(docs12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === ids.toSet)
    val byPat = ids.groupBy(id => (id / 3) % 3)
    byPat.foreach { case (_, members) =>
      val keep = members.min
      members.foreach(id => assert(got(id) === keep,
        s"doc $id should map to $keep, got ${got(id)}"))
    }
  }

  test("imagePHashTable decodes each image exactly once " +
    "(persisted hash lineage)") {
    val s = spark
    import s.implicits._
    val ids = (0L until 2000L).filter(id => id % 3 == 0 &&
      id % 32 >= 5 && (id / 32) % 32 >= 5).take(12)
    val docs12 = ids.toDF("doc_id")
    val decodes = s.sparkContext.longAccumulator("phash-decodes")
    val out = Multimodal.imagePHashTable(docs12, Some(decodes))
    // the hashed frame feeds both the keep-set aggregate and the join
    // probe; without the persist the decode mapPartitions would run
    // twice and this counter would read 2× the image count
    assert(out.count() === ids.size.toLong)
    assert(decodes.value === ids.size.toLong,
      s"expected one decode per image, got ${decodes.value} " +
        s"for ${ids.size} images")
  }

  test("sampleVideoFrames: exact offsets/sums, stride, corrupt blob") {
    val s = spark
    import s.implicits._
    val rec = MediaRecord(2L, "video",
      Multimodal.synthesizeAvi(width = 160, height = 120, frames = 10,
        usPerFrame = 20000))
    val ds = Seq(rec).toDS()
    // every=1: all 10 frames, closed-form layout coordinates
    val all = Multimodal.sampleVideoFrames(ds, every = 1)
      .orderBy("frame_idx").collect()
    assert(all.length === 10)
    all.zipWithIndex.foreach { case (f, i) =>
      assert(f.frame_idx === i.toLong)
      assert(f.byte_off === 224L + 24L * i + 8L, s"frame $i offset")
      assert(f.n_bytes === 16L)
      assert(f.payload_sum === 16L * i + 6L, s"frame $i sum")
    }
    // every=4: frames 0, 4, 8
    val sampled = Multimodal.sampleVideoFrames(ds, every = 4)
      .collect().map(_.frame_idx).sorted
    assert(sampled.toSeq === Seq(0L, 4L, 8L))
    // payload-sum is parsed from the real bytes, not the formula: a
    // corrupted payload byte must shift the sum by the delta
    val bent = rec.media.clone()
    bent(224 + 8) = (bent(224 + 8) + 5).toByte
    val bentSum = Multimodal.sampleVideoFrames(
        Seq(MediaRecord(2L, "video", bent)).toDS(), 1)
      .filter(col("frame_idx") === 0).head().payload_sum
    assert(bentSum === 6L + 5L)
    // non-AVI payload yields no rows
    val junk = Multimodal.sampleVideoFrames(
      Seq(MediaRecord(3L, "video",
        Array.fill[Byte](64)(7))).toDS(), 1)
    assert(junk.count() === 0L)
  }

  test("video frame fingerprints: Horner replay, content sensitivity, dedup clusters") {
    val s = spark
    import s.implicits._
    val M = 1000000007L
    def hornerOf(bytes: Seq[Int]): Long =
      bytes.foldLeft(0L)((acc, b) => (acc * 131L + b) % M)
    val rec = MediaRecord(2L, "video",
      Multimodal.synthesizeAvi(width = 160, height = 120, frames = 4,
        usPerFrame = 20000))
    val got = Multimodal.videoFrameFingerprints(Seq(rec).toDS())
      .orderBy("frame_idx").collect()
    assert(got.length === 4)
    got.zipWithIndex.foreach { case (f, i) =>
      // frame i payload: 4 little-endian ints 4i..4i+3 (values < 256)
      val bytes = (0 until 4).flatMap(j => Seq(4 * i + j, 0, 0, 0))
      assert(f.fp === hornerOf(bytes), s"frame $i")
    }
    // fingerprint reads real bytes: bending one payload byte moves it
    val bent = rec.media.clone()
    bent(224 + 8) = (bent(224 + 8) + 1).toByte
    val bentFp = Multimodal.videoFrameFingerprints(
        Seq(MediaRecord(2L, "video", bent)).toDS())
      .filter(col("frame_idx") === 0).head().fp
    assert(bentFp !== got.head.fp)
    // dedup table: frame content is a pure function of the frame
    // index, so videos cluster exactly by frame count (doc_id % 20)
    val docs = (0L until 90L).toDF("doc_id")
    val t = Multimodal.videoFingerprintDedupTable(docs).collect()
    val videoIds = (0L until 90L).filter(_ % 3 == 2)
    assert(t.map(_.getLong(0)).toSeq === videoIds)
    t.foreach { r =>
      val id = r.getLong(0)
      val expectKeep = videoIds.filter(v => v % 20 == id % 20).min
      assert(r.getLong(1) === 10L + id % 20, s"doc $id n_frames")
      assert(r.getLong(3) === expectKeep, s"doc $id keep")
    }
    // distinct frame counts ⇒ distinct signatures
    val sigByN = t.groupBy(_.getLong(1)).view.mapValues(
      _.map(_.getLong(2)).toSet).toMap
    assert(sigByN.values.forall(_.size == 1))
    assert(sigByN.values.flatten.toSet.size === sigByN.size)
  }

  test("audio fingerprints: windowed Horner replay and dedup clusters") {
    val s = spark
    import s.implicits._
    val M = 1000000007L
    // golden replay: 250 samples -> windows of 100/100/50; PCM bytes
    // are the synthesis ramp data(i) = (i*31)&0xff, samples unsigned LE
    val rec = MediaRecord(7L, "audio",
      Multimodal.synthesizeWav(rate = 8000, channels = 1, frames = 250))
    def u(j: Int): Long =
      (((2 * j + 1) * 31 & 0xff).toLong << 8) | ((2 * j) * 31 & 0xff)
    def fpOf(js: Seq[Int]): Long =
      js.foldLeft(0L)((acc, j) => (acc * 131L + u(j)) % M)
    val windows = (0 until 250).grouped(100).toSeq
    val expAsig = windows.zipWithIndex.foldLeft(0L) {
      case (acc, (js, w)) => (acc + fpOf(js) * (w + 1L) % M) % M
    }
    val got = Multimodal.audioFingerprints(Seq(rec).toDS()).head()
    assert(got.n_windows === 3L)
    assert(got.asig === expAsig)
    // non-PCM / unreadable payloads yield no row, not an error row
    val bad = MediaRecord(8L, "audio", Array[Byte](1, 2, 3))
    assert(Multimodal.audioFingerprints(Seq(bad).toDS()).count() === 0L)
    // dedup table: PCM content is a pure function of byte length =
    // frames·channels·2, and (frames, channels) are both functions of
    // doc_id % 600 — so audios cluster exactly by doc_id % 600
    val docs = (0L until 1300L).toDF("doc_id")
    val t = Multimodal.audioFingerprintDedupTable(docs).collect()
    val audioIds = (0L until 1300L).filter(_ % 3 == 1)
    assert(t.map(_.getLong(0)).toSeq === audioIds.take(500))
    t.foreach { r =>
      val id = r.getLong(0)
      val expectKeep = audioIds.filter(a => a % 600 == id % 600).min
      assert(r.getLong(3) === expectKeep, s"doc $id keep")
      val n = (1 + id % 2) * (400 + id % 600)
      assert(r.getLong(1) === (n + 99) / 100, s"doc $id n_windows")
    }
  }
}

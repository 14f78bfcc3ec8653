package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val media = Seq(
    (1L, "fake-image-bytes-aaaa".getBytes("UTF-8"), "image"),
    (2L, "fake-video-bytes-with-more-content-bbbb".getBytes("UTF-8"), "video"),
    (3L, Array.emptyByteArray, "image"))
    .toDF("media_id", "payload", "media_type")

  test("decodeImageMeta: a Python-stdlib-encoded PNG decodes to exact pixels") {
    // fixture written by scripts/gen_png_fixture.py with struct+zlib only —
    // no shared code with the JVM reader, so this is a true
    // cross-implementation pin of the REAL decode path
    val in = getClass.getResourceAsStream("/fixture_rgb.png")
    val bytes = in.readAllBytes(); in.close()
    val df = Seq((7L, bytes, "image/png")).toDF("media_id", "payload", "media_type")
    val m = Multimodal.decodeImageMeta(df).collect().head
    assert(m.decoded && m.width === 5 && m.height === 3)
    // red channel is (x*50)%256: sum over 5x3 = 3 * (0+50+100+150+200)
    assert(m.pixel_sum === 3L * (0 + 50 + 100 + 150 + 200))
    // full-pixel check through ImageIO directly (all three channels)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    for (y <- 0 until 3; x <- 0 until 5) {
      val rgb = img.getRGB(x, y)
      assert(((rgb >> 16) & 0xff) === (x * 50)  % 256, s"r($x,$y)")
      assert(((rgb >> 8) & 0xff)  === (y * 80)  % 256, s"g($x,$y)")
      assert((rgb & 0xff)         === (x * 20 + y * 40) % 256, s"b($x,$y)")
    }
  }

  test("synthesizeImages -> decodeImageMeta round-trips dims and pixel sums") {
    val ids = Seq(0L, 1L, 12L, 25L, 254L).toDF("doc_id")
    val metas = Multimodal.decodeImageMeta(Multimodal.synthesizeImages(ids))
      .collect().map(m => m.media_id -> m).toMap
    for (id <- Seq(0L, 1L, 12L, 25L, 254L)) {
      val (w, h) = (4 + (id % 13).toInt, 3 + (id % 7).toInt)
      val expected = (for (y <- 0 until h; x <- 0 until w)
        yield (id * 31 + x * 7 + y * 13) % 256).sum
      val m = metas(id)
      assert(m.decoded && m.width === w && m.height === h, s"dims(id=$id)")
      assert(m.pixel_sum === expected, s"pixel_sum(id=$id)")
    }
  }

  test("resizeImage: real scaled re-encode round-trips through the decoder") {
    val media = Multimodal.synthesizeImages(Seq(40L).toDF("doc_id"))
    val out = Multimodal.resizeImage(media, targetW = 4, targetH = 3).collect().head
    assert(out.width === 4 && out.height === 3)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out.payload))
    assert(back.getWidth === 4 && back.getHeight === 3)
  }

  test("synthesizePhashImages -> imageDHash recovers the md5 formula bit-for-bit") {
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 17L, 255L, 1023L)
    val rows = Multimodal.imageDHash(
      Multimodal.synthesizePhashImages(ids.toDF("doc_id")))
      .collect().map(r => r.media_id -> r).toMap
    // independent recompute of the ground truth (digest called directly,
    // no synthesis/decode code shared)
    val md = java.security.MessageDigest.getInstance("MD5")
    def pix(id: Long, x: Int, y: Int): Int = {
      val base = md.digest(s"${id / 4}_${x}_${y}".getBytes("UTF-8"))(0) & 0xff
      val v = (id % 4).toInt
      if (v > 0 && x == v && y == v) (base + v * 3) % 256 else base
    }
    for (id <- ids) {
      var hi = 0L; var lo = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (pix(id, x + 1, y) > pix(id, x, y)) {
          if (y < 4) lo |= 1L << (y * 8 + x) else hi |= 1L << ((y - 4) * 8 + x)
        }
      val r = rows(id)
      assert(r.decoded, s"decoded(id=$id)")
      assert(r.hash_hi === hi && r.hash_lo === lo, s"hash(id=$id)")
      assert(r.hash_hi >= 0L && r.hash_lo >= 0L, s"sign-safe words(id=$id)")
    }
    // family structure: variants of one family stay within a few bits of
    // the base; the single-pixel perturbation can flip at most 2 bits
    val base = rows(0L); val variant = rows(1L)
    val d = java.lang.Long.bitCount(base.hash_hi ^ variant.hash_hi) +
      java.lang.Long.bitCount(base.hash_lo ^ variant.hash_lo)
    assert(d <= 2, s"variant drift $d > 2 bits")
  }

  test("imageDHash: arbitrary sizes take the resize path, deterministically") {
    // non-grid-size real PNGs (synthesizeImages emits 4..16 x 3..9) go
    // through the bilinear downsample; deterministic across calls
    val ids = Seq(5L, 6L, 40L).toDF("doc_id")
    val a = Multimodal.imageDHash(Multimodal.synthesizeImages(ids))
      .collect().map(r => r.media_id -> r).toMap
    val b = Multimodal.imageDHash(Multimodal.synthesizeImages(ids))
      .collect().map(r => r.media_id -> r).toMap
    assert(a.values.forall(_.decoded))
    for (id <- Seq(5L, 6L, 40L))
      assert(a(id).hash_hi === b(id).hash_hi && a(id).hash_lo === b(id).hash_lo)
  }

  test("synthesizeWavs -> decodeAudioMeta round-trips rate, frames and sample sum") {
    val ids = Seq(0L, 1L, 2L, 100L, 253L)
    val metas = Multimodal.decodeAudioMeta(
        Multimodal.synthesizeWavs(ids.toDF("doc_id")))
      .collect().map(m => m.media_id -> m).toMap
    for (id <- ids) {
      val rate = 8000 + (id % 3).toInt * 4000
      val n = 40 + (id % 101).toInt
      val expected = (0 until n).map(i => (id * 31 + i * 17) % 2048 - 1024).sum
      val m = metas(id)
      assert(m.decoded, s"decoded(id=$id)")
      assert(m.sample_rate === rate && m.n_samples === n, s"fmt(id=$id)")
      assert(m.sample_sum === expected, s"sample_sum(id=$id)")
      assert(m.duration_us === n.toLong * 1000000L / rate, s"duration(id=$id)")
    }
  }

  test("decodeAudioMeta parses a hand-built RIFF header (no shared encode code)") {
    // 4 samples at 8000 Hz, values 100, -100, 32767, -32768 — the WAV is
    // byte-assembled here, so decode is pinned against the spec, not
    // against AudioSystem.write
    val samples = Seq[Short](100, -100, 32767, -32768)
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)          // PCM
      .putShort(1)          // mono
      .putInt(8000)         // sample rate
      .putInt(8000 * 2)     // byte rate
      .putShort(2)          // block align
      .putShort(16)         // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    val df = Seq((5L, bb.array(), "audio/wav"))
      .toDF("media_id", "payload", "media_type")
    val m = Multimodal.decodeAudioMeta(df).collect().head
    assert(m.decoded && m.sample_rate === 8000 && m.n_samples === 4)
    assert(m.sample_sum === samples.map(_.toLong).sum)
  }

  test("imageFeatures: decoded histogram matches the md5 pixel formula; corrupt zeroed") {
    val ids = Seq(0L, 3L, 42L)
    val rows = Multimodal.imageFeatures(
      Multimodal.synthesizePhashImages(ids.toDF("doc_id")), bins = 16)
      .collect().map(r => r.media_id -> r).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    for (id <- ids) {
      val expected = new Array[Long](16)
      for (y <- 0 until 8; x <- 0 until 9) {
        val base = md.digest(s"${id / 4}_${x}_${y}".getBytes("UTF-8"))(0) & 0xff
        val v = (id % 4).toInt
        val p = if (v > 0 && x == v && y == v) (base + v * 3) % 256 else base
        expected(p / 16) += 1L
      }
      val r = rows(id)
      assert(r.decoded && r.histogram.toSeq === expected.toSeq, s"hist(id=$id)")
      assert(r.histogram.sum === 72L, s"mass(id=$id)")
    }
    val bad = Multimodal.imageFeatures(media).collect()
    assert(bad.forall(r => !r.decoded && r.histogram.forall(_ == 0L)))
    intercept[IllegalArgumentException] {
      Multimodal.imageFeatures(media, bins = 17)
    }
  }

  test("audioSpectrum: Goertzel recovers each synthesized tone from the bytes") {
    val ids = Seq(0L, 1L, 2L, 3L, 8L, 13L, 102L).toDF("doc_id")
    val rows = Multimodal.audioSpectrum(Multimodal.synthesizeToneWavs(ids))
      .collect().map(r => r.media_id -> r).toMap
    for (id <- Seq(0L, 1L, 2L, 3L, 8L, 13L, 102L)) {
      val r = rows(id)
      assert(r.decoded && r.sample_rate === 8000L && r.n_samples === 400L)
      assert(r.dominant_hz === Multimodal.toneCandidatesHz((id % 4).toInt),
        s"dominant(id=$id)")
      assert(r.peak_ok, s"concentration(id=$id)")
    }
  }

  test("audioSpectrum: equal-energy three-tone mix fails the concentration gate") {
    // hand-built RIFF with three equal-amplitude bin-aligned tones: the
    // argmax still picks one, but no bin holds >= 50% of the
    // candidate-set energy (~33% each) — peak_ok must be false, proving
    // the gate measures concentration rather than rubber-stamping the
    // argmax. (Two equal tones sit exactly AT the 0.5 boundary, where
    // rounding jitter decides — three keeps the test far from it.)
    val rate = 8000; val n = 400
    val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(n * 2)
    for (i <- 0 until n) {
      val s = 3000 * math.sin(2 * math.Pi * 500 * i / rate) +
        3000 * math.sin(2 * math.Pi * 1000 * i / rate) +
        3000 * math.sin(2 * math.Pi * 2000 * i / rate)
      bb.putShort(math.round(s).toShort)
    }
    val df = Seq((5L, bb.array(), "audio/wav"))
      .toDF("media_id", "payload", "media_type")
    val r = Multimodal.audioSpectrum(df).collect().head
    assert(r.decoded && !r.peak_ok)
    assert(Seq(500L, 1000L, 2000L).contains(r.dominant_hz))
  }

  test("synthesizeGifs -> decodeVideoMeta/sampleVideoFrames round-trip the container") {
    val ids = Seq(0L, 1L, 7L, 44L, 253L)
    val media = Multimodal.synthesizeGifs(ids.toDF("doc_id"))
    val metas = Multimodal.decodeVideoMeta(media)
      .collect().map(m => m.media_id -> m).toMap
    val frames = Multimodal.sampleVideoFrames(media, every = 1)
      .collect().groupBy(_.media_id)
    for (id <- ids) {
      val (w, h, nf) = (4 + (id % 9).toInt, 3 + (id % 5).toInt, 2 + (id % 5).toInt)
      val m = metas(id)
      assert(m.decoded && m.n_frames === nf && m.width === w && m.height === h,
        s"meta(id=$id)")
      val fs = frames(id).sortBy(_.frame_no)
      assert(fs.map(_.frame_no).toSeq === (0 until nf), s"frames(id=$id)")
      for (fr <- fs) {
        val expected = (for (y <- 0 until h; x <- 0 until w)
          yield (id * 31 + x * 7 + y * 13 + fr.frame_no * 101) % 256).sum
        assert(fr.pixel_sum === expected, s"pixel_sum(id=$id, f=${fr.frame_no})")
      }
    }
    // every=2 samples exactly the even frames
    val sampled = Multimodal.sampleVideoFrames(media, every = 2)
      .collect().groupBy(_.media_id)
    for (id <- ids) {
      val nf = 2 + (id % 5).toInt
      assert(sampled(id).map(_.frame_no).sorted.toSeq === (0 until nf by 2),
        s"sampled(id=$id)")
    }
  }

  test("extractFrameImages bridges video -> image: PNG frames decode to exact pixels") {
    val media = Multimodal.synthesizeGifs(Seq(6L, 13L).toDF("doc_id"))
    val frames = Multimodal.extractFrameImages(media, every = 1).toDF()
      // re-key so each frame is its own image row for the image pipeline
      .select((col("media_id") * 1000 + col("frame_no")).as("media_id"),
        col("payload"), col("media_type"))
    val metas = Multimodal.decodeImageMeta(frames)
      .collect().map(m => m.media_id -> m).toMap
    for (id <- Seq(6L, 13L)) {
      val (w, h, nf) = (4 + (id % 9).toInt, 3 + (id % 5).toInt, 2 + (id % 5).toInt)
      for (f <- 0 until nf) {
        val m = metas(id * 1000 + f)
        val expected = (for (y <- 0 until h; x <- 0 until w)
          yield (id * 31 + x * 7 + y * 13 + f * 101) % 256).sum
        assert(m.decoded && m.width === w && m.height === h, s"dims($id,$f)")
        assert(m.pixel_sum === expected, s"pixel_sum($id,$f)")
      }
    }
    // and the frames feed the feature extractor -> embedding shape
    val vecs = Multimodal.featureStub(frames, dim = 8).collect()
    assert(vecs.nonEmpty && vecs.forall(_.embedding.length === 8))
  }

  test("featureStub composes with the similarity operators end-to-end") {
    // duplicate payloads -> identical unit vectors -> cosine 1.0 pair;
    // the multimodal -> embedding -> near-dup pipeline is a composition
    val withDup = media.union(
      Seq((4L, "fake-image-bytes-aaaa".getBytes("UTF-8"), "image"))
        .toDF("media_id", "payload", "media_type"))
    val vecs = Multimodal.featureStub(withDup, dim = 16).toDF()
    assert(vecs.count() === 4)
    // deterministic across runs
    val again = Multimodal.featureStub(withDup, dim = 16).toDF()
    assert(vecs.exceptAll(again).count() === 0)
    val pairs = Similarity.cosinePairs(vecs, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 4L))) // exactly the payload duplicates
  }

  test("imageQuality: flat frames fail the gate, noise frames pass, " +
      "stats match hand arithmetic, corrupt payloads decode=false") {
    val noise = Multimodal.synthesizePhashImages(Seq(1L, 2L).toDF("doc_id"))
    val flat = Multimodal.synthesizeFlatImages(Seq(10L).toDF("doc_id"))
    val rows = Multimodal.imageQuality(
        noise.unionByName(flat).unionByName(media.filter(col("media_id") === 3)))
      .collect().map(r => r.media_id -> r).toMap

    val f = rows(10L)
    assert(f.decoded && f.n_px === 72L && f.mean_px === 128.0)
    assert(f.contrast === 0.0 && f.entropy === 0.0 && !f.quality_ok)
    // +0.0 guard: the single-bin entropy must be +0.0, not -0.0
    assert(java.lang.Double.doubleToLongBits(f.entropy) ===
      java.lang.Double.doubleToLongBits(0.0))

    for (id <- Seq(1L, 2L)) {
      val r = rows(id)
      assert(r.decoded && r.quality_ok, s"noise frame $id failed the gate")
      // hand-replay from the md5 pixel formula
      val md = java.security.MessageDigest.getInstance("MD5")
      val px = for (y <- 0 until 8; x <- 0 until 9) yield {
        val base = md.digest(s"${id / 4}_${x}_${y}".getBytes("UTF-8"))(0) & 0xff
        val v = (id % 4).toInt
        if (v > 0 && x == v && y == v) (base + v * 3) % 256 else base
      }
      val mean = px.sum.toDouble / 72
      val c = math.sqrt(px.map(p => p.toDouble * p).sum / 72 - mean * mean)
      def r4(d: Double) =
        BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.mean_px === r4(mean) && r.contrast === r4(c), s"stats(id=$id)")
    }

    val bad = rows(3L) // empty payload from the shared fixture
    assert(!bad.decoded && !bad.quality_ok && bad.n_px === 0L)

    // flat frames at both extremes of the range fail identically — the
    // gate keys on spread, not level
    val ext = Multimodal.synthesizeFlatImages(Seq(20L).toDF("doc_id"), gray = 0)
      .unionByName(Multimodal.synthesizeFlatImages(Seq(21L).toDF("doc_id"), gray = 255))
    val extRows = Multimodal.imageQuality(ext).collect()
    assert(extRows.forall(r => !r.quality_ok && r.entropy === 0.0 && r.contrast === 0.0))
  }

  test("synthesizeDupGifs: family members share aligned near-dup frames; " +
      "cross-family frames are independent") {
    // ids 0-3 = one family (base + 3 variants), 4 = another family
    val media = Multimodal.synthesizeDupGifs((0L to 4L).toDF("doc_id"))
    val frames = Multimodal.extractFrameImages(media, every = 1).toDF()
    val sigs = Multimodal.imageDHash(
        frames.select((col("media_id") * 1000 + col("frame_no")).as("media_id"),
          col("payload"), col("media_type"))).toDF()
      .filter(col("decoded"))
      .collect().map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("hash_hi"), r.getAs[Long]("hash_lo"))).toMap
    def ham(a: (Long, Long), b: (Long, Long)) =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    // family 0 (ids 0-3): nf = 2; every aligned frame of base-vs-variant
    // is within 3 bits (one perturbed pixel flips <= 2 comparison bits)
    for (v <- 1L to 3L; f <- 0 until 2)
      assert(ham(sigs(0L * 1000 + f), sigs(v * 1000 + f)) <= 3,
        s"variant $v frame $f drifted from base")
    // non-perturbed frames are IDENTICAL
    for (v <- 1L to 3L)
      assert(ham(sigs(0L * 1000 + 1), sigs(v * 1000 + 1)) === 0)
    // cross-family aligned frames are independent 64-bit hashes
    assert(ham(sigs(0L), sigs(4000L)) > 3, "cross-family frames collided")
    // misaligned frames of the SAME family are independent too — the
    // aligned-comparison rule is load-bearing
    assert(ham(sigs(0L), sigs(1L * 1000 + 1)) > 3,
      "misaligned family frames collided")
  }

  test("videoQuality: static clips fail the motion floor, moving clips " +
      "pass with hand-replayed motion") {
    // id 5 is static (id % 5 = 0), ids 1 and 3 are moving
    val rows = Multimodal.videoQuality(
        Multimodal.synthesizeQualityGifs(Seq(1L, 3L, 5L).toDF("doc_id")))
      .collect().map(r => r.media_id -> r).toMap

    val static = rows(5L)
    assert(static.decoded && static.n_frames === 2L)
    assert(static.motion === 0.0 && !static.quality_ok)

    for (id <- Seq(1L, 3L)) {
      val r = rows(id)
      val (w, h, nf) = (4 + (id % 9).toInt, 3 + (id % 5).toInt, 2 + (id % 5).toInt)
      assert(r.decoded && r.n_frames === nf.toLong, s"frames(id=$id)")
      var diff = 0L
      for (f <- 1 until nf; y <- 0 until h; x <- 0 until w)
        diff += math.abs(
          (id * 31 + x * 7 + y * 13 + f * 101) % 256 -
            (id * 31 + x * 7 + y * 13 + (f - 1) * 101) % 256)
      val motion = BigDecimal(diff.toDouble / ((nf - 1).toLong * w * h))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.motion === motion && r.quality_ok, s"motion(id=$id)")
    }

    val bad = Multimodal.videoQuality(
      Seq((9L, "not-a-gif".getBytes("UTF-8"), "video/gif"))
        .toDF("media_id", "payload", "media_type")).collect().head
    assert(!bad.decoded && !bad.quality_ok)
  }

  test("audioQuality: silence fails the RMS floor, saturation fails the " +
      "clip cap, noise passes with hand-replayed stats") {
    // ids 0/1/2 land in the silence/clipped/noise classes respectively
    val rows = Multimodal.audioQuality(
        Multimodal.synthesizeQualityWavs(Seq(0L, 1L, 2L).toDF("doc_id")))
      .collect().map(r => r.media_id -> r).toMap

    val silent = rows(0L)
    assert(silent.decoded && silent.n_samples === 40L && silent.peak === 0L)
    assert(silent.rms === 0.0 && !silent.quality_ok)

    val clipped = rows(1L)
    assert(clipped.decoded && clipped.n_samples === 41L)
    assert(clipped.peak === 32768L && clipped.clip_ratio === 1.0 &&
      !clipped.quality_ok)

    val noise = rows(2L)
    val n = 42
    val samples = (0 until n).map(i => ((2L * 31 + i * 17) % 2048) - 1024)
    def r4(d: Double) =
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(noise.decoded && noise.n_samples === n.toLong)
    assert(noise.peak === samples.map(math.abs).max)
    assert(noise.rms === r4(math.sqrt(
      samples.map(s => s.toDouble * s).sum / n)))
    assert(noise.clip_ratio === 0.0 && noise.quality_ok)

    val bad = Multimodal.audioQuality(
      Seq((9L, "not-audio".getBytes("UTF-8"), "audio/wav"))
        .toDF("media_id", "payload", "media_type")).collect().head
    assert(!bad.decoded && !bad.quality_ok)
  }

  test("image IVF from persisted centroids equals brute force when every " +
      "cell is probed — the scale path loses nothing to the assignment") {
    val ids = (0L until 40L).toDF("doc_id")
    val vecs = Multimodal.imageFeatures(
        Multimodal.synthesizePhashImages(ids), bins = 16).toDF()
      .filter(col("decoded"))
      .select(col("media_id").as("vec_id"),
        col("histogram").cast("array<double>").as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivfimg").toFile
    dir.deleteOnExit()
    VectorIndex.fit(vecs, VectorIndex.Ivf(4)).write(vecs, dir.getAbsolutePath)
    val q = vecs.filter(col("vec_id") < 5)
    val ivf = VectorIndex.read(spark, dir.getAbsolutePath).search(q,
        k = 3, Some(vecs), nProbe = 4)
      .orderBy("query_id", "rank").collect().toSeq
    val brute = Similarity.bruteForceTopK(vecs, q, k = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(ivf === brute,
      "exhaustive-probe IVF over image features diverged from brute force")
  }

  test("synthesizeMp4s -> decodeMp4Meta round-trips the box arithmetic; " +
      "v0 and v1 mvhd layouts agree; fragments sum; poison reports") {
    val ids = spark.range(0, 50).select($"id".as("doc_id"))
    val got = Multimodal.decodeMp4Meta(Multimodal.synthesizeMp4s(ids))
      .collect().map(m => m.media_id -> m).toMap
    (0L until 50L).foreach { id =>
      val m = got(id)
      if (id % 11 == 0) {
        assert(!m.decoded && m.major_brand == "" && m.n_tracks == 0, s"id $id")
      } else {
        assert(m.decoded, s"id $id")
        assert(m.major_brand == "isom" && m.timescale == 1000L, s"id $id")
        val wantUnits =
          if (id % 13 == 6)
            450 + (id % 2) * 600 + (3 + id % 3) * 200 * (1 + id % 3)
          else (id % 9 + 1) * 500
        assert(m.duration_units == wantUnits, s"id $id")
        assert(m.duration_s == wantUnits / 1000.0, s"id $id")
        assert(m.n_tracks == 1 + (id % 3).toInt, s"id $id")
        assert(m.n_video_tracks == (if (id % 3 == 2) 2 else 1), s"id $id")
        assert(m.n_audio_tracks == (if (id % 3 >= 1) 1 else 0), s"id $id")
      }
    }
    // id 3 (3 % 7 == 3) wrote the 64-bit v1 mvhd; id 10 the v0 — the two
    // layouts must already have agreed above; pin it explicitly
    assert(got(3L).decoded && got(3L).duration_units == (3 % 9 + 1) * 500)
    // the fragmented class (id%13==6) landed all three §8.8 duration
    // sources: id 6 (even — no trex moof) and id 19 (odd — trex moof,
    // AND 19%7... not v1), id 45 (frag AND v1 mvhd: 45%7==3) — the
    // decoy tfhd 999 never appears in any sum
    assert(got(6L).duration_units == 450 + 3 * 200) // %2=0, %3=0
    assert(got(19L).duration_units == 450 + 600 + 4 * 400) // %2=1, %3=1
    assert(got(45L).duration_units == 450 + 600 + 3 * 200) // v1 + frag
    assert(got(6L).duration_s >= 1.0 && got(45L).duration_s >= 1.0,
      "frag rows must pass the duration gate")
  }

  test("decodeMp4Meta fMP4: truncated trun sample run and a default-less " +
      "traf with no trex are poison, not crashes or zero-duration rows") {
    def box(tp: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(tp.getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    val ftypBody = java.nio.ByteBuffer.allocate(12)
    ftypBody.put("isom".getBytes("US-ASCII")).putInt(0)
      .put("mp41".getBytes("US-ASCII"))
    val mvhdBody = java.nio.ByteBuffer.allocate(100)
    mvhdBody.putInt(0).putInt(0).putInt(0).putInt(1000).putInt(0) // dur 0
    val hdlrBody = java.nio.ByteBuffer.allocate(25)
    hdlrBody.putInt(0).putInt(0).put("vide".getBytes("US-ASCII"))
    val moov = box("moov", box("mvhd", mvhdBody.array()) ++
      box("trak", box("mdia", box("hdlr", hdlrBody.array()))))
    def tfhd(flags: Int, dflt: Option[Int]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + (if (dflt.isDefined) 4 else 0))
      bb.putInt(flags).putInt(1)
      dflt.foreach(bb.putInt)
      box("tfhd", bb.array())
    }
    // trun DECLARES 5 per-sample durations but carries only 2
    val shortTrun = {
      val bb = java.nio.ByteBuffer.allocate(8 + 8)
      bb.putInt(0x000100).putInt(5).putInt(100).putInt(100)
      box("trun", bb.array())
    }
    val truncated = box("ftyp", ftypBody.array()) ++ moov ++
      box("moof", box("traf", tfhd(8, Some(100)) ++ shortTrun))
    // count-only trun, tfhd has no default, and there is no mvex/trex
    val countTrun = {
      val bb = java.nio.ByteBuffer.allocate(8)
      bb.putInt(0).putInt(3)
      box("trun", bb.array())
    }
    val sourceless = box("ftyp", ftypBody.array()) ++ moov ++
      box("moof", box("traf", tfhd(0, None) ++ countTrun))
    val rows = Seq((1L, truncated, "video/mp4"), (2L, sourceless, "video/mp4"))
      .toDF("media_id", "payload", "media_type")
    val got = Multimodal.decodeMp4Meta(rows).collect()
      .map(m => m.media_id -> m).toMap
    assert(!got(1L).decoded && !got(2L).decoded)
  }

  test("decodeMp4Meta: largesize (size==1) and to-end (size==0) box " +
      "encodings parse; truncated headers and overruns report") {
    def box(tp: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(tp.getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    val ftypBody = java.nio.ByteBuffer.allocate(12)
    ftypBody.put("isom".getBytes("US-ASCII")).putInt(0)
      .put("mp41".getBytes("US-ASCII"))
    val mvhdBody = java.nio.ByteBuffer.allocate(100)
    mvhdBody.putInt(0).putInt(0).putInt(0).putInt(600).putInt(1200)
    val hdlrBody = java.nio.ByteBuffer.allocate(25)
    hdlrBody.putInt(0).putInt(0).put("vide".getBytes("US-ASCII"))
    val trak = box("trak", box("mdia", box("hdlr", hdlrBody.array())))
    // moov written with the LARGESIZE encoding: size==1 + 64-bit length
    val moovPayload = box("mvhd", mvhdBody.array()) ++ trak
    val moovLarge = {
      val bb = java.nio.ByteBuffer.allocate(16 + moovPayload.length)
      bb.putInt(1).put("moov".getBytes("US-ASCII"))
        .putLong(16L + moovPayload.length).put(moovPayload)
      bb.array()
    }
    // trailing mdat with size==0: extends to end of payload
    val mdatToEnd = {
      val bb = java.nio.ByteBuffer.allocate(12)
      bb.putInt(0).put("mdat".getBytes("US-ASCII")).putInt(7)
      bb.array()
    }
    val good = box("ftyp", ftypBody.array()) ++ moovLarge ++ mdatToEnd
    val rows = Seq(
      (1L, good, "video/mp4"),
      (2L, good.take(20), "video/mp4"),            // truncated mid-header
      (3L, Array.emptyByteArray, "video/mp4"),
      (4L, null.asInstanceOf[Array[Byte]], "video/mp4"))
      .toDF("media_id", "payload", "media_type")
    val got = Multimodal.decodeMp4Meta(rows).collect()
      .map(m => m.media_id -> m).toMap
    assert(got(1L).decoded && got(1L).timescale == 600L &&
      got(1L).duration_units == 1200L && got(1L).duration_s == 2.0 &&
      got(1L).n_tracks == 1 && got(1L).n_video_tracks == 1)
    assert(!got(2L).decoded && !got(3L).decoded && !got(4L).decoded)
  }

  // The poison rule, table-driven over every decoder: a null, an empty, a
  // 16-random-byte and a truncated (first 20 bytes of a valid) payload each
  // give the decoder's zeroed decoded=false row — no rows for the frame
  // extractors — and never throw, while a valid payload in the same
  // partition (id 5) still decodes.
  private val junk = {
    val b = new Array[Byte](16)
    new scala.util.Random(42).nextBytes(b)
    b
  }
  private def poisoned(valid: DataFrame): DataFrame = {
    val ok = valid.select("payload", "media_type").as[(Array[Byte], String)].collect().head
    Seq((1L, null.asInstanceOf[Array[Byte]]), (2L, Array.emptyByteArray),
        (3L, junk), (4L, ok._1.take(20)), (5L, ok._1))
      .map { case (id, b) => (id, b, ok._2) }
      .toDF("media_id", "payload", "media_type").coalesce(1)
  }
  /** Every field after `media_id` is zero, false, empty or all-zero. */
  private def zeroed(row: Product): Boolean = row.productIterator.drop(1).forall {
    case b: Boolean => !b
    case n: Int => n == 0
    case n: Long => n == 0L
    case d: Double => d == 0.0
    case s: String => s.isEmpty
    case a: Array[Long] => a.forall(_ == 0L)
    case a: Array[Byte] => a.isEmpty
    case other => fail(s"unexpected field $other")
  }

  private val one = Seq(5L).toDF("doc_id")
  private val rowDecoders: Seq[(String, DataFrame, DataFrame => Seq[Product])] = Seq(
    ("decodeImageMeta", Multimodal.synthesizeImages(one),
      m => Multimodal.decodeImageMeta(m).collect().toSeq),
    ("resizeImage", Multimodal.synthesizeImages(one),
      m => Multimodal.resizeImage(m, 4, 3).collect().toSeq),
    ("imageDHash", Multimodal.synthesizePhashImages(one),
      m => Multimodal.imageDHash(m).collect().toSeq),
    ("imageFeatures", Multimodal.synthesizePhashImages(one),
      m => Multimodal.imageFeatures(m).collect().toSeq),
    ("imageQuality", Multimodal.synthesizePhashImages(one),
      m => Multimodal.imageQuality(m).collect().toSeq),
    ("decodeAudioMeta", Multimodal.synthesizeWavs(one),
      m => Multimodal.decodeAudioMeta(m).collect().toSeq),
    ("audioQuality", Multimodal.synthesizeQualityWavs(one),
      m => Multimodal.audioQuality(m).collect().toSeq),
    ("audioSpectrum", Multimodal.synthesizeToneWavs(one),
      m => Multimodal.audioSpectrum(m).collect().toSeq),
    ("decodeVideoMeta", Multimodal.synthesizeGifs(one),
      m => Multimodal.decodeVideoMeta(m).collect().toSeq),
    ("videoQuality", Multimodal.synthesizeQualityGifs(one),
      m => Multimodal.videoQuality(m).collect().toSeq),
    ("decodeMp4Meta", Multimodal.synthesizeMp4s(one),
      m => Multimodal.decodeMp4Meta(m).collect().toSeq))

  rowDecoders.foreach { case (name, valid, run) =>
    test(s"$name reports corrupt payloads instead of faking stats") {
      val rows = run(poisoned(valid))
        .map(r => r.productElement(0).asInstanceOf[Long] -> r).toMap
      assert(rows.keySet === Set(1L, 2L, 3L, 4L, 5L))
      for (id <- 1L to 4L) assert(zeroed(rows(id)), s"poison input $id: ${rows(id)}")
      assert(!zeroed(rows(5L)), "the valid payload did not decode")
    }
  }

  Seq[(String, DataFrame => Seq[Long])](
    "sampleVideoFrames" -> (m => Multimodal.sampleVideoFrames(m).collect().map(_.media_id).toSeq),
    "extractFrameImages" -> (m => Multimodal.extractFrameImages(m).collect().map(_.media_id).toSeq)
  ).foreach { case (name, run) =>
    test(s"$name yields no rows for corrupt payloads") {
      val ids = run(poisoned(Multimodal.synthesizeGifs(one)))
      assert(ids.nonEmpty && ids.forall(_ == 5L))
    }
  }
}

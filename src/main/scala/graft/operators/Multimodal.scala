package graft.operators

import java.awt.image.BufferedImage
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal

/** Multimodal columns (builder brief): image/audio/video as opaque `binary`
  * columns with typed metadata, batch-decoded per partition.
  *
  * The IMAGE leg is REAL: [[decodeImageMeta]] / [[resizeImage]] /
  * [[synthesizeImages]] run `javax.imageio` (JDK, no external dependency)
  * — actual PNG/JPEG header parse, pixel access and scaled re-encode.
  * The AUDIO leg is REAL too: [[decodeAudioMeta]] / [[synthesizeWavs]]
  * run `javax.sound.sampled` (also JDK) — actual RIFF/WAV container
  * parse and signed-PCM sample access. The VIDEO leg is real for the
  * one multi-frame container the JDK can encode AND decode:
  * [[synthesizeGifs]] / [[decodeVideoMeta]] / [[sampleVideoFrames]] do
  * actual animated-GIF container walks and per-frame pixel decode —
  * the frame-extraction shape a codec binding slots into unchanged.
  * For MP4/ISO-BMFF the CONTAINER level is real too:
  * [[decodeMp4Meta]] byte-walks the box structure (ftyp brand, mvhd
  * timescale/duration in both the v0 and v1 layouts, trak/hdlr track
  * split) with no codec; only the H.264-class FRAME decode remains out
  * of scope (no codec libraries in this container). Swapping in a real
  * codec changes no plan shape — decode stays a `mapPartitions` over
  * binary payloads, metadata stays columnar.
  *
  * Every decoder runs on one core: [[payloads]] reads the media rows,
  * and [[decodeRows]] opens one per-partition decoder and applies the
  * poison rule. Every synthesizer runs on [[synthesize]], which spreads
  * the ids and calls one per-partition encoder per id.
  *
  * Scale notes: payloads never pass through a shuffle here — decode is
  * map-side; downstream joins should carry only (id, features/meta) with the
  * binary column pruned (column pruning keeps it out of the scan unless
  * selected).
  */
object Multimodal {

  // Every ImageIO.read/write over a plain byte stream wraps it in a
  // FileCache stream — a temp FILE on disk per call — unless the cache
  // is off. These payloads are kilobytes; none of them belong on disk.
  // Object-init runs once per JVM (per executor on a cluster).
  javax.imageio.ImageIO.setUseCache(false)

  /** One media row: id + opaque payload + declared type. */
  case class MediaRow(media_id: Long, payload: Array[Byte], media_type: String)

  /** The fixture core behind every `synthesize*`: the ids of `idCol`,
    * spread over the session's parallelism, each encoded to one payload
    * of `mediaType` by the encoder `encoder()` opens once per partition
    * (so its buffers, writers and digests are reused across a batch).
    *
    * The id table is one parquet file = ONE partition; the per-row codec
    * work is the cost here, so the ids are spread across the session's
    * parallelism before the map-side encode (a shuffle of a few hundred
    * longs buys parallel frame work). The partition count is EXPLICIT: a
    * bare repartition(col) is AQE-coalescible, and AQE folds these few
    * kilobytes straight back into one partition — serializing the codec
    * work AND letting an ordered consumer's range-sampling pass recompute
    * it single-threaded a second time (measured 5.5 s vs 0.3 s for the
    * `multimodal_video` pipeline at explicit 32).
    */
  private def synthesize(ids: DataFrame, idCol: String, mediaType: String)(
      encoder: () => Long => Array[Byte]): DataFrame =
    ids.repartition(ids.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).cast("long").as("media_id"))
      .as(Encoders.scalaLong)
      .mapPartitions { it: Iterator[Long] =>
        val encode = encoder()
        it.map(id => MediaRow(id, encode(id), mediaType))
      }(Encoders.product[MediaRow])
      .toDF()

  /** The media rows of `media` (`media_id`, `payload`, `media_type`), typed. */
  private def payloads(media: DataFrame): Dataset[MediaRow] =
    media
      .select(col("media_id").cast("long"), col("payload").cast("binary"),
        col("media_type").cast("string"))
      .as(Encoders.product[MediaRow])

  /** The decoder core: `decoder()` opens once per partition (reader state
    * is per batch, the Pandas-UDF batch shape) and maps each payload to
    * its rows. The POISON RULE lives here, once: a null or empty payload,
    * or one the decoder throws on, yields `failed(media_id)` — one
    * corrupt object must not kill a 100 TB scan, and must not masquerade
    * as data either. NonFatal, not just IOException: the JDK's format
    * readers throw unchecked exceptions on malformed headers too. A
    * decoder's rows must be materialized when it returns, so its throws
    * land inside the rule.
    */
  private def decodeRows[T <: Product : TypeTag](media: DataFrame,
      failed: Long => Iterator[T])(
      decoder: () => (Long, Array[Byte]) => Iterator[T]): Dataset[T] =
    payloads(media).mapPartitions { it: Iterator[MediaRow] =>
      val decode = decoder()
      it.flatMap { r =>
        if (r.payload == null || r.payload.isEmpty) failed(r.media_id)
        else
          try decode(r.media_id, r.payload)
          catch { case NonFatal(_) => failed(r.media_id) }
      }
    }(Encoders.product[T])

  /** [[decodeRows]] for the one-row-per-payload decoders: `failed` is the
    * decoder's `decoded = false` row with zeroed stats.
    */
  private def decode[T <: Product : TypeTag](media: DataFrame, failed: Long => T)(
      decoder: () => (Long, Array[Byte]) => T): Dataset[T] =
    decodeRows(media, id => Iterator.single(failed(id))) { () =>
      val d = decoder()
      (id, bytes) => Iterator.single(d(id, bytes))
    }

  /** The image opener: `javax.imageio` parses whatever the JDK's readers
    * handle (PNG/JPEG/GIF/BMP); a payload no reader accepts throws.
    */
  private def readImage(bytes: Array[Byte]): BufferedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) throw new IllegalArgumentException("no image reader accepts the payload")
    img
  }

  /** One PNG writer: `img` encoded losslessly. */
  private def png(img: BufferedImage): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** A `w × h` gray PNG whose pixel `(x, y)` is `px(x, y)` in every channel. */
  private def grayPng(w: Int, h: Int)(px: (Int, Int) => Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = px(x, y)
        img.setRGB(x, y, (p << 16) | (p << 8) | p)
        x += 1
      }
      y += 1
    }
    png(img)
  }

  /** `img` bilinearly scaled to `w × h` (TYPE_INT_RGB). */
  private def scaled(img: BufferedImage, w: Int, h: Int): BufferedImage = {
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(
        java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    out
  }

  /** Red-channel pixel sum of `img`, row-major. */
  private def redSum(img: BufferedImage): Long = {
    var sum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        sum += (img.getRGB(x, y) >> 16) & 0xff
        x += 1
      }
      y += 1
    }
    sum
  }

  /** Half-up rounding to 4 dp, the precision the SQL oracles replay
    * float stats at.
    */
  private def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Decoded IMAGE metadata — real dimensions and a replayable pixel sum
    * (red channel, row-major). `decoded=false` rows carry zeroed stats: a
    * corrupt payload is reported, never silently faked.
    */
  case class ImageMeta(media_id: Long, width: Int, height: Int,
                       pixel_sum: Long, decoded: Boolean)

  /** Deterministic REAL-PNG synthesis: id → gray PNG of
    * `(4 + id % 13) × (3 + id % 7)` with pixel value
    * `(id·31 + x·7 + y·13) mod 256` in every channel — dimensions and
    * pixel sums are pure arithmetic in id, so a DuckDB oracle can replay
    * what [[decodeImageMeta]] recovers from the actual encoded bytes.
    */
  def synthesizeImages(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(ids, idCol, "image/png") { () => id =>
      grayPng(4 + (id % 13).toInt, 3 + (id % 7).toInt)((x, y) =>
        ((id * 31 + x * 7 + y * 13) % 256).toInt)
    }

  /** REAL image decode: `javax.imageio` parses the payload, yielding
    * actual dimensions and the red-channel pixel sum. Unparseable or null
    * payloads decode to `decoded=false` with zeroed stats.
    */
  def decodeImageMeta(media: DataFrame): Dataset[ImageMeta] =
    decode(media, ImageMeta(_, 0, 0, 0L, decoded = false)) { () => (id, bytes) =>
      val img = readImage(bytes)
      ImageMeta(id, img.getWidth, img.getHeight, redSum(img), decoded = true)
    }

  /** A resized media row: id + transformed payload + the target dims. */
  case class ResizedMedia(media_id: Long, payload: Array[Byte],
                          width: Int, height: Int)

  /** REAL image resize: decode → `Graphics2D` bilinear scale to the target
    * dims → PNG re-encode; binary in, binary out, per-partition batches.
    * Non-decodable payloads come back with an empty payload and width=0
    * (callers filter).
    */
  def resizeImage(media: DataFrame, targetW: Int, targetH: Int): Dataset[ResizedMedia] = {
    require(targetW > 0 && targetH > 0, "target dims must be positive")
    decode(media, ResizedMedia(_, Array.emptyByteArray, 0, 0)) { () => (id, bytes) =>
      ResizedMedia(id, png(scaled(readImage(bytes), targetW, targetH)),
        targetW, targetH)
    }
  }

  /** Decoded AUDIO metadata — real sample rate, frame count, integer
    * microsecond duration and a replayable signed-sample sum. As with
    * images, `decoded=false` rows carry zeroed stats.
    */
  case class AudioMeta(media_id: Long, sample_rate: Int, n_samples: Int,
                       duration_us: Long, sample_sum: Long, decoded: Boolean)

  /** One 16-bit mono PCM WAV at `rate` Hz of `n` samples `sample(i)`.
    *
    * The container is byte-assembled against the RIFF/WAVE spec here
    * (44-byte header + little-endian PCM), NOT via `AudioSystem.write`:
    * it shares no code with the JDK reader the decode side runs — a true
    * cross-implementation pin, the PNG-fixture convention — and it
    * sidesteps `AudioSystem.write`'s per-call provider lookup, which
    * measurably convoyed under 32-way partition parallelism.
    */
  private def wav(rate: Int, n: Int)(sample: Int => Int): Array[Byte] = {
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                 // PCM
      .putShort(1)                 // mono
      .putInt(rate)
      .putInt(rate * 2)            // byte rate
      .putShort(2)                 // block align
      .putShort(16)                // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      bb.putShort(sample(i).toShort)
      i += 1
    }
    bb.array()
  }

  /** Deterministic REAL-WAV synthesis: id → 16-bit signed mono PCM WAV at
    * `8000 + (id % 3)·4000` Hz with `40 + id % 101` samples of value
    * `(id·31 + i·17) mod 2048 − 1024` — rate, length and sample sum are
    * pure arithmetic in id, so a DuckDB oracle can replay what
    * [[decodeAudioMeta]] recovers from the actual RIFF container bytes.
    */
  def synthesizeWavs(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(ids, idCol, "audio/wav") { () => id =>
      wav(8000 + (id % 3).toInt * 4000, 40 + (id % 101).toInt)(i =>
        (((id * 31 + i * 17) % 2048) - 1024).toInt)
    }

  /** A container's decoded PCM: its format fields and raw sample bytes. */
  private final class Pcm(val rate: Int, val channels: Int, bits: Int,
      bigEndian: Boolean, val bytes: Array[Byte]) {
    val is16 = bits == 16
    /** Frames (one sample per channel) the bytes hold. */
    val frames: Int = if (bits >= 8 && channels > 0) bytes.length / (bits / 8 * channels) else 0
    /** Signed 16-bit sample `i` of the channel-interleaved stream: the
      * high byte sign-extends through Int.
      */
    def sample16(i: Int): Int =
      if (bigEndian) (bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xff)
      else (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)
  }

  /** One stateful audio opener per PARTITION: the JDK's registered
    * container parsers, resolved once through the public ServiceLoader
    * path (`AudioSystem.getAudioInputStream` re-walks the provider
    * registry per call, which measurably convoys across 32 threads), and
    * probed with a sticky preference — a wrong-format reader signals by
    * THROWING, and paying that exception per row instead of per format
    * change measurably dominated the decode stage (~0.7 s of the 2 s
    * audio queries at sf0.1; a media partition is format-homogeneous in
    * practice, so after the first row the preferred reader hits first
    * try). Throws when no reader accepts the payload.
    */
  private def audioOpener(): Array[Byte] => Pcm = {
    val readers = {
      val sl = java.util.ServiceLoader.load(
        classOf[javax.sound.sampled.spi.AudioFileReader])
      val b = Seq.newBuilder[javax.sound.sampled.spi.AudioFileReader]
      sl.forEach(r => b += r)
      b.result()
    }
    var preferred = -1
    def tryRead(i: Int, bytes: Array[Byte]) =
      try readers(i).getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      catch { case NonFatal(_) => null }
    bytes => {
      var ais = if (preferred >= 0) tryRead(preferred, bytes) else null
      var i = 0
      while (ais == null && i < readers.length) {
        if (i != preferred) {
          ais = tryRead(i, bytes)
          if (ais != null) preferred = i
        }
        i += 1
      }
      if (ais == null) throw new IllegalArgumentException("no audio reader accepts the payload")
      try {
        val fmt = ais.getFormat
        new Pcm(fmt.getSampleRate.toInt, fmt.getChannels, fmt.getSampleSizeInBits,
          fmt.isBigEndian, ais.readAllBytes())
      } finally ais.close()
    }
  }

  case class AudioQualityRow(media_id: Long, decoded: Boolean, n_samples: Long,
      peak: Long, rms: Double, clip_ratio: Double, quality_ok: Boolean)

  /** Audio QUALITY gating over decoded PCM — the audio modality's
    * curation rules (the [[imageQuality]] posture over samples instead of
    * pixels): per clip, peak |sample|, RMS and the clipped-sample ratio
    * (|s| ≥ `clipThreshold`), gate = RMS ≥ `minRms` (drops silence /
    * dead-air recordings) AND clip ratio ≤ `maxClipRatio` (drops
    * saturated takes). Channel-interleaved 16-bit samples are folded as
    * one stream, matching [[decodeAudioMeta]]'s sample walk. Peak and the
    * squared sum are exact integer folds, so a SQL oracle replays RMS and
    * the ratio from the same sample arithmetic at 4 dp. Unparseable →
    * `decoded=false`, zeroed stats, gate false.
    */
  def audioQuality(media: DataFrame, clipThreshold: Int = 32000,
      minRms: Double = 10.0, maxClipRatio: Double = 0.1): Dataset[AudioQualityRow] =
    decode(media, AudioQualityRow(_, decoded = false, 0L, 0L, 0.0, 0.0,
        quality_ok = false)) { () =>
      val open = audioOpener()
      (id, bytes) => {
        val pcm = open(bytes)
        var peak = 0L
        var s2 = 0L
        var clipped = 0L
        val total = pcm.frames.toLong * pcm.channels
        if (pcm.is16) {
          var i = 0
          while (i < total) {
            val v = pcm.sample16(i)
            val a = math.abs(v.toLong)
            if (a > peak) peak = a
            s2 += v.toLong * v
            if (a >= clipThreshold) clipped += 1L
            i += 1
          }
        }
        val rms = if (total > 0) round4(math.sqrt(s2.toDouble / total)) else 0.0
        val ratio = if (total > 0) round4(clipped.toDouble / total) else 0.0
        AudioQualityRow(id, decoded = true, total, peak, rms, ratio,
          quality_ok = rms >= minRms && ratio <= maxClipRatio)
      }
    }

  /** Deterministic mixed-class WAV synthesis for [[audioQuality]]'s gate:
    * `id % 5 = 0` → silence (all-zero samples — dead air, fails the RMS
    * floor); `id % 5 = 1` → full-scale alternation ±32767/−32768 (a
    * saturated take, fails the clip-ratio cap); else the integer-mixer
    * noise samples of [[synthesizeWavs]] (`((id*31 + i*17) % 2048) −
    * 1024` — passes). Same 8 kHz mono 16-bit container and
    * `n = 40 + id % 101` length everywhere, so one SQL CASE replays every
    * class.
    */
  def synthesizeQualityWavs(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(ids, idCol, "audio/wav") { () => id =>
      wav(8000, 40 + (id % 101).toInt)(i => (id % 5).toInt match {
        case 0 => 0
        case 1 => if (i % 2 == 0) 32767 else -32768
        case _ => (((id * 31 + i * 17) % 2048) - 1024).toInt
      })
    }

  /** REAL audio decode: `javax.sound.sampled` parses the container
    * (WAV/AIFF/AU — the JDK's readers), yielding the actual sample rate,
    * frame count, integer-microsecond duration and the signed 16-bit
    * sample sum across all channels. Unparseable or null payloads decode
    * to `decoded=false` with zeroed stats.
    */
  def decodeAudioMeta(media: DataFrame): Dataset[AudioMeta] =
    decode(media, AudioMeta(_, 0, 0, 0L, 0L, decoded = false)) { () =>
      val open = audioOpener()
      (id, bytes) => {
        val pcm = open(bytes)
        val n = pcm.frames
        var sum = 0L
        if (pcm.is16) {
          var i = 0
          while (i < n * pcm.channels) {
            sum += pcm.sample16(i)
            i += 1
          }
        }
        AudioMeta(id, pcm.rate, n,
          if (pcm.rate > 0) n.toLong * 1000000L / pcm.rate else 0L,
          sum, decoded = true)
      }
    }

  /** Spectral analysis of one decoded audio payload: the dominant
    * frequency among a candidate set (real DFT energies via the Goertzel
    * recurrence) plus a concentration gate — `peak_ok` is true when the
    * winning bin carries at least half the candidate-set energy, so a
    * green row proves genuine spectral concentration, not argmax luck.
    */
  case class AudioSpectrum(media_id: Long, sample_rate: Long,
                           n_samples: Long, dominant_hz: Long,
                           peak_ok: Boolean, decoded: Boolean)

  /** The candidate tone frequencies: all bin-aligned at 8 kHz / 400
    * samples (f·N/sr integral), so a pure tone's energy lands entirely in
    * its own Goertzel bin — no spectral leakage between candidates.
    */
  val toneCandidatesHz: Array[Int] = Array(500, 1000, 2000, 2500)

  /** Deterministic REAL-WAV tone synthesis: id → 16-bit mono PCM at 8 kHz,
    * 400 samples of a pure sine at `toneCandidatesHz(id % 4)` with
    * amplitude `5000 + (id % 7)·1000`. The byte-assembled RIFF container
    * carries a signal whose DOMINANT FREQUENCY is pure arithmetic in id —
    * the oracle states it, and [[audioSpectrum]] must recover it from the
    * encoded bytes by actually measuring the spectrum.
    */
  def synthesizeToneWavs(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(ids, idCol, "audio/wav") { () => id =>
      val rate = 8000
      val freq = toneCandidatesHz((id % 4).toInt)
      val amp = 5000 + (id % 7).toInt * 1000
      wav(rate, 400)(i =>
        math.round(amp * math.sin(2.0 * math.Pi * freq * i / rate)).toInt)
    }

  /** REAL spectral measurement from encoded bytes: container parse via
    * the JDK readers ([[decodeAudioMeta]]'s provider path), channel-mixed
    * 16-bit samples, then one Goertzel recurrence per candidate frequency
    * — an O(candidates × samples) exact DFT-bin energy, the standard
    * tone-detection kernel (cheaper than a full FFT when only a known
    * candidate set matters, and branch-free inside the sample loop).
    * Corrupt/null payloads and non-16-bit PCM → `decoded=false`, zeroed
    * stats.
    */
  def audioSpectrum(media: DataFrame,
      candidates: Array[Int] = toneCandidatesHz): Dataset[AudioSpectrum] = {
    require(candidates.nonEmpty, "candidate set must be non-empty")
    decode(media, AudioSpectrum(_, 0L, 0L, 0L, peak_ok = false,
        decoded = false)) { () =>
      val open = audioOpener()
      (id, bytes) => {
        val pcm = open(bytes)
        val ch = pcm.channels
        val rate = pcm.rate
        if (!pcm.is16 || ch <= 0 || rate <= 0)
          throw new IllegalArgumentException("not 16-bit PCM")
        val n = pcm.frames
        // channel-mix to one mono series (sum across channels —
        // identity for mono, preserves each tone's energy)
        val x = new Array[Double](n)
        var i = 0
        while (i < n) {
          var c = 0
          var acc = 0.0
          while (c < ch) {
            acc += pcm.sample16(i * ch + c)
            c += 1
          }
          x(i) = acc
          i += 1
        }
        // Goertzel per candidate: energy of the DFT bin nearest f
        var best = 0
        var bestP = -1.0
        var total = 0.0
        var k = 0
        while (k < candidates.length) {
          val w = 2.0 * math.Pi * candidates(k) / rate
          val coeff = 2.0 * math.cos(w)
          var s1 = 0.0
          var s2 = 0.0
          var j = 0
          while (j < n) {
            val s = x(j) + coeff * s1 - s2
            s2 = s1
            s1 = s
            j += 1
          }
          val p = s1 * s1 + s2 * s2 - coeff * s1 * s2
          total += p
          if (p > bestP) { bestP = p; best = k }
          k += 1
        }
        AudioSpectrum(id, rate.toLong, n.toLong, candidates(best).toLong,
          peak_ok = total > 0.0 && bestP >= 0.5 * total, decoded = true)
      }
    }
  }

  /** Decoded VIDEO (multi-frame container) metadata. */
  case class VideoMeta(media_id: Long, n_frames: Int, width: Int,
                       height: Int, decoded: Boolean)

  /** One sampled frame: real per-frame dimensions and gray pixel sum. */
  case class VideoFrame(media_id: Long, frame_no: Int, width: Int,
                        height: Int, pixel_sum: Long)

  private def grayPalette: java.awt.image.IndexColorModel = {
    val g = Array.tabulate(256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, g, g, g)
  }

  /** The GIF opener: one JDK GIF reader per PARTITION, pointed at each
    * payload in turn (so a caller must read what it needs before the next
    * payload). MemoryCache, never ImageIO.createImageInputStream: the
    * factory wraps streams in a FileCache stream — a temp FILE per row.
    */
  private def gifOpener(): Array[Byte] => javax.imageio.ImageReader = {
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    bytes => {
      reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      reader
    }
  }

  /** Deterministic REAL-ANIMATION synthesis: id → animated GIF of
    * `2 + id % 5` frames at `(4 + id % 9) × (3 + id % 5)`, frame `f`
    * gray value `(id·31 + x·7 + y·13 + f·101) mod 256`. The frames are
    * written TYPE_BYTE_INDEXED over an explicit 256-gray palette, so the
    * GIF encoding is LOSSLESS by construction — frame count, dimensions
    * and per-frame pixel sums are pure arithmetic in id, and a DuckDB
    * oracle can replay what [[sampleVideoFrames]] recovers from the
    * actual container bytes. GIF is the one real multi-frame container
    * the JDK can both encode and decode; MP4/H.264-class codecs remain
    * out of scope in this container (no codec libraries) — but the frame
    * extraction SHAPE below is exactly what a real codec binding slots
    * into.
    */
  def synthesizeGifs(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    gifs(ids, idCol, gifDims,
      (id, x, y, f) => ((id * 31 + x * 7 + y * 13 + f * 101) % 256).toInt)

  /** [[synthesizeGifs]]' per-id (w, h, nFrames). */
  private val gifDims: Long => (Int, Int, Int) =
    id => (4 + (id % 9).toInt, 3 + (id % 5).toInt, 2 + (id % 5).toInt)

  /** The GIF writer behind every GIF fixture: per id, `nFrames` frames of
    * `w × h` from `dims(id)`, frame `f`'s pixel `(x, y)` the gray value
    * `px(id, x, y, f)`.
    */
  private def gifs(ids: DataFrame, idCol: String,
      dims: Long => (Int, Int, Int),
      px: (Long, Int, Int, Int) => Int): DataFrame =
    synthesize(ids, idCol, "video/gif") { () =>
      val cm = grayPalette // palette + writer reused across the batch
      val writer =
        javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val param = writer.getDefaultWriteParam
      // interlaceFlag MUST be forced FALSE: the JDK GIF writer defaults
      // to interlaced output and mis-lays rows for images shorter than
      // the 8-row interlace pass stride (verified: a 4×3 gradient
      // round-trips wrong interlaced, exact non-interlaced). The
      // metadata tree build (getAsTree → edit → setFromTree) costs more
      // than the pixel work at these frame sizes, so it is cached per
      // dimension across the batch — the object is reusable: the writer
      // only READS it per writeToSequence call
      val metaCache =
        scala.collection.mutable.HashMap.empty[(Int, Int), javax.imageio.metadata.IIOMetadata]
      def nonInterlacedMeta(img: BufferedImage) =
        metaCache.getOrElseUpdate((img.getWidth, img.getHeight), {
          val md = writer.getDefaultImageMetadata(
            new javax.imageio.ImageTypeSpecifier(img), param)
          val fmt = md.getNativeMetadataFormatName
          val root = md.getAsTree(fmt)
            .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
          val desc = root.getElementsByTagName("ImageDescriptor").item(0)
            .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
          desc.setAttribute("interlaceFlag", "FALSE")
          md.setFromTree(fmt, root)
          md
        })
      // writer.dispose() is owed after the batch, but Iterator has no
      // close hook here; the writer is unreachable after the partition
      // and carries no native state in the JDK GIF plugin
      id => {
        val (w, h, nf) = dims(id)
        val baos = new java.io.ByteArrayOutputStream()
        // MemoryCache, never ImageIO.createImageOutputStream: the
        // factory wraps OutputStreams in a FileCache stream — a temp
        // FILE per row, which dominated the whole query (~6 ms/frame
        // of disk churn for kilobyte payloads)
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < nf) {
          val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, cm)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              raster.setSample(x, y, 0, px(id, x, y, f))
              x += 1
            }
            y += 1
          }
          writer.writeToSequence(
            new javax.imageio.IIOImage(img, null, nonInterlacedMeta(img)),
            param)
          f += 1
        }
        writer.endWriteSequence()
        ios.close()
        baos.toByteArray
      }
    }

  /** Mixed-class GIF synthesis for [[videoQuality]]'s gate: `id % 5 = 0`
    * clips drop the frame term (every frame identical — the static
    * slideshow/frozen-encoder shape a video curation pass rejects); the
    * rest carry [[synthesizeGifs]]' moving formula. Same container,
    * dimensions and frame counts, so one SQL CASE replays both classes.
    */
  def synthesizeQualityGifs(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    gifs(ids, idCol, gifDims, (id, x, y, f) =>
      ((id * 31 + x * 7 + y * 13 +
        (if (id % 5 == 0) 0 else f * 101)) % 256).toInt)

  /** Deterministic near-duplicate GIF synthesis for the VIDEO dedup
    * pipeline: ids in the same FAMILY (`id / 4`) share md5-derived
    * pseudo-random 9×8 frames and a family-determined frame count
    * (`2 + family % 3`); variants (`id % 4 > 0`) perturb the single pixel
    * `(v, v)` of frame 0 by `v·3 mod 256` — aligned frames a few dHash
    * bits apart, while cross-family frames are independent 64-bit hashes
    * (md5 as the mixer for the same reason as
    * [[synthesizePhashImages]]). Frames are exactly the 9×8 dHash grid,
    * so the frame → image bridge feeds [[imageDHash]]'s resample-free
    * path and a SQL oracle replays every bit.
    */
  // object field, not a closure capture: the anonymous ThreadLocal is not
  // Serializable, but a module-field reference deserializes to the
  // singleton on the executor
  private val md5Pool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue() =
      java.security.MessageDigest.getInstance("MD5")
  }

  def synthesizeDupGifs(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    gifs(ids, idCol, id => (dhashW, dhashH, 2 + ((id / 4) % 3).toInt), dupGifPx)

  /** LONG-clip variant of [[synthesizeDupGifs]]: identical family/pixel
    * arithmetic, but 64–66 frames per clip (`64 + family % 3`) — the
    * realistic-footage shape where hashing EVERY frame is the scale
    * bug: per-frame work grows linearly with clip length while the
    * near-dup verdict is decided by a handful of aligned keyframes.
    * The sampled dedup query proves every-Nth keyframe sampling lands
    * the full-frame pair set on this class.
    */
  def synthesizeLongDupGifs(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    gifs(ids, idCol, id => (dhashW, dhashH, 64 + ((id / 4) % 3).toInt), dupGifPx)

  private val dupGifPx: (Long, Int, Int, Int) => Int = (id, x, y, f) => {
    val family = id / 4
    val v = (id % 4).toInt
    val base = md5Pool.get.digest(
      s"${family}_${x}_${y}_${f}".getBytes("UTF-8"))(0) & 0xff
    if (v > 0 && x == v && y == v && f == 0) (base + v * 3) % 256
    else base
  }

  /** The SCENE-STRUCTURED clip class: pixels keyed on `f / 3`, so every
    * 3-frame run is a static SHOT and the content changes wholesale at
    * each shot boundary — the cut-detection shape (real footage is long
    * static-ish runs punctuated by cuts; slideshow/test-pattern filler
    * is the degenerate one-shot case). 8–10 frames per clip.
    */
  def synthesizeSceneGifs(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    gifs(ids, idCol, id => (dhashW, dhashH, 8 + ((id / 4) % 3).toInt), sceneGifPx)

  private val sceneGifPx: (Long, Int, Int, Int) => Int = (id, x, y, f) =>
    md5Pool.get.digest(s"${id}_${x}_${y}_${f / 3}".getBytes("UTF-8"))(0) & 0xff

  case class VideoQualityRow(media_id: Long, decoded: Boolean, n_frames: Long,
      motion: Double, quality_ok: Boolean)

  /** Video QUALITY gating over decoded frames — the curation rule for the
    * video modality: mean absolute inter-frame gray difference per pixel
    * ("motion"), gate = `motion ≥ minMotion` with at least two frames.
    * Static clips (every frame identical — frozen encoders, slideshow
    * padding) and single-frame containers fail; moving content passes.
    * The absolute-difference sum is an exact integer fold over decoded
    * pixels, so a SQL oracle replays motion at 4 dp from the synthesis
    * arithmetic. Corrupt payloads → `decoded=false`, gate false.
    */
  def videoQuality(media: DataFrame, minMotion: Double = 1.0): Dataset[VideoQualityRow] =
    decode(media, VideoQualityRow(_, decoded = false, 0L, 0.0,
        quality_ok = false)) { () =>
      val open = gifOpener()
      (id, bytes) => {
        val reader = open(bytes)
        val n = reader.getNumImages(true)
        var diff = 0L
        var px = 0L
        var prev: BufferedImage = null
        var f = 0
        while (f < n) {
          val img = reader.read(f)
          if (prev != null) {
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val a = (img.getRGB(x, y) >> 16) & 0xff
                val b = (prev.getRGB(x, y) >> 16) & 0xff
                diff += math.abs(a - b).toLong
                x += 1
              }
              y += 1
            }
            px += img.getWidth.toLong * img.getHeight
          }
          prev = img
          f += 1
        }
        val motion = if (px > 0) round4(diff.toDouble / px) else 0.0
        VideoQualityRow(id, decoded = true, n.toLong, motion,
          quality_ok = n >= 2 && motion >= minMotion)
      }
    }

  /** REAL multi-frame container decode: frame count + first-frame
    * dimensions from the actual GIF bytes (`ImageReader.getNumImages`
    * walks the container directory). Corrupt/null payloads →
    * `decoded=false`, zeroed stats.
    */
  def decodeVideoMeta(media: DataFrame): Dataset[VideoMeta] =
    decode(media, VideoMeta(_, 0, 0, 0, decoded = false)) { () =>
      val open = gifOpener()
      (id, bytes) => {
        val reader = open(bytes)
        val n = reader.getNumImages(true)
        VideoMeta(id, n, reader.getWidth(0), reader.getHeight(0), decoded = true)
      }
    }

  /** MP4/ISO-BMFF CONTAINER metadata (ISO/IEC 14496-12 §4.2 box
    * structure): major brand from `ftyp`, movie timescale + duration
    * from `moov`/`mvhd` (both the 32-bit v0 and 64-bit v1 layouts),
    * track count and per-handler split from `moov`/`trak`/`mdia`/`hdlr`.
    */
  case class Mp4Meta(media_id: Long, major_brand: String, timescale: Long,
                     duration_units: Long, duration_s: Double, n_tracks: Int,
                     n_video_tracks: Int, n_audio_tracks: Int,
                     decoded: Boolean)

  /** Big-endian unsigned 32-bit and 64-bit reads at `b(i)`. */
  private def beU32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def beU64(b: Array[Byte], i: Int): Long =
    (beU32(b, i) << 32) | beU32(b, i + 4)

  /** The child boxes of `b[from, to)` as (type, payloadStart, payloadEnd)
    * — one pass of the ISO-BMFF size/type walk. Handles the three size
    * encodings (plain 32-bit, `size==1` + 64-bit largesize, `size==0` =
    * extends to the parent's end) and throws on any malformed size
    * (truncated header, overrun, size < 8) — the caller's poison-file
    * boundary.
    */
  private def mp4Children(b: Array[Byte], from: Int, to: Int)
      : List[(String, Int, Int)] = {
    val out = List.newBuilder[(String, Int, Int)]
    var i = from
    while (i < to) {
      if (i + 8 > to) throw new IllegalArgumentException("truncated box header")
      val sz = beU32(b, i)
      val tp = new String(b, i + 4, 4, "US-ASCII")
      val (payloadStart, end: Long) =
        if (sz == 1L) {
          if (i + 16 > to) throw new IllegalArgumentException("truncated largesize")
          (i + 16, i + beU64(b, i + 8))
        } else if (sz == 0L) (i + 8, to.toLong)
        else (i + 8, i + sz)
      if (end > to || end < payloadStart)
        throw new IllegalArgumentException(s"bad box size $sz at offset $i")
      out += ((tp, payloadStart, end.toInt))
      i = end.toInt
    }
    out.result()
  }

  /** MP4 container-metadata decode WITHOUT a codec — a pure byte-walk of
    * the box structure in the same `mapPartitions` decode shape as every
    * other modality, so a codec binding would only add a frame decoder.
    * Requires `ftyp`, `moov`/`mvhd` (v0 or v1), and counts `trak` boxes
    * by their `mdia`/`hdlr` handler (`vide`/`soun`). Corrupt, truncated,
    * or non-BMFF payloads → `decoded=false`, zeroed stats.
    *
    * FRAGMENTED MP4 (streaming-era files, ISO/IEC 14496-12 §8.8): when
    * `mvhd.duration == 0` the true duration lives in the fragments, so
    * the walk sums every `moof`/`traf` run — per-sample `trun` durations
    * when flag 0x100 is set (stepping the full per-sample stride), else
    * `sample_count × tfhd.default_sample_duration`, else the
    * `moov`/`mvex`/`trex` default for the traf's track_ID (§8.8.3
    * precedence, trun > tfhd > trex). Codec-free approximation,
    * documented: fragment durations are in the TRACK's media timescale
    * (`mdhd`), which the synthesized fixtures and the common
    * single-video-track case keep equal to the movie timescale; a
    * multi-timescale file would need the `trak`-level walk extended to
    * `mdia`/`mdhd`. A traf with no duration source anywhere is malformed
    * → the poison posture.
    */
  def decodeMp4Meta(media: DataFrame): Dataset[Mp4Meta] =
    decode(media, Mp4Meta(_, "", 0L, 0L, 0.0, 0, 0, 0, decoded = false)) { () => (id, b) =>
      val top = mp4Children(b, 0, b.length)
      val brand = top.collectFirst {
        case ("ftyp", s, e) if e - s >= 4 => new String(b, s, 4, "US-ASCII")
      }.getOrElse(throw new IllegalArgumentException("no ftyp"))
      val (moovS, moovE) = top.collectFirst { case ("moov", s, e) => (s, e) }
        .getOrElse(throw new IllegalArgumentException("no moov"))
      val kids = mp4Children(b, moovS, moovE)
      val (ts, du) = kids.collectFirst { case ("mvhd", s, e) =>
        val v = b(s) & 0xff
        if (v == 1) {
          if (s + 32 > e) throw new IllegalArgumentException("short mvhd v1")
          (beU32(b, s + 20), beU64(b, s + 24))
        } else {
          if (s + 20 > e) throw new IllegalArgumentException("short mvhd")
          (beU32(b, s + 12), beU32(b, s + 16))
        }
      }.getOrElse(throw new IllegalArgumentException("no mvhd"))
      if (ts <= 0) throw new IllegalArgumentException("zero timescale")
      // trex defaults per track_ID (moov/mvex/trex) — consulted only
      // when a fragment's tfhd carries no default_sample_duration
      val trexDefaults: Map[Long, Long] = kids.collect {
        case ("mvex", ms, me) => mp4Children(b, ms, me).collect {
          case ("trex", xs, xe) if xe - xs >= 24 =>
            beU32(b, xs + 4) -> beU32(b, xs + 12)
        }
      }.flatten.toMap
      // fMP4: an empty movie-level duration defers to the fragments
      val effDu = if (du != 0L) du else top.collect {
        case ("moof", ms, me) => mp4Children(b, ms, me).collect {
          case ("traf", fs, fe) =>
            val traf = mp4Children(b, fs, fe)
            val (trackId, tfhdDefault) = traf.collectFirst {
              case ("tfhd", hs, he) =>
                if (hs + 8 > he)
                  throw new IllegalArgumentException("short tfhd")
                val flags = beU32(b, hs) & 0xffffffL
                val tid = beU32(b, hs + 4)
                var o = hs + 8
                if ((flags & 0x1) != 0) o += 8  // base_data_offset
                if ((flags & 0x2) != 0) o += 4  // sample_descr_index
                val d =
                  if ((flags & 0x8) == 0) None
                  else if (o + 4 > he)
                    throw new IllegalArgumentException("short tfhd fields")
                  else Some(beU32(b, o))
                (tid, d)
            }.getOrElse(
              throw new IllegalArgumentException("traf without tfhd"))
            val default = tfhdDefault.orElse(trexDefaults.get(trackId))
            traf.collect { case ("trun", rs, re) =>
              if (rs + 8 > re)
                throw new IllegalArgumentException("short trun")
              val flags = beU32(b, rs) & 0xffffffL
              val n = beU32(b, rs + 4)
              var o = rs + 8
              if ((flags & 0x1) != 0) o += 4    // data_offset
              if ((flags & 0x4) != 0) o += 4    // first_sample_flags
              if ((flags & 0x100) != 0) {
                // per-sample durations: step the FULL per-sample
                // stride (duration + any size/flags/cts fields)
                val stride = 4 +
                  (if ((flags & 0x200) != 0) 4 else 0) +
                  (if ((flags & 0x400) != 0) 4 else 0) +
                  (if ((flags & 0x800) != 0) 4 else 0)
                if (o + n * stride > re)
                  throw new IllegalArgumentException("short trun samples")
                (0L until n).map(k => beU32(b, o + (k * stride).toInt)).sum
              } else n * default.getOrElse(throw
                new IllegalArgumentException("trun without any duration"))
            }.sum
        }.sum
      }.sum
      val traks = kids.filter(_._1 == "trak")
      var nVideo = 0
      var nAudio = 0
      traks.foreach { case (_, s, e) =>
        for {
          (_, ms, me) <- mp4Children(b, s, e).find(_._1 == "mdia")
          (_, hs, he) <- mp4Children(b, ms, me).find(_._1 == "hdlr")
          if he - hs >= 12
        } new String(b, hs + 8, 4, "US-ASCII") match {
          case "vide" => nVideo += 1
          case "soun" => nAudio += 1
          case _ => ()
        }
      }
      Mp4Meta(id, brand, ts, effDu, effDu.toDouble / ts,
        traks.size, nVideo, nAudio, decoded = true)
    }

  /** Minimal-but-real ISO-BMFF fixtures from id arithmetic: `ftyp(isom)`
    * + a `free` decoy + `moov(mvhd + trak* + udta decoy)` + `mdat`.
    * Movie duration = (id%9+1)×500 units at timescale 1000; 1 + id%3
    * tracks with handlers [vide, soun, vide]; id%7==3 writes the 64-bit
    * mvhd v1 layout (same values — the parse must agree); id%11==0 is
    * the poison class (a box whose declared size overruns the payload).
    *
    * id%13==6 (non-poison) is the FRAGMENTED class: `mvhd.duration = 0`,
    * `moov` gains `mvex/trex` (track 1, default duration 150), and 2–3
    * `moof`+`mdat` pairs follow, exercising every §8.8 duration source:
    * moof 1's trun carries PER-SAMPLE durations 200+50k (with sizes, so
    * the stride is 8) under a DECOY tfhd default of 999 that must lose to
    * them; moof 2 uses `sample_count × tfhd default` (200×(1+id%3) units,
    * 3+id%3 samples); moof 3 (id%2==1 only) has a default-less tfhd so
    * the trex 150 must apply. duration_units =
    * 450 + (id%2)·600 + (3+id%3)·200·(1+id%3) — every term replayable.
    */
  def synthesizeMp4s(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(ids, idCol, "video/mp4")(() => mp4Fixture)

  private def mp4Fixture(id: Long): Array[Byte] = {
    def box(tp: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(tp.getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    if (id % 11 == 0) {
      // declared size 4096 over a 16-byte payload: the walk overruns
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putInt(4096).put("moov".getBytes("US-ASCII")).putLong(id)
      bb.array()
    } else {
      val timescale = 1000
      val frag = id % 13 == 6
      val dur = if (frag) 0L else ((id % 9) + 1) * 500
      val mvhd =
        if (id % 7 == 3) {
          val bb = java.nio.ByteBuffer.allocate(112)
          bb.putInt(0x01000000)            // version 1, flags 0
            .putLong(0L).putLong(0L)       // creation, modification
            .putInt(timescale).putLong(dur)
          box("mvhd", bb.array())          // trailing 80 bytes zeroed
        } else {
          val bb = java.nio.ByteBuffer.allocate(100)
          bb.putInt(0).putInt(0).putInt(0) // v0, creation, modification
            .putInt(timescale).putInt(dur.toInt)
          box("mvhd", bb.array())
        }
      def trak(handler: String): Array[Byte] = {
        val bb = java.nio.ByteBuffer.allocate(25)
        bb.putInt(0).putInt(0)             // version/flags, pre_defined
          .put(handler.getBytes("US-ASCII")) // then 12+1 zeroed bytes
        box("trak", box("mdia", box("hdlr", bb.array())))
      }
      val handlers = Seq("vide", "soun", "vide").take(1 + (id % 3).toInt)
      val mvex = if (!frag) Array.emptyByteArray else {
        val bb = java.nio.ByteBuffer.allocate(24)
        bb.putInt(0)           // version/flags
          .putInt(1)           // track_ID
          .putInt(1)           // default_sample_description_index
          .putInt(150)         // default_sample_duration (moof 3's)
          .putInt(0).putInt(0) // default size, flags
        box("mvex", box("trex", bb.array()))
      }
      val moov = box("moov",
        mvhd ++ handlers.flatMap(trak).toArray ++ mvex ++
          box("udta", Array[Byte](1, 2, 3, 4)))
      val ftypBody = java.nio.ByteBuffer.allocate(12)
      ftypBody.put("isom".getBytes("US-ASCII")).putInt(512)
        .put("mp41".getBytes("US-ASCII"))
      val fragTail = if (!frag) Array.emptyByteArray else {
        def tfhd(flags: Int, defaultDur: Option[Int]): Array[Byte] = {
          val bb = java.nio.ByteBuffer
            .allocate(8 + (if (defaultDur.isDefined) 4 else 0))
          bb.putInt(flags).putInt(1) // version 0 + flags, track_ID 1
          defaultDur.foreach(bb.putInt)
          box("tfhd", bb.array())
        }
        // flags 0x301: data-offset + per-sample duration AND size —
        // the decode must step the 8-byte stride, not assume 4
        def trunPerSample(durs: Seq[Int]): Array[Byte] = {
          val bb = java.nio.ByteBuffer.allocate(12 + 8 * durs.length)
          bb.putInt(0x000301).putInt(durs.length).putInt(0)
          durs.zipWithIndex.foreach { case (d, k) =>
            bb.putInt(d).putInt(1000 + k) }
          box("trun", bb.array())
        }
        def trunCount(n: Int): Array[Byte] = {
          val bb = java.nio.ByteBuffer.allocate(12)
          bb.putInt(0x000001).putInt(n).putInt(0)
          box("trun", bb.array())
        }
        def moof(seq: Int, traf: Array[Byte]): Array[Byte] = {
          val bb = java.nio.ByteBuffer.allocate(8)
          bb.putInt(0).putInt(seq)
          box("moof", box("mfhd", bb.array()) ++ traf)
        }
        val n0 = 2 + (id % 2).toInt
        val ds = 200 * (1 + (id % 3).toInt)
        val n1 = 3 + (id % 3).toInt
        val m1 = moof(1, box("traf",
          tfhd(0x000008, Some(999)) ++ // decoy: per-sample durs win
            trunPerSample((0 until n0).map(k => 200 + 50 * k))))
        val m2 = moof(2, box("traf",
          tfhd(0x000008, Some(ds)) ++ trunCount(n1)))
        val m3 =
          if (id % 2 == 1)
            moof(3, box("traf", tfhd(0, None) ++ trunCount(2)))
          else Array.emptyByteArray
        m1 ++ box("mdat", Array.fill(4)(0x66.toByte)) ++
          m2 ++ box("mdat", Array.fill(4)(0x66.toByte)) ++ m3
      }
      box("ftyp", ftypBody.array()) ++
        box("free", Array[Byte](9, 9, 9, 9)) ++ moov ++
        box("mdat", Array.fill((id % 5).toInt)(0x55.toByte)) ++
        fragTail
    }
  }

  /** REAL frame sampling: every `every`-th frame of the container is
    * decoded and reduced to (dims, gray pixel sum) — the row-multiplying
    * extraction shape of a production video pipeline, run on actual
    * encoded frames. One reader per partition, reused across rows;
    * corrupt payloads contribute zero rows (callers join
    * [[decodeVideoMeta]] for the poison-file report).
    */
  def sampleVideoFrames(media: DataFrame, every: Int = 1): Dataset[VideoFrame] = {
    require(every > 0, "every must be positive")
    decodeRows(media, _ => Iterator.empty[VideoFrame]) { () =>
      val open = gifOpener()
      (id, bytes) => {
        val reader = open(bytes)
        // a strict map: the shared reader's input is reset by the next
        // row, so the frames must be read NOW
        (0 until reader.getNumImages(true) by every).map { f =>
          val img = reader.read(f)
          VideoFrame(id, f, img.getWidth, img.getHeight, redSum(img))
        }.iterator
      }
    }
  }

  /** One extracted frame as a standalone image payload. */
  case class FrameImage(media_id: Long, frame_no: Int, payload: Array[Byte],
                        media_type: String)

  /** Keyframe extraction ACROSS modalities: every `every`-th container
    * frame decoded and re-encoded as a standalone PNG payload — the
    * video → image bridge of a thumbnailing/feature pipeline. The output
    * rows feed [[decodeImageMeta]] / [[resizeImage]] / [[featureStub]]
    * unchanged (re-key `media_id` per frame first if the consumer needs
    * unique ids). PNG re-encode is lossless, so downstream image decode
    * recovers the exact frame pixels the container held. Corrupt
    * payloads contribute zero rows (pair with [[decodeVideoMeta]] for
    * the report).
    */
  def extractFrameImages(media: DataFrame, every: Int = 1): Dataset[FrameImage] = {
    require(every > 0, "every must be positive")
    decodeRows(media, _ => Iterator.empty[FrameImage]) { () =>
      val open = gifOpener()
      (id, bytes) => {
        val reader = open(bytes)
        // strict for the same shared-reader reason as sampleVideoFrames
        (0 until reader.getNumImages(true) by every).map { f =>
          val frame = reader.read(f)
          // re-encode via TYPE_INT_RGB: a palette/gray frame written
          // straight to PNG comes back TYPE_BYTE_GRAY, whose getRGB
          // applies a linear→sRGB conversion and silently shifts
          // every pixel value — RGB PNG round-trips exactly
          val rgb = new BufferedImage(frame.getWidth, frame.getHeight,
            BufferedImage.TYPE_INT_RGB)
          val gfx = rgb.createGraphics()
          try gfx.drawImage(frame, 0, 0, null) finally gfx.dispose()
          FrameImage(id, f, png(rgb), "image/png")
        }.iterator
      }
    }
  }

  /** Per-image 64-bit difference-hash, split into two 32-bit words so the
    * value never touches a BIGINT sign bit in either engine (`hash_hi` =
    * rows 4-7, `hash_lo` = rows 0-3; bit `y*8+x` within a word compares
    * pixel (x+1,y) against (x,y)). `decoded=false` rows carry zeroed
    * hashes.
    */
  case class PhashRow(media_id: Long, hash_hi: Long, hash_lo: Long,
                      decoded: Boolean)

  /** dHash grid: 9 columns × 8 rows → 8 horizontal comparisons per row ×
    * 8 rows = 64 bits. The standard perceptual-hash geometry (LAION-scale
    * image dedup uses exactly this shape).
    */
  private val dhashW = 9
  private val dhashH = 8

  /** Deterministic REAL-PNG synthesis for the perceptual-hash pipeline:
    * ids in the same FAMILY (`id / 4`) share an md5-derived pseudo-random
    * 9×8 gray base image; variants (`v = id % 4 > 0`) perturb the single
    * pixel at (v, v) by `v*3 mod 256` — a near-duplicate within a few
    * dHash bits of its siblings, while cross-family hashes are
    * independent uniform 64-bit values (no accidental pair explosions:
    * gradient-like arithmetic pixels make dHash bits near-constant, so
    * the pixel source must be a real mixer; md5 is the one both this
    * side and a SQL oracle can replay bit-for-bit). Pixel:
    * `(md5(s"${id/4}_${x}_${y}")[0] + perturbation) mod 256` in every
    * channel.
    */
  def synthesizePhashImages(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    synthesize(ids, idCol, "image/png") { () =>
      // one digest instance per partition (MessageDigest is not
      // thread-safe; digest() resets it for reuse across the batch)
      val md = java.security.MessageDigest.getInstance("MD5")
      id => {
        val family = id / 4
        val v = (id % 4).toInt
        grayPng(dhashW, dhashH) { (x, y) =>
          val base = md.digest(s"${family}_${x}_${y}".getBytes("UTF-8"))(0) & 0xff
          if (v > 0 && x == v && y == v) (base + v * 3) % 256 else base
        }
      }
    }

  /** REAL perceptual hash from encoded bytes: `javax.imageio` decode →
    * (if needed) bilinear downsample to the 9×8 dHash grid → 64 bits of
    * adjacent-pixel comparisons on the red channel. Payloads already at
    * grid size skip the resample, so a lossless source round-trips
    * bit-exactly (what the oracle relies on); arbitrary-size images take
    * the resize path like any production thumbnail pass. Corrupt/null
    * payloads → `decoded=false`, zeroed hash.
    */
  def imageDHash(media: DataFrame): Dataset[PhashRow] =
    decode(media, PhashRow(_, 0L, 0L, decoded = false)) { () => (id, bytes) =>
      val decoded0 = readImage(bytes)
      val img =
        if (decoded0.getWidth == dhashW && decoded0.getHeight == dhashH) decoded0
        else scaled(decoded0, dhashW, dhashH)
      var hi = 0L
      var lo = 0L
      var y = 0
      while (y < dhashH) {
        var x = 0
        while (x < dhashW - 1) {
          val a = (img.getRGB(x, y) >> 16) & 0xff
          val b = (img.getRGB(x + 1, y) >> 16) & 0xff
          if (b > a) {
            if (y < 4) lo |= 1L << (y * 8 + x)
            else hi |= 1L << ((y - 4) * 8 + x)
          }
          x += 1
        }
        y += 1
      }
      PhashRow(id, hi, lo, decoded = true)
    }

  /** REAL image feature vector: the red-channel intensity histogram of
    * the decoded pixels — integer counts, so the features (and anything
    * derived from them, cosine included) are exactly reproducible in any
    * engine. `decoded=false` rows carry an all-zero histogram.
    */
  case class ImageFeatureRow(media_id: Long, histogram: Array[Long],
                             decoded: Boolean)

  /** REAL feature extraction from encoded bytes (the non-stub counterpart
    * of [[featureStub]] for images): `javax.imageio` decode → `bins`-bin
    * red-channel intensity histogram. A genuine, model-free visual
    * descriptor (the classic color-histogram retrieval feature), computed
    * map-side per partition; the integer counts slot into the
    * `Similarity` operators as exact-arithmetic embeddings. A real CNN
    * embedding model changes nothing in this shape — decode + batch
    * inference in the same mapPartitions, vector column out.
    */
  def imageFeatures(media: DataFrame, bins: Int = 16): Dataset[ImageFeatureRow] = {
    require(bins > 0 && 256 % bins == 0, "bins must divide 256")
    val width = 256 / bins
    decode(media, ImageFeatureRow(_, new Array[Long](bins), decoded = false)) { () =>
      (id, bytes) =>
        val img = readImage(bytes)
        val h = new Array[Long](bins)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            h(((img.getRGB(x, y) >> 16) & 0xff) / width) += 1L
            x += 1
          }
          y += 1
        }
        ImageFeatureRow(id, h, decoded = true)
    }
  }

  case class ImageQualityRow(media_id: Long, decoded: Boolean, n_px: Long,
      mean_px: Double, contrast: Double, entropy: Double, quality_ok: Boolean)

  /** Image QUALITY gating over decoded pixels — the curation rule set for
    * the image modality (what Gopher-style rules are to text): per image,
    * red-channel mean, contrast (population stddev) and `bins`-bin
    * histogram entropy, plus the gate flag. Flat/near-flat frames (blank
    * thumbnails, solid placeholders — contrast ≈ 0, entropy ≈ 0) and
    * degenerate two-tone frames fail; natural-statistics content passes.
    * All three stats are exact functions of integer pixel sums (sum,
    * sum-of-squares, bin counts), so a SQL oracle replays them from the
    * same pixel arithmetic bit-for-bit at 4 dp. Corrupt payloads →
    * `decoded = false`, zeroed stats, gate false. Map-side only; entropy
    * folds bins in ascending order (deterministic float association).
    */
  def imageQuality(media: DataFrame, bins: Int = 16,
      minContrast: Double = 8.0, minEntropy: Double = 1.5): Dataset[ImageQualityRow] = {
    require(bins > 0 && 256 % bins == 0, "bins must divide 256")
    val width = 256 / bins
    decode(media, ImageQualityRow(_, decoded = false, 0L, 0.0, 0.0, 0.0,
        quality_ok = false)) { () => (id, bytes) =>
      val img = readImage(bytes)
      val h = new Array[Long](bins)
      var s = 0L
      var s2 = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val p = (img.getRGB(x, y) >> 16) & 0xff
          s += p; s2 += p.toLong * p; h(p / width) += 1L
          x += 1
        }
        y += 1
      }
      val n = img.getWidth.toLong * img.getHeight
      val mean = s.toDouble / n
      val contrast = math.sqrt(math.max(0.0, s2.toDouble / n - mean * mean))
      var ent = 0.0
      var b = 0
      while (b < bins) {
        if (h(b) > 0L) {
          val p = h(b).toDouble / n
          ent -= p * math.log(p)
        }
        b += 1
      }
      // + 0.0 turns the single-bin case's -0.0 into 0.0 (parquet
      // bit-compares against the oracle's +0.0)
      val (cR, eR) = (round4(contrast + 0.0), round4(ent + 0.0))
      ImageQualityRow(id, decoded = true, n, round4(mean), cR, eR,
        quality_ok = cR >= minContrast && eR >= minEntropy)
    }
  }

  /** Deterministic flat-frame synthesis (the failing class for
    * [[imageQuality]]'s gate): a constant-`gray` 9×8 PNG per id — the
    * blank-thumbnail/solid-placeholder shape a crawl curation pass drops.
    */
  def synthesizeFlatImages(ids: DataFrame, gray: Int = 128,
      idCol: String = "doc_id"): DataFrame =
    synthesize(ids, idCol, "image/png") { () => _ =>
      grayPng(dhashW, dhashH)((_, _) => gray)
    }

  /** One media embedding row — shaped exactly like the `embeddings` table
    * (`vec_id`, `embedding: Array[Float]`) so the output plugs straight
    * into the similarity/dedup operators.
    */
  case class MediaVec(vec_id: Long, embedding: Array[Float])

  /** Feature-extraction plumbing: payload → `dim`-float embedding, batch
    * per partition (a real model would load once per partition and run
    * batched inference — the Pandas-UDF batch shape in Scala). The
    * "model" is a deterministic STUB: a seeded rolling hash per dimension,
    * L2-normalized, so downstream ANN/dedup results are reproducible. The
    * output feeds [[Similarity]] unchanged — the multimodal →
    * embedding → near-dup/ANN pipeline is a composition, not a new
    * operator. Every payload embeds, a null or empty one included.
    */
  def featureStub(media: DataFrame, dim: Int): Dataset[MediaVec] =
    payloads(media).mapPartitions { it: Iterator[MediaRow] =>
      it.map { r =>
        val bytes = if (r.payload == null) Array.emptyByteArray else r.payload
        val v = new Array[Float](dim)
        var d = 0
        while (d < dim) {
          var h = 1125899906842597L ^ (d * 0x9E3779B97F4A7C15L)
          var i = 0
          while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
          v(d) = ((h % 1000003L).toFloat / 1000003f)
          d += 1
        }
        val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
        val unit = if (norm == 0) v else v.map(x => (x / norm).toFloat)
        MediaVec(r.media_id, unit)
      }
    }(Encoders.product[MediaVec])
}

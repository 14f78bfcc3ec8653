package graft
package queries

import graft.operators.{Dedup, Multimodal, Similarity, VectorIndex}
import graft.operators.Checkpoints.LineageOps
import graft.operators.VectorIndex.Ivf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryCommon._

/** Image, audio and video: perceptual hashes, features, quality gates and
  * image retrieval.
  *
  * One [[QuerySpec]] per query: the Spark body beside its DuckDB oracle.
  */
object MultimodalQueries {
  def specs(root: String): Seq[QuerySpec] = Seq(
    // Multimodal: opaque binary payload columns, decoded map-side (see
    // graft.operators.Multimodal).
    // REAL image decode round-trip (javax.imageio — no stub in this path):
    // per doc, synthesize an actual PNG whose dimensions and pixels are
    // arithmetic in doc_id, then recover width/height/pixel-sum from the
    // ENCODED BYTES via ImageIO. The oracle replays the arithmetic — so a
    // green row proves the encode→parse→pixel-access loop, not the
    // formula. byte_len/content_md5 of the payload are encoder-dependent
    // and deliberately not compared.
    QuerySpec("multimodal_meta", (s, dir) => {
      val media = Multimodal.synthesizeImages(
        t(s, dir, "documents").select("doc_id"))
      Multimodal.decodeImageMeta(media).toDF()
        .select(col("media_id").as("doc_id"), col("width"), col("height"),
          col("pixel_sum"), col("decoded"))
        .orderBy("doc_id")
    },
      // replays synthesizeImages' arithmetic: dims from doc_id, red-channel
      // sum over the w×h grid of (id·31 + x·7 + y·13) mod 256 — what Spark
      // recovers from the real encoded PNG bytes via ImageIO
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(4 + doc_id % 13 AS INT) AS width,
        |    CAST(3 + doc_id % 7 AS INT) AS height
        |  FROM documents),
        |g AS (SELECT g FROM generate_series(0, 16) t(g))
        |SELECT d.doc_id, d.width, d.height,
        |  CAST(SUM((d.doc_id * 31 + x.g * 7 + y.g * 13) % 256) AS BIGINT) AS pixel_sum,
        |  TRUE AS decoded
        |FROM dims d
        |JOIN g x ON x.g < d.width
        |JOIN g y ON y.g < d.height
        |GROUP BY 1, 2, 3 ORDER BY d.doc_id""".stripMargin),

    // REAL audio decode round-trip (javax.sound.sampled — WAV/PCM is JDK
    // stdlib, same pattern as the image leg): per doc, synthesize an
    // actual 16-bit mono WAV whose rate/length/samples are arithmetic in
    // doc_id, then recover sample rate, frame count, integer-microsecond
    // duration and the signed-sample sum from the ENCODED RIFF CONTAINER
    // BYTES. The oracle replays the arithmetic — a green row proves the
    // encode→container-parse→PCM-decode loop, not the formula. Only the
    // H.264-class video frame decode stays out of scope (no codec libs).
    QuerySpec("multimodal_audio", (s, dir) => {
      val media = Multimodal.synthesizeWavs(
        t(s, dir, "documents").select("doc_id"))
      Multimodal.decodeAudioMeta(media).toDF()
        .select(col("media_id").as("doc_id"),
          col("sample_rate").cast("bigint").as("sample_rate"),
          col("n_samples").cast("bigint").as("n_samples"),
          col("duration_us"), col("sample_sum"), col("decoded"))
        .orderBy("doc_id")
    },
      // replays synthesizeWavs' arithmetic: rate and frame count from
      // doc_id, signed-sample sum over (id·31 + i·17) mod 2048 − 1024 —
      // what Spark recovers from the real encoded WAV container bytes via
      // javax.sound.sampled; duration is integer-floor µs on both sides
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
        |    CAST(40 + doc_id % 101 AS BIGINT) AS n_samples
        |  FROM documents),
        |g AS (SELECT g FROM generate_series(0, 140) t(g))
        |SELECT p.doc_id, p.sample_rate, p.n_samples,
        |  CAST(p.n_samples * 1000000 // p.sample_rate AS BIGINT) AS duration_us,
        |  CAST(SUM((p.doc_id * 31 + g.g * 17) % 2048 - 1024) AS BIGINT) AS sample_sum,
        |  TRUE AS decoded
        |FROM p JOIN g ON g.g < p.n_samples
        |GROUP BY 1, 2, 3, 4 ORDER BY p.doc_id""".stripMargin),

    // REAL spectral analysis from encoded bytes: synthesize pure-tone
    // WAVs whose dominant frequency is arithmetic in doc_id, then RECOVER
    // that frequency from the container bytes by measuring actual DFT-bin
    // energies (Goertzel per candidate). The oracle states the ground
    // truth; a green row proves the encode→parse→PCM-decode→spectral-
    // measurement loop found it, with >=50% of candidate-set energy in
    // the winning bin (peak_ok) — detection, not argmax luck.
    QuerySpec("multimodal_audio_spectrum", (s, dir) => {
      val media = Multimodal.synthesizeToneWavs(
        t(s, dir, "documents").select("doc_id"))
      Multimodal.audioSpectrum(media).toDF()
        .select(col("media_id").as("doc_id"), col("sample_rate"),
          col("n_samples"), col("dominant_hz"), col("peak_ok"),
          col("decoded"))
        .orderBy("doc_id")
    },
      // states synthesizeToneWavs' ground truth: the tone frequency is
      // arithmetic in doc_id, and Spark must MEASURE it back from the real
      // WAV bytes via Goertzel DFT-bin energies (recall-gate convention:
      // the spectral concentration boolean is pinned TRUE; any detection
      // miss or diffuse spectrum breaks the row)
      """SELECT doc_id,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(400 AS BIGINT) AS n_samples,
        |  CAST(CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN 500 WHEN 1 THEN 1000 WHEN 2 THEN 2000
        |    ELSE 2500 END AS BIGINT) AS dominant_hz,
        |  TRUE AS peak_ok, TRUE AS decoded
        |FROM documents ORDER BY doc_id""".stripMargin),

    // REAL video-container decode round-trip (animated GIF — the one
    // multi-frame format the JDK encodes AND decodes; MP4-class codecs
    // stay documented out-of-scope): per doc synthesize an actual
    // animation whose frame count/dims/pixels are arithmetic in doc_id
    // over a lossless 256-gray palette, then SAMPLE every 2nd frame from
    // the ENCODED CONTAINER BYTES — real frame extraction, the
    // row-multiplying shape of a production video pipeline. The oracle
    // replays the arithmetic over (doc, frame, x, y); green proves the
    // encode→container-walk→frame-decode loop.
    QuerySpec("multimodal_video", (s, dir) => {
      val media = Multimodal.synthesizeGifs(
        t(s, dir, "documents").select("doc_id"))
      Multimodal.sampleVideoFrames(media, every = 2).toDF()
        .select(col("media_id").as("doc_id"),
          col("frame_no").cast("bigint").as("frame_no"),
          col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"),
          col("pixel_sum"))
        .orderBy(col("doc_id"), col("frame_no"))
    },
      // replays synthesizeGifs' arithmetic: dims and frame count from
      // doc_id, every-2nd frame, gray sum over the w×h grid of
      // (id·31 + x·7 + y·13 + f·101) mod 256 — what Spark recovers from
      // the real encoded GIF container via ImageIO frame reads
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(4 + doc_id % 9 AS BIGINT) AS width,
        |    CAST(3 + doc_id % 5 AS BIGINT) AS height,
        |    CAST(2 + doc_id % 5 AS BIGINT) AS n_frames
        |  FROM documents),
        |g AS (SELECT g FROM generate_series(0, 12) t(g)),
        |fr AS (SELECT p.*, f.g AS frame_no FROM p
        |       JOIN g f ON f.g < p.n_frames AND f.g % 2 = 0)
        |SELECT fr.doc_id, fr.frame_no, fr.width, fr.height,
        |  CAST(SUM((fr.doc_id * 31 + x.g * 7 + y.g * 13 + fr.frame_no * 101) % 256)
        |    AS BIGINT) AS pixel_sum
        |FROM fr
        |JOIN g x ON x.g < fr.width
        |JOIN g y ON y.g < fr.height
        |GROUP BY 1, 2, 3, 4 ORDER BY fr.doc_id, fr.frame_no""".stripMargin),

    // REAL perceptual hash from encoded bytes: synthesize md5-pixel 9x8
    // PNGs (ids in one family of 4 share a base image; variants perturb
    // one pixel), decode and dHash them — 64 bits of adjacent-pixel
    // comparisons carried as two 32-bit words. The oracle replays the
    // md5 pixel arithmetic and re-derives every bit in SQL; green proves
    // the encode→decode→hash loop recovers the ground truth from actual
    // PNG bytes.
    QuerySpec("multimodal_phash", (s, dir) => {
      val media = Multimodal.synthesizePhashImages(
        t(s, dir, "documents").select("doc_id"))
      Multimodal.imageDHash(media).toDF()
        .select(col("media_id").as("doc_id"), col("hash_hi"),
          col("hash_lo"), col("decoded"))
        .orderBy(col("doc_id"))
    },
      // replays synthesizePhashImages' md5 pixel arithmetic and re-derives
      // every dHash bit in SQL: pixel = (first md5 byte of "family_x_y" +
      // single-pixel variant perturbation) mod 256; bit y*8+x compares
      // (x+1,y) > (x,y); rows 0-3 -> hash_lo, rows 4-7 -> hash_hi (32-bit
      // words, no sign-bit traps). What Spark recovers from the real
      // encoded PNG bytes via ImageIO.
      (phashSigsSql +
      """
        |SELECT doc_id, hash_hi, hash_lo, TRUE AS decoded
        |FROM sigs ORDER BY doc_id""".stripMargin)),

    // Image near-dup pairs at hamming <= 3 over the perceptual hashes —
    // the LAION-shape image-dedup join, banded with the same pigeonhole
    // completeness proof as dedup_simhash_pairs (4 bands > 3 differing
    // bits ⇒ every qualifying pair shares a band). The oracle recomputes
    // ALL pairs brute-force from the replayed hashes — an equality check
    // on the banding, not a recall gate. Multimodal decode feeding the
    // dedup family end-to-end.
    QuerySpec("dedup_phash_pairs", (s, dir) => {
      val media = Multimodal.synthesizePhashImages(
        t(s, dir, "documents").select("doc_id"))
      val sigs = Multimodal.imageDHash(media).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
      Dedup.hammingPairsHiLo(sigs, maxHamming = 3, bands = 4)
        .orderBy("doc_a", "doc_b")
    },
      // Brute-force ALL image pairs at hamming <= 3 from the same replayed
      // hashes — the pigeonhole guarantee means the banded Spark path must
      // produce exactly this set (equality, not recall).
      phashPairsOracle),

    // REAL image feature extraction from encoded bytes: 16-bin
    // red-channel intensity histogram of the decoded pixels — integer
    // counts, the classic model-free retrieval descriptor. The oracle
    // re-bins the md5 pixel arithmetic; green proves decode recovers
    // every pixel of every image.
    // The image curation pipeline END-TO-END, in production order:
    // decode → quality gate → near-dup clusters over the SURVIVORS →
    // keepers. Gating before dedup is the load-bearing order at 100 TB
    // (the failing class here is identical flat frames — ungated they
    // would form one giant spurious cluster; gated they never reach the
    // banded join). Output: every doc with its gate verdict, its cluster
    // assignment if it survived, and the final kept flag.
    QuerySpec("pipeline_multimodal", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      // cut the synthesized media ONCE (r17): it feeds TWO decode passes
      // (quality gate + dHash), and without the cut the md5-pixel + PNG
      // encode synthesis ran once per consumer; the payload frame is a few
      // KB/row, far cheaper to hold than to recompute
      val media = Multimodal.synthesizePhashImages(
          docs.filter(col("doc_id") % 5 =!= 0))
        .unionByName(Multimodal.synthesizeFlatImages(
          docs.filter(col("doc_id") % 5 === 0)))
        .cutLineage()
      val quality = Multimodal.imageQuality(media).toDF()
        .select(col("media_id").as("doc_id"),
          (col("decoded") && col("quality_ok")).as("quality_ok"))
        .localCheckpoint() // decode once; blocks reclaim on reference drop
      val passing = quality.filter(col("quality_ok")).select("doc_id")
      val sigs = Multimodal.imageDHash(media).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
        .join(passing, Seq("doc_id"))
      val pairs = Dedup.hammingPairsHiLo(sigs, maxHamming = 3, bands = 4)
      val assigned = Dedup.clusterAssignments(passing, "doc_id", pairs)
      val keeper = coalesce(col("is_keeper"), lit(false))
      docs.join(quality, Seq("doc_id"), "left")
        .join(assigned, Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality_ok"), col("cluster_id"),
          col("cluster_size"), keeper.as("is_keeper"),
          (col("quality_ok") && keeper).as("kept"))
        .orderBy(col("doc_id"))
    },
      // re-bins the replayed pixels: bin = p // 16, count per (doc, bin),
      // zero bins materialized — what Spark recovers by decoding every
      // pixel of the real PNG bytes
      // gate → survivor pairs → recursive-CTE closure → keepers, all
      // replayed from the md5 pixel arithmetic; flat docs (% 5 = 0) fail
      // the gate by construction and never enter the pair set
      ("WITH RECURSIVE " +
      phashSigsSql.stripPrefix("WITH ") +
      """,
        |gstats AS (
        |  SELECT doc_id, sum(p) AS s, sum(p * p) AS s2
        |  FROM px WHERE doc_id % 5 <> 0 GROUP BY doc_id),
        |ghist AS (
        |  SELECT doc_id, p // 16 AS bin, count(*) AS k
        |  FROM px WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
        |gent AS (
        |  SELECT doc_id, -sum((k / 72.0) * ln(k / 72.0)) AS e
        |  FROM ghist GROUP BY doc_id),
        |gate AS (
        |  SELECT gstats.doc_id,
        |    (round(sqrt(s2 / 72.0 - (s / 72.0) * (s / 72.0)), 4) >= 8.0
        |     AND round(e, 4) >= 1.5) AS ok
        |  FROM gstats JOIN gent USING (doc_id)),
        |pass AS (SELECT doc_id FROM gate WHERE ok),
        |psigs AS (SELECT s.* FROM sigs s JOIN pass USING (doc_id)),
        |ppairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM psigs a JOIN psigs b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hash_hi, b.hash_hi)) +
        |        bit_count(xor(a.hash_lo, b.hash_lo)) <= 3),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM ppairs
        |  UNION ALL SELECT doc_b, doc_a FROM ppairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |lab AS (
        |  SELECT p.doc_id, coalesce(l.cluster_id, p.doc_id) AS cluster_id
        |  FROM pass p LEFT JOIN labels l USING (doc_id)),
        |csizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(g.ok, false) AS quality_ok,
        |  lab.cluster_id,
        |  CAST(csizes.cluster_size AS BIGINT) AS cluster_size,
        |  coalesce(lab.doc_id = lab.cluster_id, false) AS is_keeper,
        |  (coalesce(g.ok, false) AND coalesce(lab.doc_id = lab.cluster_id, false)) AS kept
        |FROM documents d
        |LEFT JOIN gate g ON g.doc_id = d.doc_id
        |LEFT JOIN lab ON lab.doc_id = d.doc_id
        |LEFT JOIN csizes ON csizes.cluster_id = lab.cluster_id
        |ORDER BY d.doc_id""".stripMargin)),

    // Video QUALITY curation gate over REAL decoded frames — mean
    // absolute inter-frame motion per pixel; static clips (doc_id % 5 =
    // 0 drops the frame term, every frame identical) fail, moving
    // content passes. Completes the per-modality curation quartet
    // (Gopher rules : text :: contrast/entropy : image :: RMS/clip :
    // audio :: motion : video), every gate over real decodes with an
    // exact arithmetic oracle.
    // Threshold is DERIVED FROM THE DATA, not a planted constant: the
    // motion floor is the 10th-percentile cut over the decoded corpus
    // (exact interpolated percentile — DuckDB replays it as
    // quantile_cont), broadcast back as a one-row frame. The planted
    // static class (20% of docs, motion exactly 0) pins the cut at 0
    // deterministically in both engines, so the gate transfers to a real
    // corpus without retuning while staying hash-exact here.
    QuerySpec("multimodal_video_quality", (s, dir) => {
      val media = Multimodal.synthesizeQualityGifs(
        t(s, dir, "documents").select("doc_id"))
      val st = Multimodal.videoQuality(media).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("n_frames"), col("motion"))
        // localCheckpoint, not persist: threshold agg + output pass share
        // one decode, and the blocks reclaim when the frame's reference
        // drops (a persist here leaked cached decode blocks across the
        // bench run unless the caller clearCache'd)
        .localCheckpoint()
      val thr = st.agg(expr("percentile(motion, 0.10)").as("thr_m"))
      st.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("n_frames"), col("motion"),
          (col("n_frames") >= 2 && col("motion") > col("thr_m")).as("quality_ok"))
        .orderBy("doc_id")
    },
      // motion replayed from the per-class frame arithmetic: the absolute
      // inter-frame difference of the synthesis formula, summed exactly
      // over bounded series + inequality joins on (x, y, f)
      """WITH dims AS (
        |  SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 5 AS h,
        |    2 + doc_id % 5 AS nf
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id, d.nf,
        |    abs(CAST((d.doc_id * 31 + xs.x * 7 + ys.y * 13 +
        |          CASE WHEN d.doc_id % 5 = 0 THEN 0 ELSE fs.f * 101 END) % 256 AS BIGINT)
        |      - CAST((d.doc_id * 31 + xs.x * 7 + ys.y * 13 +
        |          CASE WHEN d.doc_id % 5 = 0 THEN 0 ELSE (fs.f - 1) * 101 END) % 256 AS BIGINT)) AS ad
        |  FROM dims d
        |  JOIN generate_series(0, 12) xs(x) ON xs.x < d.w
        |  JOIN generate_series(0, 7) ys(y) ON ys.y < d.h
        |  JOIN generate_series(1, 6) fs(f) ON fs.f < d.nf),
        |st AS (
        |  SELECT doc_id, max(nf) AS nf, sum(ad) AS diff, count(*) AS npx
        |  FROM px GROUP BY doc_id),
        |q AS (
        |  SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        |    round(diff * 1.0 / npx, 4) AS motion
        |  FROM st)
        |SELECT doc_id, n_frames, motion,
        |  (n_frames >= 2 AND motion > (SELECT quantile_cont(motion, 0.10) FROM q))
        |    AS quality_ok
        |FROM q ORDER BY doc_id""".stripMargin),

    // MP4/ISO-BMFF CONTAINER metadata without a codec
    // (Multimodal.decodeMp4Meta): a pure byte-walk of the box structure —
    // ftyp brand, mvhd timescale/duration (the id%7==3 class writes the
    // 64-bit v1 layout and must parse to the same values), trak count
    // split by mdia/hdlr handler — in the same mapPartitions decode shape
    // as every modality, gated on duration + having a video track. The
    // id%11==0 poison class declares a box size overrunning the payload
    // and must land decoded=false with zeroed stats, never a crash.
    // The id%13==6 class is FRAGMENTED (mvhd.duration 0, moof/traf/trun
    // fragments — the streaming-era layout where a movie-level read
    // reports 0 s and wrongly fails the gate): the walk must sum the
    // fragment runs under §8.8 precedence (per-sample trun durations over
    // a decoy tfhd default; tfhd defaults; the mvex/trex default for the
    // default-less traf) to report the true duration and PASS the gate.
    QuerySpec("multimodal_video_meta", (s, dir) => {
      val media = Multimodal.synthesizeMp4s(
        t(s, dir, "documents").select("doc_id"))
      Multimodal.decodeMp4Meta(media).toDF()
        .select(col("media_id").as("doc_id"), col("major_brand"),
          col("timescale"), col("duration_units"), col("duration_s"),
          col("n_tracks").cast("long").as("n_tracks"),
          col("n_video_tracks").cast("long").as("n_video_tracks"),
          col("n_audio_tracks").cast("long").as("n_audio_tracks"),
          col("decoded"),
          (col("decoded") && col("n_video_tracks") >= 1 &&
            col("duration_s") >= 1.0).as("quality_ok"))
        .orderBy(col("doc_id"))
    },
      // the container arithmetic ideal: every box value is a function of
      // doc_id, so the replay states brand/timescale/duration/track-split
      // directly — the byte-walk must erase the v1-layout, poison, AND
      // fragmented classes to match. Non-frag durations are k×500/1000 =
      // exact binary halves; frag durations replay the moof sum
      // 450 + (id%2)·600 + (3+id%3)·200·(1+id%3), divided by 1000.0 in
      // both engines (same IEEE operands ⇒ same double).
      """SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 0 THEN '' ELSE 'isom' END AS major_brand,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN 0 ELSE 1000 END AS BIGINT) AS timescale,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN 0
        |       WHEN doc_id % 13 = 6 THEN
        |         450 + (doc_id % 2) * 600 + (3 + doc_id % 3) * 200 * (1 + doc_id % 3)
        |       ELSE (doc_id % 9 + 1) * 500 END AS BIGINT) AS duration_units,
        |  CASE WHEN doc_id % 11 = 0 THEN 0.0
        |       WHEN doc_id % 13 = 6 THEN
        |         (450 + (doc_id % 2) * 600 + (3 + doc_id % 3) * 200 * (1 + doc_id % 3)) / 1000.0
        |       ELSE (doc_id % 9 + 1) * 0.5 END AS duration_s,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN 0
        |       ELSE 1 + doc_id % 3 END AS BIGINT) AS n_tracks,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN 0
        |       WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END AS BIGINT) AS n_video_tracks,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN 0
        |       WHEN doc_id % 3 >= 1 THEN 1 ELSE 0 END AS BIGINT) AS n_audio_tracks,
        |  doc_id % 11 <> 0 AS decoded,
        |  (doc_id % 11 <> 0 AND (doc_id % 9 >= 1 OR doc_id % 13 = 6)) AS quality_ok
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Audio QUALITY curation gate over REAL decoded PCM — silence (RMS
    // floor) and saturation (clip-ratio cap) drop, healthy takes pass.
    // Mixed-class fixture by doc_id % 5: 0 → dead air, 1 → full-scale
    // alternation, else integer-mixer noise; every class's samples are
    // integer arithmetic, so DuckDB replays peak/RMS/ratio exactly.
    // Both cuts percentile-derived like the video gate: RMS floor at the
    // 10th percentile (dead air — 20% of docs at exactly 0 — pins it at
    // 0), clip-ratio cap at the 90th (full-scale alternation — 20% at
    // exactly 1 — pins it at 1); strict comparisons drop the pinned
    // classes in both engines.
    QuerySpec("multimodal_audio_quality", (s, dir) => {
      val media = Multimodal.synthesizeQualityWavs(
        t(s, dir, "documents").select("doc_id"))
      val st = Multimodal.audioQuality(media).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("n_samples"), col("peak"),
          col("rms"), col("clip_ratio"))
        .localCheckpoint() // decode once; blocks reclaim on reference drop
      val thr = st.agg(expr("percentile(rms, 0.10)").as("thr_r"),
        expr("percentile(clip_ratio, 0.90)").as("thr_c"))
      st.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("n_samples"), col("peak"), col("rms"),
          col("clip_ratio"),
          (col("rms") > col("thr_r") && col("clip_ratio") < col("thr_c"))
            .as("quality_ok"))
        .orderBy("doc_id")
    },
      // peak / RMS / clip-ratio replayed from the per-class sample
      // arithmetic (bounded series + inequality join for the per-doc
      // length; all sums exact integer folds)
      """WITH lens AS (SELECT doc_id, 40 + doc_id % 101 AS n FROM documents),
        |samp AS (
        |  SELECT l.doc_id, l.n,
        |    CASE CAST(l.doc_id % 5 AS INT)
        |      WHEN 0 THEN 0
        |      WHEN 1 THEN CASE WHEN t.i % 2 = 0 THEN 32767 ELSE -32768 END
        |      ELSE ((l.doc_id * 31 + t.i * 17) % 2048) - 1024 END AS s
        |  FROM lens l JOIN generate_series(0, 140) t(i) ON t.i < l.n),
        |st AS (
        |  SELECT doc_id, max(n) AS n, max(abs(s)) AS peak, sum(s * s) AS s2,
        |    sum(CASE WHEN abs(s) >= 32000 THEN 1 ELSE 0 END) AS clipped
        |  FROM samp GROUP BY doc_id),
        |q AS (
        |  SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |    CAST(peak AS BIGINT) AS peak,
        |    round(sqrt(s2 * 1.0 / n), 4) AS rms,
        |    round(clipped * 1.0 / n, 4) AS clip_ratio
        |  FROM st)
        |SELECT doc_id, n_samples, peak, rms, clip_ratio,
        |  (rms > (SELECT quantile_cont(rms, 0.10) FROM q)
        |   AND clip_ratio < (SELECT quantile_cont(clip_ratio, 0.90) FROM q))
        |    AS quality_ok
        |FROM q ORDER BY doc_id""".stripMargin),

    // Image QUALITY curation gate over REAL decoded pixels — the image
    // modality's Gopher rules: mean / contrast (population stddev) /
    // histogram entropy per image, gated at percentile cuts derived from
    // the decoded corpus itself.
    // Fixture plants both classes: md5-noise frames (pass) and flat
    // placeholder frames (doc_id % 5 = 0 — contrast 0, entropy 0, fail).
    // All stats are exact functions of integer pixel sums, so DuckDB
    // replays them from the md5 pixel arithmetic at 4 dp.
    QuerySpec("multimodal_quality", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val media = Multimodal.synthesizePhashImages(
          docs.filter(col("doc_id") % 5 =!= 0))
        .unionByName(Multimodal.synthesizeFlatImages(
          docs.filter(col("doc_id") % 5 === 0)))
      // contrast/entropy floors at the 10th percentile over the decoded
      // corpus (the flat class — 20% at exactly 0/0 — pins both cuts at
      // 0), same data-derived posture as the audio/video gates
      val st = Multimodal.imageQuality(media, bins = 16).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("n_px"), col("mean_px"),
          col("contrast"), col("entropy"))
        .localCheckpoint() // decode once; blocks reclaim on reference drop
      val thr = st.agg(expr("percentile(contrast, 0.10)").as("thr_c"),
        expr("percentile(entropy, 0.10)").as("thr_e"))
      st.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("n_px"), col("mean_px"), col("contrast"),
          col("entropy"),
          (col("contrast") > col("thr_c") && col("entropy") > col("thr_e"))
            .as("quality_ok"))
        .orderBy("doc_id")
    },
      // mean / contrast / entropy replayed from the md5 pixel arithmetic
      // for the noise class (integer sums → exact float replay at 4 dp);
      // the flat class (doc_id % 5 = 0) is constants by construction
      (phashPxSql +
      """,
        |stats AS (
        |  SELECT doc_id, count(*) AS n, sum(p) AS s, sum(p * p) AS s2
        |  FROM px WHERE doc_id % 5 <> 0 GROUP BY doc_id),
        |hist AS (
        |  SELECT doc_id, p // 16 AS bin, count(*) AS k
        |  FROM px WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
        |ent AS (
        |  SELECT doc_id, -sum((k / 72.0) * ln(k / 72.0)) AS e
        |  FROM hist GROUP BY doc_id),
        |noise AS (
        |  SELECT stats.doc_id, 72 AS n_px,
        |    round(s / 72.0, 4) AS mean_px,
        |    round(sqrt(s2 / 72.0 - (s / 72.0) * (s / 72.0)), 4) AS contrast,
        |    round(e, 4) AS entropy
        |  FROM stats JOIN ent USING (doc_id)),
        |flat AS (
        |  SELECT doc_id, 72 AS n_px, 128.0 AS mean_px, 0.0 AS contrast,
        |    0.0 AS entropy
        |  FROM documents WHERE doc_id % 5 = 0),
        |q AS (SELECT * FROM noise UNION ALL SELECT * FROM flat)
        |SELECT doc_id, CAST(n_px AS BIGINT) AS n_px, mean_px, contrast,
        |  entropy,
        |  (contrast > (SELECT quantile_cont(contrast, 0.10) FROM q)
        |   AND entropy > (SELECT quantile_cont(entropy, 0.10) FROM q))
        |    AS quality_ok
        |FROM q ORDER BY doc_id""".stripMargin)),

    QuerySpec("multimodal_features", (s, dir) => {
      val media = Multimodal.synthesizePhashImages(
        t(s, dir, "documents").select("doc_id"))
      Multimodal.imageFeatures(media, bins = 16).toDF()
        .select(col("media_id").as("doc_id"),
          posexplode(col("histogram")).as(Seq("bin", "n")))
        .select(col("doc_id"), col("bin").cast("bigint").as("bin"), col("n"))
        .orderBy(col("doc_id"), col("bin"))
    }, (phashPxSql +
      """,
        |hist AS (SELECT doc_id, p // 16 AS bin, count(*) AS n FROM px GROUP BY 1, 2),
        |bins AS (SELECT b FROM generate_series(0, 15) t(b))
        |SELECT d.doc_id, CAST(b.b AS BIGINT) AS bin,
        |  CAST(coalesce(h.n, 0) AS BIGINT) AS n
        |FROM documents d CROSS JOIN bins b
        |LEFT JOIN hist h ON h.doc_id = d.doc_id AND h.bin = b.b
        |ORDER BY d.doc_id, bin""".stripMargin)),

    // Image similarity search over the REAL extracted features: cosine
    // top-5 neighbors per query image (doc_id < 10) on the histogram
    // vectors — decode → feature-extract → ANN, the multimodal retrieval
    // composition with every stage oracled (integer histograms make the
    // cosine exactly replayable).
    QuerySpec("ann_image_topk", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      Similarity.bruteForceTopK(imageVecs(docs),
          imageVecs(docs.filter(col("doc_id") < 10)), k = 5)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    },
      // the bruteTopkOracle shape over histogram vectors re-derived from
      // the replayed pixels — integer counts keep the cosine chain
      // bit-reproducible across engines
      imageBruteTopkOracle),

    // The SCALE PATH for image retrieval: the same decode → histogram
    // features, served through the persisted-centroid IVF index instead
    // of ann_image_topk's (deliberately brute-force) baseline — at 100 TB
    // the brute scan is the recall reference, this is the query path.
    // Centroids are trained once on the feature vectors and persisted
    // (ensureIndex keyed by the doc_id set — the pixels are a pure
    // function of doc_id); the DuckDB oracle re-derives the histograms
    // from the md5 pixel arithmetic, reads the SAME centroids parquet,
    // and replays assignment → probe → cosine row-for-row.
    QuerySpec("ann_image_ivf", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val vecs = imageVecs(docs)
      val path = ensureIndex(s, root, docs, "ivfimg") { p =>
        VectorIndex.fit(vecs, Ivf(8)).write(vecs, p)
      }
      VectorIndex.read(s, path).search(imageVecs(docs.filter(col("doc_id") < 10)),
          k = 5, corpus = Some(vecs), nProbe = 4)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    },
      // the ivfTopkOracle shape over histogram vectors re-derived from the
      // replayed pixels: centroids read from the persisted ivfimg index,
      // assignment (cr=1) and probes (cr<=4) replayed by squared-L2 rank,
      // cosine over the probed cells — row-for-row the Spark IVF search
      imageIvfOracle(root, "ivfimg")),

    // The image search over the CELL-PARTITIONED feature layout — the
    // same partition-column shape as ann_ivf_pruned, over decoded image
    // features: vectors ship hive-partitioned by assigned cell, the query
    // batch's probed cells become scan-time literals, and the vectors
    // scan carries a `cell` PartitionFilter (PlanInvariantsSpec pins it).
    // At 100 TB this is the layout an image-retrieval index actually
    // stores; the flat ann_image_ivf must scan the corpus to recompute
    // assignments. Oracle = ann_image_ivf's replay over this index's own
    // centroids table.
    QuerySpec("ann_image_pruned", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val vecs = imageVecs(docs)
      val path = ensureIndex(s, root, docs, "ivfimgpart") { p =>
        VectorIndex.fit(vecs, Ivf(8)).write(vecs, p, partitioned = true)
      }
      VectorIndex.read(s, path)
          .search(imageVecs(docs.filter(col("doc_id") < 10)), k = 5, nProbe = 4)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    },
      // identical replay from the partitioned image index's own centroids
      // (stored assignments were written by the same seeded kernel)
      imageIvfOracle(root, "ivfimgpart")),

    // Duplicate-VIDEO detection via aligned frame perceptual hashes — the
    // YouTube-dedup shape: every container frame crosses the video→image
    // bridge (extractFrameImages), gets a dHash, and two videos pair when
    // ≥ 2 temporally ALIGNED frames match within hamming 3. Frames ride
    // the banded join as surrogate ids (video·1000 + frame), so the
    // pigeonhole-complete kernel is reused unchanged and the same-frame
    // restriction is a post-filter — exact, no all-pairs. The oracle
    // re-derives every frame hash from the md5 pixel arithmetic and
    // brute-forces the aligned comparison.
    QuerySpec("dedup_video_pairs", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val media = Multimodal.synthesizeDupGifs(docs)
      val frames = Multimodal.extractFrameImages(media, every = 1).toDF()
      val sigs = Multimodal.imageDHash(
          frames.select(
            (col("media_id") * 1000 + col("frame_no")).as("media_id"),
            col("payload"), col("media_type"))).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
      Dedup.hammingPairsHiLo(sigs, maxHamming = 3, bands = 4)
        .filter(pmod(col("doc_a"), lit(1000)) === pmod(col("doc_b"), lit(1000)))
        .groupBy(floor(col("doc_a") / 1000).cast("long").as("vid_a"),
          floor(col("doc_b") / 1000).cast("long").as("vid_b"))
        .agg(count(lit(1)).as("n_matching_frames"))
        .filter(col("n_matching_frames") >= 2)
        .orderBy("vid_a", "vid_b")
    },
      // every frame hash re-derived from the md5 pixel arithmetic, aligned
      // comparison brute-forced, >= 2 matching frames — what the banded
      // surrogate join must emit exactly
      """WITH fams AS (
        |  SELECT doc_id, doc_id // 4 AS family,
        |    2 + CAST((doc_id // 4) % 3 AS INT) AS nf
        |  FROM documents),
        |vpx AS (
        |  SELECT fm.doc_id, fr.f, xs.x, ys.y,
        |    (CAST(concat('0x', substr(md5(concat(fm.family, '_', xs.x, '_', ys.y, '_', fr.f)), 1, 2)) AS BIGINT)
        |     + CASE WHEN fm.doc_id % 4 > 0 AND xs.x = fm.doc_id % 4
        |                 AND ys.y = fm.doc_id % 4 AND fr.f = 0
        |            THEN (fm.doc_id % 4) * 3 ELSE 0 END) % 256 AS p
        |  FROM fams fm
        |  JOIN generate_series(0, 3) fr(f) ON fr.f < fm.nf
        |  CROSS JOIN generate_series(0, 8) xs(x)
        |  CROSS JOIN generate_series(0, 7) ys(y)),
        |vbits AS (
        |  SELECT a.doc_id, a.f, a.x, a.y,
        |    CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
        |  FROM vpx a JOIN vpx b ON b.doc_id = a.doc_id AND b.f = a.f
        |    AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |vsigs AS (
        |  SELECT doc_id, f,
        |    CAST(SUM(CASE WHEN y >= 4 THEN CAST(bit AS BIGINT) << ((y - 4) * 8 + x) ELSE 0 END) AS BIGINT) AS hash_hi,
        |    CAST(SUM(CASE WHEN y < 4 THEN CAST(bit AS BIGINT) << (y * 8 + x) ELSE 0 END) AS BIGINT) AS hash_lo
        |  FROM vbits GROUP BY doc_id, f),
        |fp AS (
        |  SELECT a.doc_id AS vid_a, b.doc_id AS vid_b
        |  FROM vsigs a JOIN vsigs b ON a.doc_id < b.doc_id AND a.f = b.f
        |  WHERE bit_count(xor(a.hash_hi, b.hash_hi)) +
        |        bit_count(xor(a.hash_lo, b.hash_lo)) <= 3)
        |SELECT vid_a, vid_b, count(*) AS n_matching_frames
        |FROM fp GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY vid_a, vid_b""".stripMargin),

    // KEYFRAME-SAMPLED video dedup at realistic clip lengths — the
    // 100 TB plan: real clips run 10³–10⁴ frames, and per-frame dHash +
    // banded-join work grows LINEARLY with clip length while the
    // near-dup verdict is decided by a handful of aligned keyframes.
    // The long-clip fixture (64–66 frames, same family/perturbation
    // arithmetic as dedup_video_pairs) is hashed from every 8TH frame
    // only — extractFrameImages emits (and PNG-encodes) just the
    // sampled frames, so the expensive half of the bridge scales with
    // frames/8, not frames. The ORACLE replays the FULL-frame
    // comparison (every frame, ≥2 aligned matches): a green row is the
    // proof that sampling before hashing lands the full-frame pair set
    // on this class — sample-then-hash, never hash-then-sample.
    QuerySpec("dedup_video_pairs_sampled", (s, dir) => {
      // a fixed 200-clip long-form library (50 families of 4): clip
      // COUNT is the scale axis the banded join handles; clip LENGTH is
      // what sampling must neutralize
      val docs = t(s, dir, "documents").select("doc_id")
        .filter(col("doc_id") < 200)
      val media = Multimodal.synthesizeLongDupGifs(docs)
      val frames = Multimodal.extractFrameImages(media, every = 8).toDF()
      val sigs = Multimodal.imageDHash(
          frames.select(
            (col("media_id") * 1000 + col("frame_no")).as("media_id"),
            col("payload"), col("media_type"))).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
      Dedup.hammingPairsHiLo(sigs, maxHamming = 3, bands = 4)
        .filter(pmod(col("doc_a"), lit(1000)) === pmod(col("doc_b"), lit(1000)))
        .groupBy(floor(col("doc_a") / 1000).cast("long").as("vid_a"),
          floor(col("doc_b") / 1000).cast("long").as("vid_b"))
        .agg(count(lit(1)).as("n_matching_frames"))
        .filter(col("n_matching_frames") >= 2)
        .select(col("vid_a"), col("vid_b"))
        .orderBy("vid_a", "vid_b")
    },
      // the FULL-frame comparison on the long-clip class (every one of the
      // 64–66 frames hashed, >= 2 aligned matches) — the keyframe-SAMPLED
      // Spark path (every 8th frame only) must land exactly this pair
      // set: green = sampling loses nothing on the planted class
      """WITH fams AS (
        |  SELECT doc_id, doc_id // 4 AS family,
        |    64 + CAST((doc_id // 4) % 3 AS INT) AS nf
        |  FROM documents WHERE doc_id < 200),
        |vpx AS (
        |  SELECT fm.doc_id, fr.f, xs.x, ys.y,
        |    (CAST(concat('0x', substr(md5(concat(fm.family, '_', xs.x, '_', ys.y, '_', fr.f)), 1, 2)) AS BIGINT)
        |     + CASE WHEN fm.doc_id % 4 > 0 AND xs.x = fm.doc_id % 4
        |                 AND ys.y = fm.doc_id % 4 AND fr.f = 0
        |            THEN (fm.doc_id % 4) * 3 ELSE 0 END) % 256 AS p
        |  FROM fams fm
        |  JOIN generate_series(0, 66) fr(f) ON fr.f < fm.nf
        |  CROSS JOIN generate_series(0, 8) xs(x)
        |  CROSS JOIN generate_series(0, 7) ys(y)),
        |vbits AS (
        |  SELECT a.doc_id, a.f, a.x, a.y,
        |    CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
        |  FROM vpx a JOIN vpx b ON b.doc_id = a.doc_id AND b.f = a.f
        |    AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |vsigs AS (
        |  SELECT doc_id, f,
        |    CAST(SUM(CASE WHEN y >= 4 THEN CAST(bit AS BIGINT) << ((y - 4) * 8 + x) ELSE 0 END) AS BIGINT) AS hash_hi,
        |    CAST(SUM(CASE WHEN y < 4 THEN CAST(bit AS BIGINT) << (y * 8 + x) ELSE 0 END) AS BIGINT) AS hash_lo
        |  FROM vbits GROUP BY doc_id, f),
        |fp AS (
        |  SELECT a.doc_id AS vid_a, b.doc_id AS vid_b
        |  FROM vsigs a JOIN vsigs b ON a.doc_id < b.doc_id AND a.f = b.f
        |  WHERE bit_count(xor(a.hash_hi, b.hash_hi)) +
        |        bit_count(xor(a.hash_lo, b.hash_lo)) <= 3)
        |SELECT vid_a, vid_b
        |FROM fp GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY vid_a, vid_b""".stripMargin),

    // SCENE-CUT DETECTION (shot segmentation) — the step BEFORE
    // keyframe policy in a real video pipeline: sample per SHOT, not
    // per fixed stride (a 3-hour lecture is one shot; a music video is
    // hundreds). Per clip: dHash every frame, hamming distance between
    // CONSECUTIVE frames (one lag window per clip — bounded
    // partitions), cut where the distance exceeds the threshold;
    // within a static shot the distance is 0 by construction. The
    // oracle replays the ENTIRE hash chain (pixel arithmetic → dHash
    // bits → consecutive hamming) so the verdict is compared at the
    // hash level, not assumed from the fixture's scene arithmetic.
    QuerySpec("multimodal_video_scenes", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
        .filter(col("doc_id") < 100)
      val media = Multimodal.synthesizeSceneGifs(docs)
      val frames = Multimodal.extractFrameImages(media, every = 1).toDF()
      val sigs = Multimodal.imageDHash(
          frames.select(
            (col("media_id") * 1000 + col("frame_no")).as("media_id"),
            col("payload"), col("media_type"))).toDF()
        .filter(col("decoded"))
        .select(expr("media_id div 1000").as("vid"),
          pmod(col("media_id"), lit(1000)).as("f"),
          col("hash_hi"), col("hash_lo"))
      val w = Window.partitionBy("vid").orderBy("f")
      sigs
        .withColumn("ph", lag(col("hash_hi"), 1).over(w))
        .withColumn("pl", lag(col("hash_lo"), 1).over(w))
        .withColumn("cut", col("ph").isNotNull &&
          (bit_count(col("hash_hi").bitwiseXOR(col("ph"))) +
            bit_count(col("hash_lo").bitwiseXOR(col("pl")))) > 8)
        .groupBy(col("vid"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("cut"), 1L).otherwise(0L)).as("n_cuts"),
          (sum(when(col("cut"), 1L).otherwise(0L)) + 1L).as("n_scenes"))
        .orderBy("vid")
    },
      // Scene-cut replay: the full dHash chain (pixel arithmetic with the
      // f//3 shot key → gradient bits → packed halves → consecutive-frame
      // hamming) — the verdict is compared hash-to-hash, not assumed from
      // the scene arithmetic.
      """WITH clips AS (SELECT doc_id AS vid,
        |    8 + CAST((doc_id // 4) % 3 AS INT) AS nf
        |  FROM documents WHERE doc_id < 100),
        |vpx AS (
        |  SELECT c.vid, fr.f, xs.x, ys.y,
        |    CAST(concat('0x', substr(md5(concat(c.vid, '_', xs.x, '_', ys.y, '_', fr.f // 3)), 1, 2)) AS BIGINT) % 256 AS p
        |  FROM clips c
        |  JOIN generate_series(0, 9) fr(f) ON fr.f < c.nf
        |  CROSS JOIN generate_series(0, 8) xs(x)
        |  CROSS JOIN generate_series(0, 7) ys(y)),
        |vbits AS (
        |  SELECT a.vid, a.f, a.x, a.y,
        |    CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
        |  FROM vpx a JOIN vpx b ON b.vid = a.vid AND b.f = a.f
        |    AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |vsigs AS (
        |  SELECT vid, f,
        |    CAST(SUM(CASE WHEN y >= 4 THEN CAST(bit AS BIGINT) << ((y - 4) * 8 + x) ELSE 0 END) AS BIGINT) AS hash_hi,
        |    CAST(SUM(CASE WHEN y < 4 THEN CAST(bit AS BIGINT) << (y * 8 + x) ELSE 0 END) AS BIGINT) AS hash_lo
        |  FROM vbits GROUP BY vid, f),
        |dist AS (
        |  SELECT a.vid,
        |    CASE WHEN bit_count(xor(a.hash_hi, b.hash_hi)) +
        |              bit_count(xor(a.hash_lo, b.hash_lo)) > 8
        |         THEN 1 ELSE 0 END AS cut
        |  FROM vsigs a JOIN vsigs b ON b.vid = a.vid AND b.f = a.f - 1)
        |SELECT c.vid, CAST(c.nf AS BIGINT) AS n_frames,
        |  CAST(coalesce(sum(d.cut), 0) AS BIGINT) AS n_cuts,
        |  CAST(coalesce(sum(d.cut), 0) + 1 AS BIGINT) AS n_scenes
        |FROM clips c LEFT JOIN dist d USING (vid)
        |GROUP BY c.vid, c.nf ORDER BY vid""".stripMargin),

    // The STREAMED image-feature index: VectorIngest is modality-agnostic
    // (it ingests any (vec_id, embedding) frame), so two doc-disjoint
    // micro-batches of decoded histogram features land on the same
    // cell-partitioned layout the text embeddings use — centroids trained
    // by the first batch, reused by the second, BatchMarker exactly-once.
    // nProbe = nCells makes the search EXACT, so the brute-force image
    // oracle verifies the ACCUMULATION itself: every batch's vectors
    // present exactly once, correctly assigned and scored. Completes the
    // flat / pruned / streamed index symmetry between the text and image
    // families.
    QuerySpec("ann_image_streamed", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val vecs = imageVecs(docs)
      val path = ensureIndex(s, root, docs, "ivfimgstream") { p =>
        graft.streaming.VectorIngest.processBatch(
          vecs.filter(pmod(col("vec_id"), lit(2)) === 0), 0L, p, nCells = 8)
        graft.streaming.VectorIngest.processBatch(
          vecs.filter(pmod(col("vec_id"), lit(2)) === 1), 1L, p, nCells = 8)
      }
      VectorIndex.read(s, path).search(imageVecs(docs.filter(col("doc_id") < 10)),
          k = 5, nProbe = 8)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("query_id", "rank")
    },
      // exact search (nProbe = nCells) over the streamed accumulation must
      // equal brute force — the oracle verifies the accumulation itself,
      // the same contract as ann_ivf_streamed
      imageBruteTopkOracle),

    // Incremental image dedup — the daily-crawl shape: only pairs
    // touching the incoming batch (docs with doc_id % 7 = 3 play the new
    // crawl) are computed; the corpus×corpus quadratic term never forms,
    // and per-ingest work scales with the batch. The oracle brute-forces
    // ALL pairs from the same replayed hashes and keeps those touching
    // the batch — the banded incremental path must produce exactly that
    // set (completeness restricted to the emitted scope).
    QuerySpec("dedup_phash_incremental", (s, dir) => {
      val media = Multimodal.synthesizePhashImages(
        t(s, dir, "documents").select("doc_id"))
      val sigs = Multimodal.imageDHash(media).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
      Dedup.hammingPairsHiLoIncremental(
          existing = sigs.filter(col("doc_id") % 7 =!= 3),
          incoming = sigs.filter(col("doc_id") % 7 === 3),
          maxHamming = 3, bands = 4)
        .orderBy("doc_a", "doc_b")
    },
      // Brute-force ALL pairs, kept where a member is in the incoming
      // batch (doc_id % 7 = 3) — the incremental banded path must emit
      // exactly this set: new-new and new-old pairs, never old-old
      (phashSigsSql +
      """
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.hash_hi, b.hash_hi)) +
        |       bit_count(xor(a.hash_lo, b.hash_lo)) AS BIGINT) AS hamming
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hash_hi, b.hash_hi)) +
        |      bit_count(xor(a.hash_lo, b.hash_lo)) <= 3
        |  AND (a.doc_id % 7 = 3 OR b.doc_id % 7 = 3)
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // STREAMED image dedup ingest (PhashIngest): two micro-batches of
    // encoded images land on the persisted signature index — each batch
    // decodes, hashes, pairs against the accumulated history (new-new +
    // new-old only) and appends its signatures, under the BatchMarker
    // exactly-once protocol. Every pair lands exactly once, in the batch
    // of its LATER member, so the accumulated pair table must equal the
    // brute-force ALL-pairs set — dedup_phash_pairs' oracle verbatim, and
    // the green row proves the streamed accumulation loses nothing and
    // double-emits nothing.
    QuerySpec("dedup_phash_streamed", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val media = Multimodal.synthesizePhashImages(docs)
      val path = ensureIndex(s, root, docs, "phashstream") { p =>
        graft.streaming.PhashIngest.processBatch(
          media.filter(col("media_id") % 7 =!= 3), 0L, p)
        graft.streaming.PhashIngest.processBatch(
          media.filter(col("media_id") % 7 === 3), 1L, p)
      }
      graft.streaming.PhashIngest.readPairs(s, path)
        .orderBy("doc_a", "doc_b")
    },
      // SHARED with dedup_phash_pairs: the streamed ingest's accumulated
      // per-batch pair appends (batch-internal for the first batch,
      // batch-touching for every later one) must union to exactly the
      // all-pairs brute-force set — the green row is the equivalence proof
      // that the incremental banding over the persisted signature index
      // drops nothing and double-emits nothing across batches.
      phashPairsOracle),

    // Image near-dup CLUSTERS: the perceptual-hash pair set closed to
    // connected components (pointer-jumped min-label CC) with one keeper
    // per cluster — decode → dHash → banded pairs → CC, the full image
    // dedup pipeline a crawl dedup stage runs. The oracle re-derives the
    // hashes, recomputes ALL pairs brute-force and closes them with a
    // recursive CTE — labels, sizes and keepers checked end-to-end.
    QuerySpec("dedup_phash_clusters", (s, dir) => {
      val docs = t(s, dir, "documents")
      val media = Multimodal.synthesizePhashImages(docs.select("doc_id"))
      val sigs = Multimodal.imageDHash(media).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
      val pairs = Dedup.hammingPairsHiLo(sigs, maxHamming = 3, bands = 4)
      Dedup.clusterAssignments(docs, "doc_id", pairs).orderBy("doc_id")
    },
      // Brute-force phash pairs closed transitively with a recursive CTE —
      // the banded + pointer-jumped Spark path must land on exactly these
      // labels, sizes and keepers (same closure shape as dedupClustersOracle)
      phashClustersOracle),

    // Incremental image CLUSTERING — the crawl composition end-to-end:
    // yesterday's labeling (CC over old-old pairs) enters as star edges,
    // only the incoming batch's pairs (hammingPairsHiLoIncremental — the
    // old-old quadratic term never recomputes) are added, and the
    // relabeling must equal the from-scratch closure: SHARES
    // dedup_phash_clusters' recursive-CTE oracle, so green is the
    // equivalence proof. Per-crawl cost = new pairs + touched history.
    QuerySpec("dedup_phash_clusters_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val media = Multimodal.synthesizePhashImages(docs.select("doc_id"))
      val sigs = Multimodal.imageDHash(media).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("doc_id"), col("hash_hi"), col("hash_lo"))
        .localCheckpoint() // decode once, split twice
      val hist  = sigs.filter(col("doc_id") % 7 =!= 3)
      val fresh = sigs.filter(col("doc_id") % 7 === 3)
      val prev = Dedup.duplicateClusters(
        Dedup.hammingPairsHiLo(hist, maxHamming = 3, bands = 4))
      val newPairs = Dedup.hammingPairsHiLoIncremental(hist, fresh,
        maxHamming = 3, bands = 4)
      Dedup.clusterAssignmentsFromLabels(docs, "doc_id",
          Dedup.incrementalClusters(prev, newPairs))
        .orderBy("doc_id")
    },
      // SHARED with dedup_phash_clusters: the incremental relabeling
      // (previous labels as star edges + batch-touching pairs only) must
      // equal the from-scratch closure — green = exact-equivalence proof,
      // the same twin contract as dedup_clusters_incremental.
      phashClustersOracle),

    // Recall gate for the image-retrieval scale path (ann_image_ivf's
    // parameters) against its own brute baseline — measured avg recall@5:
    // 1.00 at sf0.01, 0.88 at sf0.1 (measured with the former `tools/ImgAnnProbe`), gated at the
    // same 0.6 floor as the text-embedding IVF gate. A regression in the
    // decode → feature → quantizer chain becomes a hash mismatch.
    QuerySpec("ann_image_recall", (s, dir) => {
      // persist: the decode → feature pass feeds both arms' corpus AND
      // query sides (4 consumers); Verify/Bench clearCache per query
      val vecs = imageVecs(t(s, dir, "documents").select("doc_id")).persist()
      val q = vecs.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(vecs, q, k = 5)
      val ivf = VectorIndex.fit(vecs, Ivf(8), corpusId = Some(s"img:$dir"))
        .search(q, k = 5, corpus = Some(vecs), nProbe = 4)
      Similarity.recallAtK(ivf, brute)
        .agg(count(lit(1)).as("n_queries"), (avg(col("recall")) >= 0.6).as("recall_ok"))
    },
      "SELECT count(DISTINCT doc_id) AS n_queries, TRUE AS recall_ok FROM documents WHERE doc_id < 10")
  )

  /** The decoded 16-bin histogram features of the phash fixture for the
    * `doc_id`s of `ids`, as (`vec_id`, `embedding`). Pixels are a pure
    * function of `doc_id`, so a query batch is `imageVecs` of its own ids:
    * filtering the ids decodes only the batch, where filtering the
    * decoded corpus decodes all of it.
    */
  private def imageVecs(ids: DataFrame): DataFrame =
    Multimodal.imageFeatures(Multimodal.synthesizePhashImages(ids), bins = 16).toDF()
      .filter(col("decoded"))
      .select(col("media_id").as("vec_id"),
        col("histogram").cast("array<double>").as("embedding"))

  // Replay of synthesizePhashImages' md5 pixel formula over the 9x8 grid
  // — the shared head of every image-pipeline oracle (dHash signatures
  // AND histogram features re-derive from these same pixels).
  private val phashPxSql: String =
    """WITH px AS (
      |  SELECT d.doc_id, xs.x, ys.y,
      |    (CAST(concat('0x', substr(md5(concat(d.doc_id // 4, '_', xs.x, '_', ys.y)), 1, 2)) AS BIGINT)
      |     + CASE WHEN d.doc_id % 4 > 0 AND xs.x = d.doc_id % 4 AND ys.y = d.doc_id % 4
      |            THEN (d.doc_id % 4) * 3 ELSE 0 END) % 256 AS p
      |  FROM documents d, generate_series(0, 8) xs(x), generate_series(0, 7) ys(y))""".stripMargin

  // ... then fold the 64 adjacent-pixel comparison bits into the
  // (hash_hi, hash_lo) 32-bit words exactly as Multimodal.imageDHash
  // packs them.
  private val phashSigsSql: String = phashPxSql +
    """,
      |bits AS (
      |  SELECT a.doc_id, a.x, a.y, CASE WHEN b.p > a.p THEN 1 ELSE 0 END AS bit
      |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
      |  WHERE a.x < 8),
      |sigs AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN y >= 4 THEN CAST(bit AS BIGINT) << ((y - 4) * 8 + x) ELSE 0 END) AS BIGINT) AS hash_hi,
      |    CAST(SUM(CASE WHEN y < 4 THEN CAST(bit AS BIGINT) << (y * 8 + x) ELSE 0 END) AS BIGINT) AS hash_lo
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** Brute-force cosine top-5 over histogram vectors re-derived from the
    * replayed pixels — shared by `ann_image_topk` (the labeled brute
    * baseline) and `ann_image_streamed` (exhaustive-probe search over the
    * streamed accumulation, which must equal brute force).
    */
  private val imageBruteTopkOracle: String = (phashPxSql +
      """,
        |hist AS (SELECT doc_id, p // 16 AS bin, count(*) AS n FROM px GROUP BY 1, 2),
        |bins AS (SELECT b FROM generate_series(0, 15) t(b)),
        |vecs AS (
        |  SELECT d.doc_id, list(CAST(coalesce(h.n, 0) AS DOUBLE) ORDER BY b.b) AS v
        |  FROM documents d CROSS JOIN bins b
        |  LEFT JOIN hist h ON h.doc_id = d.doc_id AND h.bin = b.b
        |  GROUP BY d.doc_id),
        |q AS (SELECT * FROM vecs WHERE doc_id < 10),
        |scored AS (
        |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
        |    round(list_cosine_similarity(q.v, c.v), 4) AS sim
        |  FROM q, vecs c WHERE c.doc_id <> q.doc_id)
        |SELECT query_id, rn AS rank, neighbor_id, sim
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, neighbor_id) AS rn FROM scored)
        |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)

  /** The ivfTopkOracle shape over histogram vectors re-derived from the
    * replayed pixels — shared by `ann_image_ivf` (flat centroids index)
    * and, with the ivfimgpart glob, `ann_image_pruned` (cell-partitioned
    * layout): centroids read from the persisted index, assignment (cr=1)
    * and probes (cr<=4) replayed by squared-L2 rank, cosine over the
    * probed cells — row-for-row the Spark IVF search.
    */
  private def imageIvfOracle(root: String, kind: String): String = (phashPxSql +
      s""",
        |hist AS (SELECT doc_id, p // 16 AS bin, count(*) AS n FROM px GROUP BY 1, 2),
        |bins AS (SELECT b FROM generate_series(0, 15) t(b)),
        |vecs AS (
        |  SELECT d.doc_id AS vec_id, list(CAST(coalesce(h.n, 0) AS DOUBLE) ORDER BY b.b) AS e
        |  FROM documents d CROSS JOIN bins b
        |  LEFT JOIN hist h ON h.doc_id = d.doc_id AND h.bin = b.b
        |  GROUP BY d.doc_id),
        |cent AS (
        |  SELECT cell, centroid
        |  FROM read_parquet('$root/$kind/*/centroids/*.parquet')
        |  WHERE n_corpus = (SELECT count(*) FROM documents)),
        |d AS (SELECT vec_id, cell,
        |        list_inner_product(centroid, centroid)
        |          - 2.0 * list_inner_product(e, centroid) AS d2
        |      FROM vecs, cent),
        |ranked AS (SELECT vec_id, cell,
        |             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS cr
        |           FROM d),
        |cells AS (SELECT r.vec_id AS neighbor_id, v.e AS nvec, r.cell
        |          FROM ranked r JOIN vecs v USING (vec_id) WHERE cr = 1),
        |probes AS (SELECT r.vec_id AS query_id, v.e AS qvec, r.cell
        |           FROM ranked r JOIN vecs v USING (vec_id)
        |           WHERE cr <= 4 AND r.vec_id < 10),
        |scored AS (SELECT query_id, neighbor_id,
        |             round(list_cosine_similarity(qvec, nvec), 4) AS sim
        |           FROM cells JOIN probes USING (cell)
        |           WHERE neighbor_id <> query_id)
        |SELECT query_id, rn AS rank, neighbor_id, sim
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, neighbor_id) AS rn FROM scored)
        |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)

  /** From-scratch recursive-CTE closure of the replayed dHash pair set —
    * shared by `dedup_phash_clusters` (one-shot CC) and
    * `dedup_phash_clusters_incremental` (previous labels + batch-touching
    * pairs), so the incremental row doubles as an equivalence proof.
    */
  private val phashClustersOracle: String = ("WITH RECURSIVE " +
      phashSigsSql.stripPrefix("WITH ") +
      """,
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hash_hi, b.hash_hi)) +
        |        bit_count(xor(a.hash_lo, b.hash_lo)) <= 3),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |lab AS (
        |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
        |csizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
        |SELECT lab.doc_id, lab.cluster_id, csizes.cluster_size,
        |  lab.doc_id = lab.cluster_id AS is_keeper
        |FROM lab JOIN csizes USING (cluster_id)
        |ORDER BY lab.doc_id""".stripMargin)

  /** Brute-force ALL hamming-≤3 pairs from the replayed dHash signatures —
    * shared by `dedup_phash_pairs` (the one-shot banded computation) and
    * `dedup_phash_streamed` (the accumulated per-batch appends of the
    * streamed signature-index ingest), so one green row per variant proves
    * both the banding's pigeonhole completeness and the stream's
    * no-loss/no-double-emit accumulation.
    */
  private val phashPairsOracle: String = phashSigsSql +
    """
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.hash_hi, b.hash_hi)) +
      |       bit_count(xor(a.hash_lo, b.hash_lo)) AS BIGINT) AS hamming
      |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.hash_hi, b.hash_hi)) +
      |      bit_count(xor(a.hash_lo, b.hash_lo)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin
}

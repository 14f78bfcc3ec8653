package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Pins every public `Multimodal.synthesize*` fixture: `media_payload.sha256`
  * holds one SHA-256 per synthesizer, tab-separated, over its rows for ids
  * 0..63 in id order (id, media type, payload length, payload bytes). The
  * synthesizers share their encoders and writers, so an edit to one shared
  * writer that moves any fixture's bytes fails here, by name; a change made
  * on purpose updates that line in the same diff.
  */
class MediaPayloadGuardSpec extends SparkSpec {
  import spark.implicits._

  private val synthesizers: Seq[(String, DataFrame => DataFrame)] = Seq(
    "synthesizeImages" -> (Multimodal.synthesizeImages(_)),
    "synthesizeWavs" -> (Multimodal.synthesizeWavs(_)),
    "synthesizeQualityWavs" -> (Multimodal.synthesizeQualityWavs(_)),
    "synthesizeToneWavs" -> (Multimodal.synthesizeToneWavs(_)),
    "synthesizeGifs" -> (Multimodal.synthesizeGifs(_)),
    "synthesizeQualityGifs" -> (Multimodal.synthesizeQualityGifs(_)),
    "synthesizeDupGifs" -> (Multimodal.synthesizeDupGifs(_)),
    "synthesizeLongDupGifs" -> (Multimodal.synthesizeLongDupGifs(_)),
    "synthesizeSceneGifs" -> (Multimodal.synthesizeSceneGifs(_)),
    "synthesizeMp4s" -> (Multimodal.synthesizeMp4s(_)),
    "synthesizePhashImages" -> (Multimodal.synthesizePhashImages(_)),
    "synthesizeFlatImages" -> (Multimodal.synthesizeFlatImages(_)))

  private lazy val pinned: Map[String, String] = {
    val src = scala.io.Source.fromResource("media_payload.sha256", getClass.getClassLoader)
    try src.getLines().map(_.split('\t')).map { case Array(k, h) => k -> h }.toMap
    finally src.close()
  }

  private def digest(media: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    media.select("media_id", "media_type", "payload").collect()
      .sortBy(_.getLong(0)).foreach { r =>
        val payload = r.getAs[Array[Byte]](2)
        md.update(java.nio.ByteBuffer.allocate(12).putLong(r.getLong(0))
          .putInt(payload.length).array())
        md.update(r.getString(1).getBytes("UTF-8"))
        md.update(payload)
      }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("every synthesizer's payloads match their pinned digest") {
    val ids = (0L until 64L).toDF("doc_id")
    val got = synthesizers.map { case (name, synth) => name -> digest(synth(ids)) }
    assert(got.map(_._1).toSet === pinned.keySet)
    val changed = got.filter { case (k, h) => pinned(k) != h }
    assert(changed.isEmpty, "payloads that differ from the pinned digest:\n" +
      changed.map { case (k, h) => s"$k\t$h" }.mkString("\n"))
  }

  test("every synthesizer spreads a one-partition id frame to defaultParallelism") {
    val ids = (0L until 16L).toDF("doc_id").coalesce(1)
    val n = spark.sparkContext.defaultParallelism
    synthesizers.foreach { case (name, synth) =>
      assert(synth(ids).rdd.getNumPartitions === n, name)
    }
  }
}

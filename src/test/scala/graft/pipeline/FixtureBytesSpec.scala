package graft.pipeline

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkTestBase

/** Pins the bytes of every media fixture: a SHA-256 over the payloads of
  * each `synthesize*` builder for ids 0..255, and over each direct
  * builder parameterisation the media tests use, in
  * `media/fixture_pins.txt` (`<name> <sha256>`). The oracles restate the
  * decoded values from ids and the ImageIO differentials compare decoders
  * on these streams, so a change to a builder's writer code must leave
  * every pin as it is. */
class FixtureBytesSpec extends SparkTestBase {

  private val pins: Map[String, String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/media/fixture_pins.txt"), "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(name, pin) = l.split(' ')
      name -> pin
    }.toMap
    finally src.close()
  }

  /** SHA-256 over each payload's 4-byte big-endian length, then its bytes. */
  private def sha256(payloads: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    payloads.foreach { p =>
      md.update(java.nio.ByteBuffer.allocate(4).putInt(p.length).array())
      md.update(p)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def mismatches(got: Seq[(String, String)]): Seq[String] =
    got.collect { case (n, h) if !pins.get(n).contains(h) => s"$n $h" }

  private val synthesizers: Seq[(String, (DataFrame, String) => DataFrame)] =
    Seq(
      "synthesizeMediaPayload" -> (Multimodal.synthesizeMediaPayload(_, _)),
      "synthesizePngPayload" -> (Multimodal.synthesizePngPayload(_, _)),
      "synthesizeWavPayload" -> (Multimodal.synthesizeWavPayload(_, _)),
      "synthesizeWavDedupPayload" -> (Multimodal.synthesizeWavDedupPayload(_, _)),
      "synthesizeMediaDedupPayload" ->
        (Multimodal.synthesizeMediaDedupPayload(_, _)),
      "synthesizeCoverageCorpus" -> (Multimodal.synthesizeCoverageCorpus(_, _)),
      "synthesizeDecodablePayload" ->
        (Multimodal.synthesizeDecodablePayload(_, _)),
      "synthesizeWavNearDupPayload" ->
        (Multimodal.synthesizeWavNearDupPayload(_, _)),
      "synthesizeBmpPayload" -> (Multimodal.synthesizeBmpPayload(_, _)),
      "synthesizeJpegPayload" -> (Jpeg.synthesizeJpegPayload(_, _)),
      "synthesizeProgressiveJpegPayload" ->
        (Jpeg.synthesizeProgressiveJpegPayload(_, _)),
      "synthesizeAviPayload" -> (Video.synthesizeAviPayload(_, _)),
      "synthesizeMp4Payload" -> (Video.synthesizeMp4Payload(_, _)),
      "synthesizeAviDedupPayload" -> (Video.synthesizeAviDedupPayload(_, _)),
      "synthesizeAviNearDupPayload" ->
        (Video.synthesizeAviNearDupPayload(_, _)))

  private def randomPixels(seed: Int, n: Int): Array[Int] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(rnd.nextInt(256))
  }

  private val flatGray = (bx: Int, by: Int) => (37 + 17 * by + 23 * bx) % 256
  private val flatGrayPx = Array.tabulate(24 * 16)(i =>
    flatGray(i % 24 / 8, i / 24 / 8))
  private val flatRgbPx = Array.tabulate(24 * 16 * 3)(i =>
    (flatGray(i / 3 % 24 / 8, i / 3 / 24 / 8) + 40 * (i % 3)) % 256)
  private val frames = Seq(
    Jpeg.buildJpegWithBlocks(16, 8, (bx, _) => 100 + 50 * bx),
    Jpeg.buildJpegWithBlocks(16, 8, (_, _) => 255),
    Jpeg.buildJpegWithBlocks(16, 8, (bx, _) => 3 * bx))

  /** Every direct builder call shape the media tests make. */
  private val direct: Seq[(String, () => Array[Byte])] = Seq(
    "flat_gray" -> (() => Jpeg.buildJpegWithBlocks(24, 16, flatGray)),
    "flat_gray_rst3" -> (() =>
      Jpeg.buildJpegWithBlocks(24, 16, flatGray, restartInterval = 3)),
    "flat_gray_rst1" -> (() =>
      Jpeg.buildJpegWithBlocks(40, 16, flatGray, restartInterval = 1))) ++
    Seq((1, 1), (2, 1), (2, 2)).map { case (sh, sv) =>
      s"flat_ycc_${sh}x$sv" -> (() => Jpeg.buildJpegFlatYcc(16 * sh, 16 * sv,
        sh, sv, (bx, by) => (60 + 31 * bx + 47 * by) % 256, cb = 90, cr = 170))
    } ++ Seq(
    "prog_gray_annexk" -> (() =>
      Jpeg.buildProgressiveJpeg(37, 23, 1, randomPixels(23, 37 * 23))),
    "prog_gray_annexk_8x8" -> (() =>
      Jpeg.buildProgressiveJpeg(8, 8, 1, randomPixels(5, 64))),
    "prog_rgb_annexk" -> (() =>
      Jpeg.buildProgressiveJpeg(33, 17, 3, randomPixels(29, 33 * 17 * 3))),
    "prog_gray_flat8" -> (() =>
      Jpeg.buildProgressiveJpeg(24, 16, 1, flatGrayPx, flatQuant = true)),
    "prog_rgb_flat8" -> (() =>
      Jpeg.buildProgressiveJpeg(24, 16, 3, flatRgbPx, flatQuant = true)),
    "png_header" -> (() => Multimodal.buildPng(640, 480)),
    "jpeg_header" -> (() => Multimodal.buildJpeg(320, 200)),
    "wav_header" -> (() => Multimodal.buildWav(16000, 64000)),
    "mp4_header" -> (() => Multimodal.buildMp4(600, 12345L)),
    "png_pixels_rgb" -> (() => Multimodal.buildPngWithPixels(13, 9, 3,
      randomPixels(41, 13 * 9 * 3), r => r % 5)),
    "png_pixels_gray" -> (() => Multimodal.buildPngWithPixels(9, 8, 1,
      Array.tabulate(72)(_ * 3), _ => 0)),
    "wav_samples" -> (() => Multimodal.buildWavWithSamples(11000,
      Array.tabulate(301)(i => (i * 977) % 65536 - 32768))),
    "bmp" -> (() => Multimodal.buildBmp(7, 9, randomPixels(43, 7 * 9 * 3))),
    "avi_odd_frames" -> (() => Video.buildAviMjpeg(16, 8, fps = 5,
      frames :+ "odd".getBytes(StandardCharsets.US_ASCII))),
    "mp4_mjpeg" -> (() =>
      Video.buildMp4Mjpeg(16, 8, timescale = 30, sampleDelta = 2, frames)))

  test("every synthesize* fixture hashes to its pinned SHA-256 over ids " +
      "0..255") {
    val ids = spark.range(256).toDF("id")
    val got = synthesizers.map { case (name, synth) =>
      name -> sha256(synth(ids, "id").orderBy(col("id")).select("payload")
        .collect().toSeq.map(_.getAs[Array[Byte]](0)))
    }
    assert(got.size == 15)
    val wrong = mismatches(got)
    assert(wrong.isEmpty, s"fixture bytes differ from their pins:\n" +
      wrong.mkString("\n"))
  }

  test("every direct builder parameterisation hashes to its pinned " +
      "SHA-256") {
    val wrong = mismatches(direct.map { case (n, b) => n -> sha256(Seq(b())) })
    assert(wrong.isEmpty, s"builder bytes differ from their pins:\n" +
      wrong.mkString("\n"))
    assert(pins.keySet == (synthesizers.map(_._1) ++ direct.map(_._1)).toSet)
  }
}

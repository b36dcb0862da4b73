package graft.pipeline

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkTestBase

/** The media layer's decode contract: an undecodable payload drops its
  * row (never a throw), `extractFeatures` falls back to the byte
  * fingerprint, `mediaCoverage` counts it, and `resizeImages` passes it
  * through. Also pins that the three shot-cut operators share one
  * segmentation, that every id-keyed decode map runs through
  * [[MediaMap.decodeRows]], and that every byte writer is
  * [[MediaMap.ByteSink]] or Jpeg's entropy writer. */
class MediaDecodeSpec extends SparkTestBase {

  private def half(b: Array[Byte]): Array[Byte] = b.take(b.length / 2)

  /** (id, label, payload): nothing here decodes. */
  private val bad: Seq[(Long, String, Array[Byte])] = Seq(
    (1L, "null", null),
    (2L, "empty", Array.emptyByteArray),
    (3L, "3 bytes", Array[Byte](1, 2, 3)),
    (4L, "not-media", "not-media".getBytes(US_ASCII)),
    (5L, "truncated png", half(Multimodal.pngPayloadFor(7L))),
    (6L, "truncated wav", half(Multimodal.wavPayloadFor(7L))),
    (7L, "truncated avi", half(Video.aviPayloadFor(7L))),
    (8L, "truncated jpeg", half(Jpeg.jpegPayloadFor(7L))))

  private def badDf: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    bad.map { case (id, _, p) => (id, p) }.toDF("doc_id", "payload")
  }

  /** Every id-keyed decode op, called through its public name. */
  private val decodeOps: Seq[(String, DataFrame => DataFrame)] = {
    val (i, p) = ("doc_id", "payload")
    Seq(
      "pngPixelStats" -> (Multimodal.pngPixelStats(_, i, p)),
      "jpegPixelStats" -> (Jpeg.jpegPixelStats(_, i, p)),
      "bmpPixelStats" -> (Multimodal.bmpPixelStats(_, i, p)),
      "wavSampleStats" -> (Multimodal.wavSampleStats(_, i, p)),
      "wavFrameFeatures" -> (Multimodal.wavFrameFeatures(_, i, p)),
      "wavDecimate" -> (Multimodal.wavDecimate(_, i, p)),
      "wavSequencyFeatures" -> (Multimodal.wavSequencyFeatures(_, i, p)),
      "wavSpectrogram" -> (Multimodal.wavSpectrogram(_, i, p)),
      "wavMfcc" -> (Multimodal.wavMfcc(_, i, p)),
      "audioDescriptors" -> (Multimodal.audioDescriptors(_, i, p)),
      "audioFingerprints" -> (Multimodal.audioFingerprints(_, i, p)),
      "hkFingerprints" -> (Multimodal.hkFingerprints(_, i, p)),
      "imagePHash" -> (Multimodal.imagePHash(_, i, p)),
      "imageAHash" -> (Multimodal.imageAHash(_, i, p)),
      "imageDHash" -> (Multimodal.imageDHash(_, i, p)),
      "pixelHistogram" -> (Multimodal.pixelHistogram(_, i, p)),
      "mediaFingerprints" -> (Multimodal.mediaFingerprints(_, i, p)),
      "videoFrameStats" -> (Video.videoFrameStats(_, i, p)),
      "sceneCuts" -> (Video.sceneCuts(_, i, p)),
      "videoFingerprints" -> (Video.videoFingerprints(_, i, p)),
      "shotKeyframes" -> (Video.shotKeyframes(_, i, p)),
      "keyframePHashes" -> (Video.keyframePHashes(_, i, p)),
      "sampleVideoFrames" -> (Video.sampleVideoFrames(_, i, p, 100L)))
  }

  test("undecodable payloads: every decode op drops them without a throw, " +
      "extractFeatures fingerprints them, mediaCoverage counts them and " +
      "resizeImages passes them through") {
    // each payload really is rejected by every decoder on its own
    bad.foreach { case (_, label, b) =>
      assert(Multimodal.decodeImage(b).isEmpty, label)
      assert(Multimodal.decodeWavSamples(b).isEmpty, label)
      assert(Video.parseVideoMjpeg(b).isEmpty, label)
      assert(Multimodal.sampleHistogram(b, 16).isEmpty, label)
    }
    val df = badDf
    decodeOps.foreach { case (name, op) =>
      val out = op(df).collect()
      assert(out.isEmpty, s"$name emitted ${out.toSeq}")
    }
    val feats = Multimodal.extractFeatures(df, "doc_id", "payload", 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(feats.keySet == bad.map(_._1).toSet)
    bad.foreach { case (id, label, b) =>
      val bytes = if (b == null) Array.emptyByteArray else b
      assert(feats(id) == Multimodal.fingerprintFeatures(bytes, 8).toSeq, label)
    }
    val coverage = Multimodal.mediaCoverage(df, "doc_id", "payload")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(coverage == Map(("unknown", "dropped") -> 4L,
      ("png", "header_only") -> 1L, ("wav", "header_only") -> 1L,
      ("avi", "header_only") -> 1L, ("jpeg", "header_only") -> 1L))
    val withMeta = Multimodal.withMediaMeta(df, "payload")
    val before = withMeta.collect().map(r => r.getLong(0) -> r).toMap
    val resized = Multimodal.resizeImages(withMeta, "doc_id", "payload",
      "media_meta", 4, 4).collect()
    assert(resized.length == bad.length)
    resized.foreach { r =>
      val orig = before(r.getLong(0))
      val (p0, p1) = (orig.getAs[Array[Byte]](1), r.getAs[Array[Byte]](1))
      assert(p0 == null && p1 == null || p0.sameElements(p1), s"id ${r.get(0)}")
      assert(r.getStruct(2) == orig.getStruct(2), s"id ${r.get(0)}")
    }
  }

  test("sceneCuts, shotKeyframes and keyframePHashes agree on the shot " +
      "starts of a clip with an undecodable frame and a resolution change") {
    val spark2 = spark
    import spark2.implicits._
    // f0 → f1 a small step, f2 undecodable, f3 a new size, f4 a SAD cut,
    // f5 a small step: shots start at 0, 3 and 4
    val frames = Seq(
      Jpeg.buildJpegWithBlocks(16, 16, (bx, by) => 10 + 40 * bx + 80 * by),
      Jpeg.buildJpegWithBlocks(16, 16, (bx, by) => 12 + 40 * bx + 80 * by),
      "not-a-frame".getBytes(US_ASCII),
      Jpeg.buildJpegWithBlocks(32, 16, (bx, by) => 12 + 30 * bx + 50 * by),
      Jpeg.buildJpegWithBlocks(32, 16, (bx, by) => 200 - 30 * bx - 50 * by),
      Jpeg.buildJpegWithBlocks(32, 16, (bx, by) => 201 - 30 * bx - 50 * by))
    val df = Seq((9L, Video.buildAviMjpeg(16, 16, 4, frames)))
      .toDF("doc_id", "payload")
    val starts = Seq(0, 3, 4)
    val cuts = Video.sceneCuts(df, "doc_id", "payload").collect()
      .map(r => r.getInt(1) -> r.getBoolean(4)).sortBy(_._1).toSeq
    assert(cuts == Seq(1 -> false, 3 -> true, 4 -> true, 5 -> false))
    assert(0 +: cuts.filter(_._2).map(_._1) == starts)
    val shots = Video.shotKeyframes(df, "doc_id", "payload").collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).sortBy(_._1).toSeq
    assert(shots == Seq((0, 0, 2), (1, 3, 1), (2, 4, 2)))
    val hashes = Video.keyframePHashes(df, "doc_id", "payload").collect()
      .map(r => r.getInt(2) -> ((r.getLong(3) << 32) | r.getLong(4)))
      .sortBy(_._1).map(_._2).toSeq
    assert(hashes == starts.map(f =>
      Multimodal.phash64(Jpeg.decodeJpeg(frames(f)).get)))
    assert(hashes.distinct.size == 3, "flat keyframes would hash alike")
  }

  test("Encoders.row appears in the media layer only inside its two " +
      "row-map helpers and the named exceptions") {
    val owner = "\\bdef (\\w+)".r
    val files = Seq("MediaMap", "Multimodal", "Video", "Jpeg").map(n =>
      new java.io.File(s"src/main/scala/graft/pipeline/$n.scala"))
    val uses = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toIndexedSeq finally src.close()
      lines.indices.filter(i => lines(i).contains("Encoders.row(")).map { i =>
        val in = (i to 0 by -1).iterator
          .flatMap(j => owner.findFirstMatchIn(lines(j))).nextOption()
        (s"${f.getName}:${i + 1}", in.map(_.group(1)).getOrElse(""))
      }
    }
    assert(uses.map(_._2).sorted ==
      Seq("appendColumn", "decodeRows", "mediaCoverage", "resizeImages"),
      s"row maps outside MediaMap.decodeRows / appendColumn: $uses")
  }

  test("graft/pipeline writes bytes only through MediaMap.ByteSink and " +
      "Jpeg's BitSink: no ByteArrayOutputStream, endian put or bit writer " +
      "elsewhere") {
    // a shifted value stored as a byte or written: a hand-rolled endian put
    val endianPut =
      """>>>?\s*(8|16|24|32|40|48|56)\b.*\.toByte|\b(write|u8)\([^)]*>>""".r
    // 0xFF -> FF 00 stuffing: the mark of an entropy bit writer
    val stuffing = """==\s*0xFF\).*\b(write|u8)\(0""".r
    val owner = """\b(?:class|object) (\w+)""".r
    val files = new java.io.File("src/main/scala/graft/pipeline").listFiles()
      .filter(f => f.getName.endsWith(".scala") && f.getName != "MediaMap.scala")
    assert(files.length > 20)
    val (writers, bitWriters) = files.toSeq.sortBy(_.getName).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toIndexedSeq finally src.close()
      def at(i: Int) = s"${f.getName}:${i + 1}"
      val puts = lines.indices.filter(i =>
        lines(i).contains("ByteArrayOutputStream") ||
          endianPut.findFirstIn(lines(i)).nonEmpty).map(at)
      val stuffs = lines.indices.filter(i =>
        stuffing.findFirstIn(lines(i)).nonEmpty).map { i =>
        val in = (i to 0 by -1).iterator
          .flatMap(j => owner.findFirstMatchIn(lines(j))).nextOption()
        s"${f.getName}/${in.map(_.group(1)).getOrElse("")}"
      }
      (puts, stuffs)
    }.unzip
    assert(writers.flatten.isEmpty,
      s"byte writers outside MediaMap.ByteSink: ${writers.flatten}")
    assert(bitWriters.flatten == Seq("Jpeg.scala/BitSink"),
      s"entropy bit writers: ${bitWriters.flatten}")
  }

  test("MediaMap.decodeRows keeps the id's and carry columns' source " +
      "fields and the decode's row order") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.types._
    val df = Seq((3L, Array[Byte](2), "a"), (1L, Array[Byte](0), "b"),
      (2L, Array[Byte](1), "c")).toDF("doc_id", "payload", "tag")
    val out = MediaMap.decodeRows(df, "doc_id", "payload",
        Seq(StructField("k", IntegerType)), Seq("tag")) { b =>
      (0 until b(0)).map(k => Row(k))
    }
    assert(out.schema == StructType(Seq(df.schema("doc_id"),
      StructField("k", IntegerType), df.schema("tag"))))
    assert(out.collect().toSeq == Seq(Row(3L, 0, "a"), Row(3L, 1, "a"),
      Row(2L, 0, "c")))
  }
}

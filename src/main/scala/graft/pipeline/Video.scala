package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.MediaMap._

/** MJPEG-in-AVI video: REAL container walk + REAL per-frame JPEG decode.
  *
  * The one video codec the engine can take end to end with zero native
  * dependencies: AVI is a plain RIFF container (the WAV chunk machinery
  * generalized — lists nest, chunks are word-aligned), and each MJPEG
  * frame is an ordinary baseline JFIF payload that [[Jpeg.decodeJpeg]]
  * already decodes bit-identically to ImageIO. Container arithmetic is
  * public structure (MSDN AVI RIFF reference / OpenDML AVI spec);
  * reference scope: tempo has no media path at all — this serves the
  * multimodal curation side of a 100 TB corpus, where "can we decode it"
  * is itself a data-quality signal.
  *
  * Scale shape: payload bytes never shuffle — synthesis/decode are
  * per-partition maps; the only exchange in the query plans is the cheap
  * id-spread repartition BEFORE the expansion (the decodePng lesson:
  * a few-KB id scan otherwise collapses the whole decode onto 1-2 input
  * partitions). */
object Video {

  /** Parsed MJPEG clip (AVI or MP4): stream timing as an exact
    * (rate, scale) rational — frame i covers
    * [i·scale/rate, (i+1)·scale/rate) s. For AVI that is `strh`'s
    * (dwRate, dwScale); for MP4 it is (mdhd timescale, stts sample_delta)
    * — the same rational, different spec spelling. Frames are the raw
    * JFIF payloads in presentation order. */
  final case class MjpegClip(width: Int, height: Int, rate: Int, scale: Int,
      frames: IndexedSeq[Array[Byte]]) {
    def nFrames: Int = frames.length
    /** Total duration in ms, floor — nFrames·scale·1000 / rate. */
    def durationMs: Long = nFrames.toLong * scale * 1000L / rate
  }

  /** Minimal spec-valid MJPEG AVI: RIFF('AVI ') { LIST hdrl { avih,
    * LIST strl { strh(vids/MJPG, rate=fps, scale=1), strf(BITMAPINFOHEADER,
    * biCompression='MJPG') } }, LIST movi { '00dc' jfif ... } }. Chunks are
    * word-aligned (odd payloads get a pad byte) per RIFF. */
  def buildAviMjpeg(width: Int, height: Int, fps: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    require(fps > 0 && width > 0 && height > 0 && frames.nonEmpty)
    sink(_.chunkList("RIFF", "AVI ") { avi =>
      avi.chunkList("LIST", "hdrl") { hdrl =>
        hdrl.chunk("avih")(_
          .le32(1000000L / fps) // µs/frame (informational; strh carries the rational)
          .le32(0).le32(0).le32(0) // maxBytesPerSec, padding, flags
          .le32(frames.length).le32(0).le32(1).le32(0) // totalFrames, initial, streams, bufSize
          .le32(width).le32(height)
          .zeros(16)) // reserved[4]
        hdrl.chunkList("LIST", "strl") { strl =>
          strl.chunk("strh")(_
            .fourcc("vids").fourcc("MJPG").le32(0) // fccType, fccHandler, flags
            .le16(0).le16(0) // priority, language
            .le32(0) // initialFrames
            .le32(1).le32(fps) // scale, rate → fps frames/s exactly
            .le32(0).le32(frames.length) // start, length (in frames)
            .le32(0).le32(0).le32(0) // suggestedBufferSize, quality, sampleSize
            .le16(0).le16(0).le16(width).le16(height)) // rcFrame
          strl.chunk("strf")(_
            .le32(40).le32(width).le32(height) // biSize, biWidth, biHeight
            .le16(1).le16(24) // biPlanes, biBitCount
            .fourcc("MJPG") // biCompression
            .le32(width.toLong * height * 3) // biSizeImage
            .zeros(16)) // pels/clr fields
        }
      }
      avi.chunkList("LIST", "movi")(movi =>
        frames.foreach(f => movi.chunk("00dc")(_.bytes(f))))
    })
  }

  /** Walk an MJPEG AVI container: header timing from `strh` (vids/MJPG
    * only), frame payloads from the `movi` list's `##dc`/`##db` chunks
    * (including `rec ` sub-lists). Returns None on any malformed or
    * non-MJPEG structure; declared sizes are bounds-checked in Long (a
    * hostile 32-bit length must not wrap an index negative — the
    * decodePng lesson). The JFIF payloads come back raw: pair with
    * [[Jpeg.decodeJpeg]] for pixels, or count them for coverage. */
  def parseAviMjpeg(bytes: Array[Byte]): Option[MjpegClip] = {
    if (bytes == null || bytes.length < 12 ||
        tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "AVI ") return None
    var width = 0; var height = 0
    var rate = 0; var scale = 0
    var mjpeg = false
    val frames = IndexedSeq.newBuilder[Array[Byte]]
    // one recursive list walk serves hdrl, strl, movi, and rec alike
    def walk(from: Long, to: Long, inMovi: Boolean): Boolean = {
      var o = from
      while (o + 8 <= to) {
        val oi = o.toInt
        val id = tag(bytes, oi)
        val sz = le32(bytes, oi + 4)
        val body = o + 8
        if (body + sz > to) return false // declared length escapes parent
        if (id == "LIST") {
          if (sz < 4) return false
          val lt = tag(bytes, body.toInt)
          if (!walk(body + 4, body + sz, inMovi || lt == "movi" || lt == "rec "))
            return false
        } else if (id == "avih") {
          if (sz < 56) return false
          width = le32(bytes, oi + 8 + 32).toInt
          height = le32(bytes, oi + 8 + 36).toInt
        } else if (id == "strh") {
          if (sz < 56) return false
          if (tag(bytes, oi + 8) == "vids") {
            mjpeg = tag(bytes, oi + 12) == "MJPG"
            scale = le32(bytes, oi + 8 + 20).toInt
            rate = le32(bytes, oi + 8 + 24).toInt
          }
        } else if (inMovi && id.length == 4 &&
            id(0).isDigit && id(1).isDigit &&
            (id.substring(2) == "dc" || id.substring(2) == "db")) {
          if (sz > Int.MaxValue) return false
          frames += java.util.Arrays.copyOfRange(bytes, body.toInt,
            (body + sz).toInt)
        }
        o = body + sz + (sz & 1L) // word alignment
      }
      true
    }
    val total = 8L + le32(bytes, 4)
    if (total > bytes.length) return None
    if (!walk(12L, total, inMovi = false)) return None
    val fs = frames.result()
    if (!mjpeg || rate <= 0 || scale <= 0 || width <= 0 || height <= 0 ||
        fs.isEmpty) None
    else Some(MjpegClip(width, height, rate, scale, fs))
  }

  /** Deterministic MJPEG-AVI fixture column — the
    * [[Jpeg.synthesizeJpegPayload]] discipline, video edition: every
    * container field and every frame's 8×8 block constants derive from the
    * id, so the oracle restates per-frame decoded sums in SQL while the
    * engine must genuinely walk RIFF lists AND huffman-decode + IDCT each
    * frame:
    *  - fps = 2 + id % 4, frames n = 3 + id % 5
    *  - width = 8·(1 + id % 3), height = 8·(1 + (id·2) % 3)
    *  - frame f, block(bx, by) = (id % 251 + 29·f + 17·by + 23·bx) % 256 */
  def synthesizeAviPayload(df: DataFrame, idCol: String,
      payloadCol: String = "payload"): DataFrame =
    withIdPayload(df, idCol, payloadCol)(aviPayloadFor)

  /** The single-payload form of [[synthesizeAviPayload]]'s arithmetic. */
  private[pipeline] def aviPayloadFor(id: Long): Array[Byte] = {
    val (fps, w, h, frames) = fixtureClip(id, (id % 251).toInt)
    buildAviMjpeg(w, h, fps, frames)
  }

  /** The [[synthesizeAviPayload]] clip of `id` with block base `base`:
    * (fps, width, height, JFIF frames). */
  private def fixtureClip(id: Long, base: Int)
      : (Int, Int, Int, IndexedSeq[Array[Byte]]) = {
    val w = (8 * (1 + id % 3)).toInt
    val h = (8 * (1 + (id * 2) % 3)).toInt
    ((2 + id % 4).toInt, w, h, (0 until (3 + id % 5).toInt).map { f =>
      Jpeg.buildJpegWithBlocks(w, h,
        (bx, by) => (base + 29 * f + 17 * by + 23 * bx) % 256)
    })
  }

  // ------------------------------------------------------ MJPEG in MP4
  // ISO BMFF (ISO/IEC 14496-12, public spec): big-endian size+type boxes.

  /** The `ftyp` box of every MP4 fixture: brand isom, version 512. */
  private[pipeline] def ftyp(s: ByteSink): ByteSink =
    s.box("ftyp")(_.fourcc("isom").be32(512).fourcc("isom"))

  /** The identity transformation matrix of `mvhd` and `tkhd`. */
  private[pipeline] def identityMatrix(s: ByteSink): ByteSink =
    s.be32(0x00010000L).zeros(12).be32(0x00010000L).zeros(12)
      .be32(0x40000000L)

  /** Minimal spec-valid MJPEG MP4 (Photo-JPEG sample description 'jpeg'):
    * ftyp + mdat(frames concatenated) + moov { mvhd, trak { tkhd, mdia {
    * mdhd(timescale), hdlr(vide), minf { vmhd, dinf/dref(url,
    * self-contained), stbl { stsd(VisualSampleEntry 'jpeg'),
    * stts(1 run × sampleDelta), stsc(1,1,1), stsz(per-sample),
    * stco(absolute offsets) } } } } }. One sample per chunk; mdat
    * precedes moov so stco offsets are fixed at build time. */
  def buildMp4Mjpeg(width: Int, height: Int, timescale: Int,
      sampleDelta: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    require(width > 0 && height > 0 && timescale > 0 && sampleDelta > 0 &&
      frames.nonEmpty)
    // sample i starts past ftyp (20 bytes), the mdat header and earlier frames
    val offsets = frames.scanLeft(20L + 8L)(_ + _.length).init
    val duration = frames.length.toLong * sampleDelta
    val n = frames.length
    sink { s =>
      ftyp(s).box("mdat")(m => frames.foreach(m.bytes))
      s.box("moov") { moov =>
        moov.box("mvhd") { m =>
          // version/flags, creation, modification, timescale, duration,
          // rate 1.0, volume 1.0, reserved
          m.be32(0).be32(0).be32(0).be32(timescale).be32(duration)
            .be32(0x00010000L).be16(0x0100).zeros(10)
          identityMatrix(m).zeros(24).be32(2) // pre_defined[6], next_track_ID
        }
        moov.box("trak") { trak =>
          trak.box("tkhd") { t =>
            // flags enabled|in_movie|in_preview, creation, modification,
            // track_ID, reserved, duration, reserved[2], layer,
            // alternate_group, volume, reserved
            t.be32(7).be32(0).be32(0).be32(1).be32(0).be32(duration)
              .zeros(16)
            identityMatrix(t).be32(width.toLong << 16).be32(height.toLong << 16)
          }
          trak.box("mdia") { mdia =>
            mdia.box("mdhd")(_.be32(0).be32(0).be32(0).be32(timescale)
              .be32(duration).be16(0x55C4).be16(0)) // language 'und'
            mdia.box("hdlr")(_.be32(0).be32(0).fourcc("vide").zeros(12)
              .bytes("VideoHandler".getBytes(
                java.nio.charset.StandardCharsets.US_ASCII)).u8(0))
            mdia.box("minf") { minf =>
              minf.box("vmhd")(_.be32(1).zeros(8))
              minf.box("dinf")(_.box("dref")(_.be32(0).be32(1)
                .box("url ")(_.be32(1)))) // flag 1 = data in this file
              minf.box("stbl") { stbl =>
                stbl.box("stsd")(_.be32(0).be32(1).box("jpeg")(_
                  .zeros(6).be16(1) // reserved, data_ref_index
                  .zeros(16).be16(width).be16(height)
                  .be32(0x00480000L).be32(0x00480000L) // 72 dpi
                  .be32(0).be16(1) // reserved, frame_count
                  .zeros(32) // compressorname (pascal, empty)
                  .be16(24).be16(0xFFFF))) // depth, pre_defined = -1
                stbl.box("stts")(_.be32(0).be32(1).be32(n).be32(sampleDelta))
                stbl.box("stsc")(_.be32(0).be32(1).be32(1).be32(1).be32(1))
                stbl.box("stsz") { b =>
                  b.be32(0).be32(0).be32(n)
                  frames.foreach(f => b.be32(f.length.toLong))
                }
                stbl.box("stco") { b =>
                  b.be32(0).be32(n)
                  offsets.foreach(b.be32)
                }
              }
            }
          }
        }
      }
    }
  }

  /** Walk an ISO BMFF container for an MJPEG video track: moov → trak →
    * mdia{mdhd, hdlr(vide), minf/stbl} with the sample-table triple
    * stsc/stsz/stco resolving every sample's absolute byte range and
    * stsd gating on a JPEG sample description ('jpeg' Photo-JPEG,
    * 'mjpa', or 'MJPG'). Returns None on any malformed, non-JPEG, or
    * hostile structure — declared sizes (including 64-bit `largesize`
    * headers) are Long-checked against their parent before any index
    * math, and every stco/stsz sample range is checked against the file
    * (the decodePng lesson). H.264 ('avc1') and other codecs fall out at
    * the stsd gate: header_only, never a crash. */
  def parseMp4Mjpeg(bytes: Array[Byte]): Option[MjpegClip] = {
    if (bytes == null || bytes.length < 12 || tag(bytes, 4) != "ftyp")
      return None
    val jpegFourccs = Set("jpeg", "mjpa", "MJPG")
    // box iterator: f receives (type, bodyFrom, bodyTo); returns false to
    // abort the walk as malformed
    def boxes(from: Long, to: Long)(f: (String, Long, Long) => Boolean): Boolean = {
      var o = from
      while (o + 8 <= to) {
        val sz0 = be32(bytes, o.toInt)
        val (hdr, sz) =
          if (sz0 == 1L) {
            if (o + 16 > to) return false
            (16L, be64(bytes, (o + 8).toInt))
          } else if (sz0 == 0L) (8L, to - o) // box runs to end of parent
          else (8L, sz0)
        if (sz < hdr || o + sz > to) return false // hostile declared size
        if (!f(tag(bytes, (o + 4).toInt), o + hdr, o + sz)) return false
        o += sz
      }
      true
    }
    var width = 0; var height = 0
    var timescale = 0L; var sampleDelta = 0L; var nSamples = 0L
    var handlerVide = false; var fourccOk = false
    var sizes: Array[Long] = null
    var chunkOffs: Array[Long] = null
    var stscRuns: Array[(Long, Long)] = null // (first_chunk, samples_per_chunk)
    def u32At(body: Long, k: Int): Long = be32(bytes, (body + 4L * k).toInt)
    def stbl(from: Long, to: Long): Boolean = boxes(from, to) { (id, b, e) =>
      id match {
        case "stsd" =>
          if (e - b < 16) return false
          if (be32(bytes, b.toInt) != 0L) return false // version 0 only
          if (u32At(b, 1) < 1L) return false
          // first sample entry: size(4) + format(4) at b+8; dims at +32/+34
          val entry = b + 8
          if (e - entry < 36) return false
          fourccOk = jpegFourccs.contains(tag(bytes, (entry + 4).toInt))
          width = be16(bytes, (entry + 32).toInt)
          height = be16(bytes, (entry + 34).toInt)
          true
        case "stts" =>
          // constant-rate track: exactly one (count, delta) run
          if (e - b < 16 || be32(bytes, b.toInt) != 0L ||
            u32At(b, 1) != 1L) return false
          nSamples = u32At(b, 2); sampleDelta = u32At(b, 3)
          true
        case "stsc" =>
          if (e - b < 8 || be32(bytes, b.toInt) != 0L) return false
          val n = u32At(b, 1)
          if (e - b < 8 + 12 * n) return false
          stscRuns = Array.tabulate(n.toInt)(i =>
            (u32At(b, 2 + 3 * i), u32At(b, 3 + 3 * i)))
          true
        case "stsz" =>
          if (e - b < 12 || be32(bytes, b.toInt) != 0L) return false
          val uniform = u32At(b, 1); val n = u32At(b, 2)
          // The uniform path has no body-size bound tying n to the file, so a
          // hostile u32 sample_count (~2^31) would otherwise drive a multi-GB
          // Array.fill before the global nSamples gate runs. Cap BEFORE any
          // allocation (same discipline as the JPEG SOF MaxDecodedSamples cap).
          if (n > (1L << 20)) return false
          if (uniform != 0L) sizes = Array.fill(n.toInt)(uniform)
          else {
            if (e - b < 12 + 4 * n) return false
            sizes = Array.tabulate(n.toInt)(i => u32At(b, 3 + i))
          }
          true
        case "stco" =>
          if (e - b < 8 || be32(bytes, b.toInt) != 0L) return false
          val n = u32At(b, 1)
          if (e - b < 8 + 4 * n) return false
          chunkOffs = Array.tabulate(n.toInt)(i => u32At(b, 2 + i))
          true
        case _ => true
      }
    }
    def mdia(from: Long, to: Long): Boolean = boxes(from, to) { (id, b, e) =>
      id match {
        case "mdhd" =>
          if (e - b < 24 || be32(bytes, b.toInt) != 0L) return false
          timescale = u32At(b, 3)
          true
        case "hdlr" =>
          if (e - b < 24) return false
          handlerVide = tag(bytes, (b + 8).toInt) == "vide"
          true
        case "minf" => boxes(b, e) { (sid, sb, se) =>
          if (sid == "stbl") stbl(sb, se) else true
        }
        case _ => true
      }
    }
    val okWalk = boxes(0L, bytes.length.toLong) { (id, mb, me) =>
      if (id != "moov") true
      else boxes(mb, me) { (tid, tb, te) =>
        if (tid != "trak") true
        else boxes(tb, te) { (did, b, e) =>
          if (did == "mdia") mdia(b, e) else true
        }
      }
    }
    if (!okWalk || !handlerVide || !fourccOk || width <= 0 || height <= 0 ||
      timescale <= 0L || timescale > Int.MaxValue ||
      sampleDelta <= 0L || sampleDelta > Int.MaxValue ||
      nSamples <= 0L || nSamples > (1L << 20) ||
      sizes == null || sizes.length != nSamples ||
      chunkOffs == null || stscRuns == null || stscRuns.isEmpty) return None
    // expand stsc runs over the chunk list and slice every sample
    val frames = IndexedSeq.newBuilder[Array[Byte]]
    var sample = 0
    var run = 0
    var chunk = 1L
    while (chunk <= chunkOffs.length && sample < sizes.length) {
      if (run + 1 < stscRuns.length && chunk >= stscRuns(run + 1)._1) run += 1
      if (stscRuns(run)._1 > chunk) return None // runs must cover chunk 1
      val spc = stscRuns(run)._2
      var off = chunkOffs((chunk - 1).toInt)
      var s = 0L
      while (s < spc && sample < sizes.length) {
        val len = sizes(sample)
        if (off < 0 || len < 0 || off + len > bytes.length) return None
        frames += java.util.Arrays.copyOfRange(bytes, off.toInt,
          (off + len).toInt)
        off += len
        sample += 1
        s += 1
      }
      chunk += 1
    }
    if (sample != sizes.length) return None // sample table inconsistent
    Some(MjpegClip(width, height, timescale.toInt, sampleDelta.toInt,
      frames.result()))
  }

  /** Container dispatch: AVI first (cheap RIFF signature), then ISO BMFF.
    * Everything downstream (frame stats, sampling, histograms, coverage)
    * works per [[MjpegClip]], so both containers share one decode path. */
  def parseVideoMjpeg(bytes: Array[Byte]): Option[MjpegClip] =
    if (bytes != null && bytes.length >= 12 && tag(bytes, 0) == "RIFF")
      parseAviMjpeg(bytes)
    else parseMp4Mjpeg(bytes)

  /** Deterministic MJPEG-MP4 fixture column: the SAME frame arithmetic as
    * [[synthesizeAviPayload]] (so the decode oracle is shared verbatim)
    * carried in an ISO BMFF container with (timescale = fps, delta = 1) —
    * the same timing rational as the AVI twin. The engine must walk real
    * boxes and resolve the stsc/stsz/stco sample table to match. */
  def synthesizeMp4Payload(df: DataFrame, idCol: String,
      payloadCol: String = "payload"): DataFrame =
    withIdPayload(df, idCol, payloadCol)(mp4PayloadFor)

  /** The single-payload form of [[synthesizeMp4Payload]]'s arithmetic —
    * [[aviPayloadFor]]'s frames, MP4 container. */
  private[pipeline] def mp4PayloadFor(id: Long): Array[Byte] = {
    val (fps, w, h, frames) = fixtureClip(id, (id % 251).toInt)
    buildMp4Mjpeg(w, h, timescale = fps, sampleDelta = 1, frames)
  }

  /** Per-frame pixel statistics through the REAL container walk + REAL
    * JPEG decode: one output row per (video, frame). Undecodable frames
    * and unparseable containers are dropped ([[Jpeg.jpegPixelStats]]
    * convention); per-partition map, no shuffle. */
  def videoFrameStats(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("n_samples", LongType),
      StructField("sample_sum", LongType))) { bytes =>
      parseVideoMjpeg(bytes).iterator.flatMap { clip =>
        clip.frames.iterator.zipWithIndex.flatMap { case (jfif, f) =>
          Jpeg.decodeJpeg(jfif).map(img => Row(f, img.width, img.height,
            img.channels, img.samples.length.toLong, sampleSum(img.samples)))
        }
      }
    }

  /** One decoded frame of a clip ([[shotFrames]]): its index in the clip,
    * its pixels, its SAD against the previous decoded frame (None on the
    * first frame and on a shape change) and whether it starts a shot. */
  private[pipeline] final case class ShotFrame(frameIdx: Int,
      img: Multimodal.DecodedImage, sad: Option[Long], startsShot: Boolean)

  /** The shot-cut rule of [[sceneCuts]], [[shotKeyframes]] and
    * [[keyframePHashes]]: the clip's frames decoded in order, undecodable
    * ones dropped. The first decoded frame starts a shot; a resolution or
    * channel change is a cut; otherwise a frame is a cut when its SAD
    * against the previous DECODED frame, Σ|v_f − v_prev|, reaches
    * `threshold`·n_samples. Holds one previous frame, not the clip. */
  private[pipeline] def shotFrames(clip: MjpegClip,
      threshold: Int): Iterator[ShotFrame] = {
    var prev: Multimodal.DecodedImage = null
    clip.frames.iterator.zipWithIndex.flatMap { case (jfif, f) =>
      Jpeg.decodeJpeg(jfif).map { img =>
        val sad =
          if (prev == null || prev.width != img.width ||
              prev.height != img.height || prev.channels != img.channels) None
          else {
            var s = 0L
            var i = 0
            val a = prev.samples
            val b = img.samples
            while (i < b.length) { s += math.abs(b(i) - a(i)); i += 1 }
            Some(s)
          }
        prev = img
        ShotFrame(f, img, sad,
          sad.forall(_ >= threshold.toLong * img.samples.length))
      }
    }
  }

  /** Shot-boundary (scene-cut) detection by sum-of-absolute-differences —
    * the classical pixel-difference detector (frame differencing, the
    * baseline in every shot-detection survey): for each consecutive frame
    * pair, SAD = Σ_pixels |v_f − v_{f−1}| over the REAL decoded samples,
    * and a cut fires where the mean absolute difference reaches
    * `threshold` gray levels — `sad ≥ threshold · n_samples`, exact
    * integers end to end (|sad| ≤ 255·n, no quantization anywhere).
    *
    * One output row per TRANSITION (frame_idx = the incoming frame,
    * 1-based): (idCol, frame_idx, n_samples, sad, is_cut). A resolution
    * change mid-clip is a hard cut by definition (format discontinuity):
    * sad is null, is_cut true. Undecodable frames drop out of the
    * sequence entirely (the [[videoFrameStats]] convention) — transitions
    * are between consecutively-DECODED frames.
    *
    * Scale shape: the whole detector is a per-partition map over clips
    * (frames of one clip are adjacent inside its payload — no shuffle,
    * no window); memory holds ONE previous frame per clip, not the clip.
    * Keyframe selection for a 100 TB training corpus reads off this
    * frame: sample one frame per detected shot instead of a blind time
    * lattice ([[sampleVideoFrames]]). */
  def sceneCuts(df: DataFrame, idCol: String, payloadCol: String,
      threshold: Int = 64): DataFrame = {
    require(threshold > 0, "threshold must be positive gray levels")
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("frame_idx", IntegerType),
      StructField("n_samples", LongType),
      StructField("sad", LongType),
      StructField("is_cut", BooleanType))) { bytes =>
      // the first decoded frame has no incoming transition
      parseVideoMjpeg(bytes).iterator.flatMap(clip =>
        shotFrames(clip, threshold).drop(1).map(sf => Row(sf.frameIdx,
          sf.img.samples.length.toLong, sf.sad.getOrElse(null), sf.startsShot)))
    }
  }

  /** Per-clip fingerprint input: every decoded frame's
    * [[Multimodal.imageFpInput]] ("w:h:ch:s1:s2") joined with '|' in
    * presentation order. The single source of the video fingerprint
    * format, shared by [[videoFingerprints]] and the video arm of
    * [[Multimodal.mediaFingerprints]]; undecodable frames drop from
    * the sequence (the [[videoFrameStats]] convention). Returns
    * (n_decoded_frames, input). */
  private[pipeline] def videoFpInput(clip: MjpegClip): (Int, String) = {
    val sb = new StringBuilder
    var nf = 0
    clip.frames.foreach { jfif =>
      Jpeg.decodeJpeg(jfif).foreach { img =>
        if (nf > 0) sb.append('|')
        sb.append(Multimodal.imageFpInput(img))
        nf += 1
      }
    }
    (nf, sb.toString)
  }

  /** Per-clip content fingerprint over the REAL decoded frames: each
    * frame contributes its exact (width, height, channels, Σv, Σv²) —
    * two integer moments of the decoded samples plus the full decoded
    * shape — and the clip fingerprint is the md5 of the
    * "w:h:ch:s1:s2" sequence joined in presentation order
    * ([[videoFpInput]] — the same per-frame format as the image arm).
    * Dimension changes, any re-encode that alters pixels, frame
    * insertions/reorderings all change the fingerprint; the moments are
    * exact integers so the fingerprint is engine-reproducible (no float
    * path), and an undecodable frame drops from the sequence (the
    * [[videoFrameStats]] convention) so a corrupt copy separates from
    * its clean original. Output: (idCol, n_frames, fp).
    *
    * Scale shape: per-partition decode map (payloads never shuffle),
    * constant state per clip — the dedup groupBy downstream shuffles
    * only (fp, n_frames) rows, never pixels. */
  def videoFingerprints(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    decodeRows(df, idCol, payloadCol, Seq(StructField("n_frames", IntegerType),
        StructField("__fp_input", StringType))) { bytes =>
      parseVideoMjpeg(bytes).map { clip =>
        val (nf, in) = videoFpInput(clip)
        Row(nf, in)
      }
    }.select(col(idCol), col("n_frames"), md5(col("__fp_input")).alias("fp"))

  /** Exact video dedup over [[videoFingerprints]]: clips with identical
    * decoded content collapse to one group — min-id representative, the
    * [[Dedup]] canonical convention. Output: (fp, n_frames, rep_id,
    * n_docs). */
  def videoDedup(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    videoFingerprints(df, idCol, payloadCol)
      .groupBy(col("fp"), col("n_frames"))
      .agg(min(col(idCol)).alias("rep_id"),
        count(lit(1)).alias("n_docs"))

  /** High-collision MJPEG-AVI dedup fixture: the [[synthesizeAviPayload]]
    * arithmetic with the base folded to id % 13, so clips are identical
    * exactly when id ≡ id' (mod lcm(13, 5, 3) = 195) — every replica
    * class has multiple members at correctness scale and the dedup
    * groups are non-vacuous. */
  def synthesizeAviDedupPayload(df: DataFrame, idCol: String,
      payloadCol: String = "payload"): DataFrame =
    withIdPayload(df, idCol, payloadCol)(aviDedupPayloadFor)

  /** The single-payload form of [[synthesizeAviDedupPayload]]. */
  private[pipeline] def aviDedupPayloadFor(id: Long): Array[Byte] = {
    val (fps, w, h, frames) = fixtureClip(id, ((id % 13) * 19).toInt)
    buildAviMjpeg(w, h, fps, frames)
  }

  /** Keyframe-per-shot selection — the curation artifact [[sceneCuts]]
    * exists for: segment each clip at its detected cuts (same SAD ≥
    * threshold·n rule, same resolution-change-is-a-cut and
    * undecodable-frames-drop conventions) and emit ONE row per shot with
    * its first frame as the keyframe. A video training corpus samples
    * per-shot instead of on a blind time lattice
    * ([[sampleVideoFrames]]) — every shot represented, no redundant
    * near-identical frames from a static scene.
    *
    * Output: (idCol, shot_idx, start_frame, n_frames, n_samples,
    * keyframe_sum) — shot_idx 0-based per clip, start_frame the
    * keyframe's original frame index, n_samples/keyframe_sum the decoded
    * pixel count/sum of that keyframe. Same per-partition-map scale
    * shape as [[sceneCuts]]: one previous frame of state, no shuffle. */
  def shotKeyframes(df: DataFrame, idCol: String, payloadCol: String,
      threshold: Int = 64): DataFrame = {
    require(threshold > 0, "threshold must be positive gray levels")
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("shot_idx", IntegerType),
      StructField("start_frame", IntegerType),
      StructField("n_frames", IntegerType),
      StructField("n_samples", LongType),
      StructField("keyframe_sum", LongType))) { bytes =>
      parseVideoMjpeg(bytes).iterator.flatMap { clip =>
        // per shot: start_frame, n_frames, n_samples, keyframe_sum
        val shots = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
        shotFrames(clip, threshold).foreach { sf =>
          if (sf.startsShot) shots += Array(sf.frameIdx, 0L,
            sf.img.samples.length.toLong, sampleSum(sf.img.samples))
          shots.last(1) += 1
        }
        shots.iterator.zipWithIndex.map { case (s, i) =>
          Row(i, s(0).toInt, s(1).toInt, s(2), s(3))
        }
      }
    }
  }

  /** Per-shot keyframe perceptual hashes — the near-dup signature the
    * exact [[videoFingerprints]] cannot give: segment each clip at its
    * detected cuts (the [[shotKeyframes]] segmentation, same SAD ≥
    * threshold·n rule and conventions) and pHash the FIRST frame of each
    * shot through [[Multimodal.phash64]] (the shared fixed-point DCT
    * kernel — one hash format across still images and video keyframes).
    * A re-encode that perturbs pixels slightly moves the exact moment
    * fingerprint but leaves the low-frequency DCT signs intact, so
    * keyframe pHashes survive quality shifts that break exact dedup.
    *
    * Output: (idCol, n_shots, shot_idx, phash_hi, phash_lo) — one row per
    * shot, n_shots stamped on every row (computed inside the same decode
    * pass; no second aggregate over the clip table). Same per-partition
    * map scale shape as [[sceneCuts]]: one previous frame of state,
    * payloads never shuffle. */
  def keyframePHashes(df: DataFrame, idCol: String, payloadCol: String,
      threshold: Int = 64): DataFrame = {
    require(threshold > 0, "threshold must be positive gray levels")
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("n_shots", IntegerType),
      StructField("shot_idx", IntegerType),
      StructField("phash_hi", LongType),
      StructField("phash_lo", LongType))) { bytes =>
      parseVideoMjpeg(bytes).iterator.flatMap { clip =>
        val hashes = shotFrames(clip, threshold).filter(_.startsShot)
          .map(sf => Multimodal.phash64(sf.img)).toIndexedSeq
        hashes.iterator.zipWithIndex.map { case (h, s) =>
          Row(hashes.length, s, h >>> 32, h & 0xFFFFFFFFL)
        }
      }
    }
  }

  /** Video NEAR-duplicate pairs — the re-encode-robust complement to
    * [[videoDedup]], the [[Multimodal.dhashNearDupPairs]] LSH discipline
    * applied to [[keyframePHashes]] signatures: band-bucket every
    * keyframe hash (4 × 16-bit equi-join keys — by pigeonhole any hash
    * pair within Hamming 3 shares a band, so candidate recall is exact
    * for the default radius), verify candidates with the exact popcount
    * Hamming distance, then fold matched keyframes per clip pair. Two
    * clips are near-duplicates when, on BOTH sides, at least
    * `minMatchPct`% of the clip's shots have a matching keyframe in the
    * other clip — integer arithmetic end to end
    * (matched·100 ≥ pct·shots), so the verdict replays exactly.
    *
    * Output: (id_a, id_b, n_shots_a, n_shots_b, n_matched_a,
    * n_matched_b), id_a < id_b, near-dup pairs only.
    *
    * Scale shape: the only joins are banded equi-joins over keyframe-HASH
    * rows (the winnowPairs discipline — never all-pairs, pixels never
    * shuffle), through the shared [[Multimodal.unitNearDupPairs]] fold
    * (one pair-semantics source across modalities); exact-duplicate
    * clusters should be collapsed by [[videoDedup]] FIRST at corpus scale
    * so the band buckets hold near-dup candidates, not exact-copy
    * cliques. */
  def videoNearDupPairs(df: DataFrame, idCol: String, payloadCol: String,
      threshold: Int = 64, maxHamming: Int = 3,
      minMatchPct: Int = 60, maxBucketSize: Int = 4096): DataFrame =
    nearDupPairsFromKeyframes(keyframePHashes(df, idCol, payloadCol,
      threshold), idCol, maxHamming, minMatchPct, maxBucketSize)

  /** The pair fold over an ALREADY-COMPUTED [[keyframePHashes]] frame —
    * the face a streaming deployment uses (keyframe hashes emitted
    * statelessly at ingest, the fold run over the sink; each (clip,
    * shot) signature row is emitted exactly once). */
  def nearDupPairsFromKeyframes(kf: DataFrame, idCol: String,
      maxHamming: Int = 3, minMatchPct: Int = 60,
      maxBucketSize: Int = 4096): DataFrame =
    Multimodal.unitNearDupPairs(
      kf.withColumnRenamed("n_shots", "n_units")
        .withColumnRenamed("shot_idx", "unit_idx"),
      idCol, "phash_hi", "phash_lo", maxHamming, minMatchPct,
      maxBucketSize)
      .withColumnRenamed("n_units_a", "n_shots_a")
      .withColumnRenamed("n_units_b", "n_shots_b")

  /** Near-dup MJPEG-AVI fixture: multi-shot clips where content derives
    * from a class key and a small BRIGHTNESS delta from a variant key —
    * the deterministic stand-in for a re-encode (pixels move, structure
    * does not), built so exact fingerprints separate variants while
    * keyframe pHashes collapse them:
    *  - group g = id / 10 (10 consecutive ids per content group — group
    *    MEMBERSHIP is bounded while group COUNT grows with the corpus,
    *    the realistic dedup shape; a `cls = id % 50` draft grew cliques
    *    linearly with corpus size, which turns the pair OUTPUT quadratic
    *    at scale), variant delta = 2·(id % 3)
    *  - n = 4 + g % 3 frames, 32×32 (4×4 blocks), fps = 4
    *  - block(f, by, bx) = (S + 97·(f/2) + 3·(f%2)) % 250 + delta, where
    *    S = ((13·(g%197) + 7)·i² + 23·(g%193)·i) % 197, i = 4·by+bx+1 —
    *    a per-group SCRAMBLED quadratic, not a smooth ramp (a ramp
    *    fixture measured cross-class Hamming 0: pHash is invariant to
    *    contrast and brightness, so only STRUCTURE separates), with
    *    (g mod 197, g mod 193) giving ~38k distinct patterns by CRT —
    *    collision-free at correctness scale, bounded rare cross-group
    *    collapses at replica scale.
    * Shots are frame pairs: the within-shot step (+3/pixel) stays far
    * under the SAD threshold, the between-shot step (+94/pixel, or 156
    * through a mod wrap) always fires it. delta rides OUTSIDE the mod
    * (values ≤ 253), so every variant of a group shares the exact shot
    * structure and differs by a constant lift the DCT signs ignore. */
  def synthesizeAviNearDupPayload(df: DataFrame, idCol: String,
      payloadCol: String = "payload"): DataFrame =
    withIdPayload(df, idCol, payloadCol) { id =>
      val g = id / 10
      val delta = (2 * (id % 3)).toInt
      val n = (4 + g % 3).toInt
      val k1 = (13 * (g % 197) + 7).toInt
      val k2 = (23 * (g % 193)).toInt
      val frames = (0 until n).map { f =>
        Jpeg.buildJpegWithBlocks(32, 32, { (bx, by) =>
          val i = 4 * by + bx + 1
          val s = (k1 * i * i + k2 * i) % 197
          (s + 97 * (f / 2) + 3 * (f % 2)) % 250 + delta
        })
      }
      buildAviMjpeg(32, 32, 4, frames)
    }

  /** REAL frame sampling: every `everyMs` on the stream clock, decode THE
    * frame covering that instant — index = ⌊ts·rate / (1000·scale)⌋ from
    * the exact strh rational — and emit its pixel sum. This is
    * [[Multimodal.sampleFramePlan]] taken all the way to pixels: the
    * lattice explode happens inside the partition map (bounded by the
    * clip's own frame count), payloads never shuffle. */
  def sampleVideoFrames(df: DataFrame, idCol: String, payloadCol: String,
      everyMs: Long): DataFrame = {
    require(everyMs > 0, "everyMs must be positive")
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("frame_ts_ms", LongType),
      StructField("frame_idx", IntegerType),
      StructField("sample_sum", LongType))) { bytes =>
      parseVideoMjpeg(bytes).iterator.flatMap { avi =>
        // decode lazily and at most once per frame actually sampled
        val cache = new java.util.HashMap[Int, Long]()
        Iterator.iterate(0L)(_ + everyMs)
          .map(ts => (ts, (ts * avi.rate / (1000L * avi.scale)).toInt))
          .takeWhile(_._2 < avi.nFrames)
          .flatMap { case (ts, f) =>
            val sum = cache.computeIfAbsent(f, _ =>
              Jpeg.decodeJpeg(avi.frames(f)).map(img => sampleSum(img.samples))
                .getOrElse(Long.MinValue))
            if (sum == Long.MinValue) None else Some(Row(ts, f, sum))
          }
      }
    }
  }
}

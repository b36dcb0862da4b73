package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.MediaMap._

/** Multimodal column plumbing: image/audio/video payloads as opaque `binary`
  * columns with a typed metadata struct, plus batch-shaped decode /
  * feature-extract / resize / frame-sample / coverage operators.
  *
  * Metadata extraction ([[withMediaMeta]]) is REAL header parsing — pure
  * byte-offset arithmetic over PNG IHDR, JPEG SOF markers, WAV and AVI
  * RIFF chunks and MP4 mvhd boxes; no codec library involved. Sample
  * decode is REAL for every format the pipeline fixtures exercise:
  * PNG pixels ([[decodePng]]: JDK Inflater + the spec's five scanline
  * unfilters), WAV PCM ([[decodeWavSamples]]: chunk walk + sign-extended
  * LE16 reads), baseline AND progressive JPEG ([[Jpeg.decodeJpeg]]:
  * pure-JVM IJG-arithmetic decoder, ImageIO-bit-identical), and
  * MJPEG-AVI video ([[Video.parseAviMjpeg]] + per-frame JPEG decode).
  * No codec seam remains; formats outside that set (e.g. MP4/H.264
  * samples, arithmetic-coded JPEG) deliberately return None, and
  * [[mediaCoverage]] reports the decoded / header-only / dropped split
  * as a first-class curation metric.
  *
  * [[fingerprintFeatures]] (the [[extractFeatures]] fallback for
  * non-decodable payloads) uses the engine-agnostic [[Hashing]]
  * polynomial, so for ASCII payloads (bytes == codepoints) a DuckDB
  * oracle can replay the extracted features bit-for-bit; the header
  * parser is correctness-gated by `q_media_meta_real`, the decoders by
  * `q_decode_png/_jpeg/_jpeg_prog/_wav/_video`, `q_pixel_hist`, and
  * `q_resize_real` — all payloads synthesized from arithmetic the
  * oracle replays without touching bytes.
  */
object Multimodal {

  /** Canonical multimodal schema fragment. */
  val MediaMeta: StructType = StructType(Seq(
    StructField("media_type", StringType),   // image | audio | video
    StructField("format", StringType),       // png | jpeg | wav | mp4
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  /** Parsed header metadata, or all-null when the payload matches no known
    * container. Fields follow [[MediaMeta]]. */
  private[pipeline] def parseMediaMeta(bytes: Array[Byte])
      : (String, String, Option[Int], Option[Int], Option[Long]) = {
    val none = (null: String, null: String,
      None: Option[Int], None: Option[Int], None: Option[Long])
    if (bytes == null || bytes.length < 12) return none
    // PNG: 8-byte signature, then the IHDR chunk (len + "IHDR" + w/h BE32).
    if (bytes.length >= 24 &&
        (bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' &&
        bytes(3) == 'G' && bytes(4) == 0x0D && bytes(5) == 0x0A &&
        bytes(6) == 0x1A && bytes(7) == 0x0A && tag(bytes, 12) == "IHDR") {
      val w = be32(bytes, 16); val h = be32(bytes, 20)
      return ("image", "png", Some(w.toInt), Some(h.toInt), None)
    }
    // JPEG: SOI then marker segments; SOFn carries precision/height/width.
    if ((bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8) {
      var i = 2
      while (i + 3 < bytes.length) {
        if ((bytes(i) & 0xFF) != 0xFF) return ("image", "jpeg", None, None, None)
        val marker = bytes(i + 1) & 0xFF
        if (marker == 0xD8 || marker == 0x01 ||
            (marker >= 0xD0 && marker <= 0xD7)) {
          i += 2 // standalone marker, no length field
        } else if (marker == 0xD9 || marker == 0xDA) {
          return ("image", "jpeg", None, None, None) // EOI/SOS before any SOF
        } else {
          val segLen = be16(bytes, i + 2)
          val isSof = marker >= 0xC0 && marker <= 0xCF &&
            marker != 0xC4 && marker != 0xC8 && marker != 0xCC
          if (isSof && i + 8 < bytes.length) {
            val h = be16(bytes, i + 5); val w = be16(bytes, i + 7)
            return ("image", "jpeg", Some(w), Some(h), None)
          }
          i += 2 + segLen
        }
      }
      return ("image", "jpeg", None, None, None)
    }
    // AVI: RIFF/'AVI ', first LIST hdrl → avih (µs/frame, totalFrames,
    // dims) — header arithmetic only; frame decode is [[Video]]'s job.
    if (tag(bytes, 0) == "RIFF" && tag(bytes, 8) == "AVI ") {
      var o = 12L
      while (o + 8 <= bytes.length) {
        val oi = o.toInt
        val id = tag(bytes, oi); val sz = le32(bytes, oi + 4)
        if (id == "LIST" && o + 12 <= bytes.length &&
            tag(bytes, oi + 8) == "hdrl" && o + 20 + 56 <= bytes.length &&
            tag(bytes, oi + 12) == "avih") {
          val usPerFrame = le32(bytes, oi + 20)
          val totalFrames = le32(bytes, oi + 20 + 16)
          val w = le32(bytes, oi + 20 + 32).toInt
          val h = le32(bytes, oi + 20 + 36).toInt
          // both factors are hostile unsigned 32-bit reads: the product can
          // reach ~1.8e19 and wrap Long — reject rather than report a
          // negative/garbage duration (same discipline as declared sizes).
          val ms = if (usPerFrame > 0 &&
              (totalFrames == 0L || usPerFrame <= Long.MaxValue / totalFrames))
            Some(usPerFrame * totalFrames / 1000L)
          else None
          return ("video", "avi", Some(w), Some(h), ms)
        }
        o += 8L + sz + (sz & 1L)
      }
      return ("video", "avi", None, None, None)
    }
    // WAV: RIFF/WAVE, then chunk walk for "fmt " (byteRate) + "data" (size).
    if (tag(bytes, 0) == "RIFF" && tag(bytes, 8) == "WAVE") {
      var o = 12L
      var byteRate = 0L; var dataSize = -1L
      while (o + 8 <= bytes.length) {
        val oi = o.toInt
        val id = tag(bytes, oi); val sz = le32(bytes, oi + 4)
        if (id == "fmt " && o + 24 <= bytes.length) byteRate = le32(bytes, oi + 16)
        if (id == "data") dataSize = sz
        o += 8L + sz + (sz & 1L) // chunks are word-aligned
      }
      val dur = if (byteRate > 0 && dataSize >= 0)
        Some(dataSize * 1000L / byteRate) else None
      return ("audio", "wav", None, None, dur)
    }
    // MP4 (ISO BMFF): top-level box walk to moov, then mvhd
    // (timescale + duration; v0 = 32-bit fields, v1 = 64-bit times).
    if (bytes.length >= 12 && tag(bytes, 4) == "ftyp") {
      var o = 0
      while (o + 8 <= bytes.length) {
        val sz = be32(bytes, o); val id = tag(bytes, o + 4)
        if (id == "moov") {
          var c = o + 8
          val end = math.min(o + sz, bytes.length.toLong).toInt
          while (c + 8 <= end) {
            val csz = be32(bytes, c)
            if (tag(bytes, c + 4) == "mvhd" && c + 32 <= end) {
              val version = bytes(c + 8) & 0xFF
              val (ts, dur) =
                if (version == 1 && c + 40 <= end)
                  (be32(bytes, c + 28), be64(bytes, c + 32))
                else (be32(bytes, c + 20), be32(bytes, c + 24))
              val ms = if (ts > 0) Some(dur * 1000L / ts) else None
              return ("video", "mp4", None, None, ms)
            }
            c += math.max(8L, csz).toInt
          }
        }
        o += math.max(8L, sz).toInt
      }
      return ("video", "mp4", None, None, None)
    }
    none
  }

  /** Attach a metadata struct parsed from REAL payload headers (PNG / JPEG /
    * WAV / MP4 — byte arithmetic only, see [[parseMediaMeta]]); payloads
    * matching no known container get an all-null struct. Runs as a
    * per-partition row map (no shuffle, embarrassingly parallel). */
  def withMediaMeta(df: DataFrame, payloadCol: String,
      metaCol: String = "media_meta"): DataFrame = {
    val pIdx = df.schema.fieldIndex(payloadCol)
    appendColumn(df, StructField(metaCol, MediaMeta)) { r =>
      val (mt, fmt, w, h, dur) = parseMediaMeta(r.getAs[Array[Byte]](pIdx))
      Row(mt, fmt, w.map(Integer.valueOf).orNull,
        h.map(Integer.valueOf).orNull, dur.map(java.lang.Long.valueOf).orNull)
    }
  }

  // ---- spec-valid payload builders (fixtures + q_media_meta_real) ----

  private val PngSignature = Seq(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)

  /** A non-interlaced 8-bit PNG: signature, IHDR, one IDAT written by
    * `idat`, IEND. */
  private def png(width: Int, height: Int, colorType: Int)(
      idat: ByteSink => Unit): Array[Byte] = sink { s =>
    PngSignature.foreach(s.u8(_))
    s.pngChunk("IHDR")(_.be32(width).be32(height).u8(8).u8(colorType)
      .u8(0).u8(0).u8(0)) // compression, filter, interlace
    s.pngChunk("IDAT")(idat)
    s.pngChunk("IEND")(_ => ())
  }

  /** Minimal spec-valid PNG: signature + IHDR (real CRC) + empty IDAT + IEND. */
  def buildPng(width: Int, height: Int): Array[Byte] =
    png(width, height, colorType = 2)(_ => ())

  /** Minimal spec-valid JPEG: SOI + JFIF APP0 + SOF0 (1 component) + EOI —
    * the APP0 ahead of SOF0 exercises the marker walk. */
  def buildJpeg(width: Int, height: Int): Array[Byte] = {
    require(width <= 0xFFFF && height <= 0xFFFF, "JPEG dims are u16")
    sink { s =>
      Jpeg.jfif(s, minor = 2)
      Jpeg.sof(s, 0xC0, width, height, Seq((1, 1, 0))).marker(0xD9)
    }
  }

  /** Mono 16-bit PCM WAV: RIFF/WAVE + fmt + a data chunk written by `data`. */
  private def wav(sampleRate: Int)(data: ByteSink => Unit): Array[Byte] =
    sink(_.chunkList("RIFF", "WAVE") { r =>
      // PCM, mono, rate, byteRate = rate · ch · bits/8, blockAlign, bits
      r.chunk("fmt ")(_.le16(1).le16(1).le32(sampleRate).le32(sampleRate * 2L)
        .le16(2).le16(16))
      r.chunk("data")(data)
    })

  /** Minimal spec-valid PCM WAV: RIFF/WAVE + fmt (mono 16-bit) + data of
    * `dataBytes` zero samples. duration_ms = dataBytes·1000 / (2·sampleRate). */
  def buildWav(sampleRate: Int, dataBytes: Int): Array[Byte] =
    wav(sampleRate)(_.zeros(dataBytes))

  /** Minimal spec-valid MP4: ftyp + moov{mvhd v0} with the given movie
    * timescale and duration (in timescale units). The matrix sits 4 bytes
    * past ISO 14496-12's offsets (at 48/64/80 of the box, not 44/60/76),
    * over the first pre_defined word; the header parser reads neither. */
  def buildMp4(timescale: Int, durationUnits: Long): Array[Byte] = sink { s =>
    Video.ftyp(s).box("moov")(_.box("mvhd") { m =>
      // version/flags, creation, modification, timescale, duration,
      // rate 1.0, volume 1.0
      m.be32(0).be32(0).be32(0).be32(timescale).be32(durationUnits)
        .be32(0x00010000L).be16(0x0100).zeros(14)
      Video.identityMatrix(m).zeros(20).be32(0xFFFFFFFFL) // next track id
    })
  }

  /** Deterministic media fixture column: doc_id % 4 selects the container
    * (0=png, 1=jpeg, 2=wav, 3=mp4) and every header field derives from
    * doc_id by the arithmetic below — so an oracle can state the expected
    * [[withMediaMeta]] output from doc_id alone, without touching bytes:
    *  - png/jpeg: width = 32 + id % 1000, height = 32 + (id·7) % 1000
    *  - wav: sampleRate = 8000 + (id % 8)·1000, dataBytes = 2·(100 + id % 2000)
    *    ⇒ duration_ms = dataBytes·1000 div (2·sampleRate)
    *  - mp4: timescale = 600 + (id % 10)·100, duration = 5000 + id % 100000
    *    ⇒ duration_ms = duration·1000 div timescale */
  def synthesizeMediaPayload(df: DataFrame, idCol: String,
      payloadCol: String = "payload"): DataFrame =
    withIdPayload(df, idCol, payloadCol) { id =>
      (id % 4) match {
        case 0 => buildPng((32 + id % 1000).toInt, (32 + (id * 7) % 1000).toInt)
        case 1 => buildJpeg((32 + id % 1000).toInt, (32 + (id * 7) % 1000).toInt)
        case 2 => buildWav((8000 + (id % 8) * 1000).toInt,
          (2 * (100 + id % 2000)).toInt)
        case _ => buildMp4((600 + (id % 10) * 100).toInt, 5000 + id % 100000)
      }
    }

  // ---- real PNG pixel decode (pure JVM: Inflater + spec unfiltering) ----

  /** Decoded 8-bit image: samples row-major, channels interleaved. */
  final case class DecodedImage(width: Int, height: Int, channels: Int,
      samples: Array[Int])

  /** REAL PNG pixel decode for non-interlaced 8-bit grayscale/truecolor —
    * the JDK ships the zlib half (`java.util.zip.Inflater`) and the rest
    * is the PNG spec's per-row unfiltering (None/Sub/Up/Average/Paeth,
    * RFC 2083 §6): pure byte arithmetic, no codec library. Palette,
    * alpha, 16-bit and interlaced variants return None (out of scope for
    * the pipeline fixtures; a full codec slots in behind the same
    * signature). With [[Jpeg.decodeJpeg]], [[decodeWavSamples]] and
    * [[Video.parseAviMjpeg]] this completes the built-in decode dispatch
    * ([[decodeImage]]/[[sampleHistogram]]) — no codec seam remains. */
  def decodePng(bytes: Array[Byte]): Option[DecodedImage] = {
    if (bytes == null || bytes.length < 45) return None
    if ((bytes(0) & 0xFF) != 0x89 || bytes(1) != 'P' || bytes(2) != 'N' ||
        bytes(3) != 'G' || tag(bytes, 12) != "IHDR") return None
    val width = be32(bytes, 16).toInt
    val height = be32(bytes, 20).toInt
    val bitDepth = bytes(24) & 0xFF
    val colorType = bytes(25) & 0xFF
    val interlace = bytes(28) & 0xFF
    if (bitDepth != 8 || (colorType != 0 && colorType != 2) ||
        interlace != 0 || width <= 0 || height <= 0) return None
    val channels = if (colorType == 2) 3 else 1
    // chunk walk: concatenate every IDAT payload (the zlib stream may be
    // split across chunks at arbitrary byte boundaries)
    // the walk runs in Long: a hostile declared length near 2^31 would
    // overflow Int offset arithmetic into a negative index (crashing the
    // task instead of dropping the payload as documented); in Long the
    // overrun is an ordinary comparison
    val idat = new ByteSink
    var o = 8L
    var done = false
    while (!done && o + 8 <= bytes.length) {
      val oi = o.toInt // loop guard keeps o < bytes.length, Int-safe
      val len = be32(bytes, oi) // unsigned 32-bit, 0..2^32-1
      val id = tag(bytes, oi + 4)
      if (id == "IDAT") {
        if (o + 8 + len > bytes.length) return None // declared len overruns buffer
        idat.write(bytes, oi + 8, len.toInt)
      }
      if (id == "IEND") done = true
      o += 12L + len
    }
    val stride = width * channels
    val raw = new Array[Byte]((stride + 1) * height)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var off = 0
    try {
      while (!inf.finished() && off < raw.length) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        off += n
      }
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    if (off != raw.length) return None
    // per-row unfiltering; all arithmetic mod 256 per the spec
    val out = new Array[Int](stride * height)
    var r = 0
    while (r < height) {
      val ft = raw(r * (stride + 1)) & 0xFF
      if (ft > 4) return None
      val rowOff = r * (stride + 1) + 1
      var i = 0
      while (i < stride) {
        val x = raw(rowOff + i) & 0xFF
        val a = if (i >= channels) out(r * stride + i - channels) else 0
        val b = if (r > 0) out((r - 1) * stride + i) else 0
        val c = if (r > 0 && i >= channels) out((r - 1) * stride + i - channels) else 0
        out(r * stride + i) = ft match {
          case 0 => x
          case 1 => (x + a) & 0xFF
          case 2 => (x + b) & 0xFF
          case 3 => (x + (a + b) / 2) & 0xFF
          case _ => // Paeth
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            (x + pred) & 0xFF
        }
        i += 1
      }
      r += 1
    }
    Some(DecodedImage(width, height, channels, out))
  }

  /** Spec-valid PNG with REAL pixel content: 8-bit gray (1 channel) or
    * truecolor RGB, scanlines filtered per `filterFor(row)` (0..4) and
    * deflated into one IDAT — a genuine zlib stream, so only a genuine
    * inflate + unfilter round-trips it. `samples` is row-major
    * channel-interleaved, values 0..255. */
  def buildPngWithPixels(width: Int, height: Int, channels: Int,
      samples: Array[Int], filterFor: Int => Int): Array[Byte] = {
    require(channels == 1 || channels == 3, "gray or RGB only")
    require(samples.length == width * height * channels, "sample count")
    val stride = width * channels
    val raw = new Array[Byte]((stride + 1) * height)
    var r = 0
    while (r < height) {
      val ft = filterFor(r)
      require(ft >= 0 && ft <= 4, s"filter $ft")
      raw(r * (stride + 1)) = ft.toByte
      var i = 0
      while (i < stride) {
        val x = samples(r * stride + i)
        val a = if (i >= channels) samples(r * stride + i - channels) else 0
        val b = if (r > 0) samples((r - 1) * stride + i) else 0
        val c = if (r > 0 && i >= channels) samples((r - 1) * stride + i - channels) else 0
        val filtered = ft match {
          case 0 => x
          case 1 => x - a
          case 2 => x - b
          case 3 => x - (a + b) / 2
          case _ =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            x - pred
        }
        raw(r * (stride + 1) + 1 + i) = (filtered & 0xFF).toByte
        i += 1
      }
      r += 1
    }
    png(width, height, colorType = if (channels == 3) 2 else 0) { idat =>
      val dos = new java.util.zip.DeflaterOutputStream(idat)
      dos.write(raw); dos.close()
    }
  }

  /** Deterministic PNG fixture column with REAL pixel payloads: dims,
    * color mode, per-row filter choice and every sample derive from the id
    * by the arithmetic below, so an oracle can restate the decoded pixel
    * sums from the id alone while the engine must genuinely inflate +
    * unfilter the bytes:
    *  - width = 8 + id % 24, height = 8 + (id·3) % 24
    *  - channels = 1 when id % 5 == 0 (grayscale), else 3 (RGB)
    *  - sample(r, c, ch) = (id % 251 + 5r + 3c + 11ch) % 256
    *  - scanline r uses filter (id + r) % 5 — all five spec filters occur */
  def synthesizePngPayload(df: DataFrame, idCol: String,
      payloadCol: String = "payload"): DataFrame =
    withIdPayload(df, idCol, payloadCol)(pngPayloadFor)

  /** The single-payload form of [[synthesizePngPayload]]'s arithmetic. */
  private[pipeline] def pngPayloadFor(id: Long): Array[Byte] = {
    val w = (8 + id % 24).toInt
    val h = (8 + (id * 3) % 24).toInt
    val ch = if (id % 5 == 0) 1 else 3
    val base = (id % 251).toInt
    val samples = new Array[Int](w * h * ch)
    var i = 0
    var rr = 0
    while (rr < h) {
      var cc = 0
      while (cc < w) {
        var k = 0
        while (k < ch) {
          samples(i) = (base + 5 * rr + 3 * cc + 11 * k) % 256
          i += 1; k += 1
        }
        cc += 1
      }
      rr += 1
    }
    buildPngWithPixels(w, h, ch, samples, rr => ((id + rr) % 5).toInt)
  }

  /** Per-image pixel statistics through the REAL decode path
    * ([[decodePng]]): width, height, channels, sample count, exact integer
    * sample sum, and the mean as ONE IEEE division of exact integers
    * (engine-bit-identical). Rows whose payload is not a decodable PNG are
    * dropped. Runs as a per-partition map — no shuffle, scales linearly
    * with executors. */
  def pngPixelStats(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    pixelStats(df, idCol, payloadCol)(decodePng)

  /** The body of [[pngPixelStats]], [[bmpPixelStats]] and
    * [[Jpeg.jpegPixelStats]]: one row per payload `decode` accepts. */
  private[pipeline] def pixelStats(df: DataFrame, idCol: String,
      payloadCol: String)(decode: Array[Byte] => Option[DecodedImage])
      : DataFrame =
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("n_samples", LongType), StructField("sample_sum", LongType),
      StructField("mean_sample", DoubleType))) { bytes =>
      decode(bytes).map { img =>
        val s = sampleSum(img.samples)
        val n = img.samples.length.toLong
        Row(img.width, img.height, img.channels, n, s, s.toDouble / n.toDouble)
      }
    }

  // ---- real WAV PCM sample decode (pure byte arithmetic — PCM needs no codec) ----

  /** Decoded PCM audio: signed 16-bit samples as ints, mono. */
  final case class DecodedAudio(sampleRate: Int, samples: Array[Int])

  /** REAL WAV sample decode for 16-bit PCM mono: RIFF chunk walk to
    * `fmt ` (format 1, 16-bit, 1 channel) and `data`, then little-endian
    * signed sample reads — pure byte arithmetic, nothing to stub (PCM is
    * uncompressed; only lossy audio genuinely needs a codec library).
    * Other formats/layouts return None. */
  def decodeWavSamples(bytes: Array[Byte]): Option[DecodedAudio] = {
    if (bytes == null || bytes.length < 44 ||
        tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return None
    var o = 12L
    var rate = 0; var ok = false
    var dataOff = -1; var dataLen = -1
    while (o + 8 <= bytes.length) {
      val oi = o.toInt
      val id = tag(bytes, oi); val sz = le32(bytes, oi + 4)
      if (id == "fmt " && o + 24 <= bytes.length) {
        val fmt = le16(bytes, oi + 8); val ch = le16(bytes, oi + 10)
        val bits = if (o + 24 + 10 <= bytes.length) le16(bytes, oi + 22) else 0
        rate = le32(bytes, oi + 12).toInt
        ok = fmt == 1 && ch == 1 && bits == 16
      }
      if (id == "data") {
        // a declared >2 GiB data chunk would truncate negative through
        // toInt (NegativeArraySizeException downstream); reject instead
        if (sz > Int.MaxValue) return None
        dataOff = oi + 8; dataLen = sz.toInt
      }
      o += 8L + sz + (sz & 1L)
    }
    // the bounds check runs in Long: dataOff + dataLen can exceed 2^31
    if (!ok || rate <= 0 || dataOff < 0 ||
        dataOff.toLong + dataLen > bytes.length || dataLen % 2 != 0) return None
    val n = dataLen / 2
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) = (le16(bytes, dataOff + 2 * i) << 16) >> 16 // sign-extend
      i += 1
    }
    Some(DecodedAudio(rate, out))
  }

  /** Spec-valid PCM WAV carrying REAL sample content (16-bit LE mono). */
  def buildWavWithSamples(sampleRate: Int, samples: Array[Int]): Array[Byte] =
    wav(sampleRate)(d => samples.foreach(d.le16))

  /** Deterministic WAV fixture column with REAL samples: sampleRate =
    * 8000 + (id % 8)·1000, n = 100 + id % 400 samples,
    * sample(i) = ((id % 251)·7 + 11·i) mod 65536 − 32768 — the oracle can
    * restate the decoded sums from the id alone while the engine must
    * genuinely walk chunks and sign-extend the bytes. */
  def synthesizeWavPayload(df: DataFrame, idCol: String,
      payloadCol: String = "payload"): DataFrame =
    withIdPayload(df, idCol, payloadCol)(wavPayloadFor)

  /** The single-payload form of [[synthesizeWavPayload]]'s arithmetic. */
  private[pipeline] def wavPayloadFor(id: Long): Array[Byte] = {
    val n = (100 + id % 400).toInt
    val base = (id % 251).toInt
    val samples = Array.tabulate(n)(i => (base * 7 + 11 * i) % 65536 - 32768)
    buildWavWithSamples((8000 + (id % 8) * 1000).toInt, samples)
  }

  /** Exact-moment fingerprint input of a decoded still —
    * "w:h:ch:s1:s2" (s1 = Σv, s2 = Σv² over the decoded samples).
    * The SINGLE source of the image fingerprint format: both the
    * image arm of [[mediaFingerprints]] and every per-frame string of
    * [[graft.pipeline.Video.videoFingerprints]] call this, so the
    * modality-specific and mixed-dispatch dedup paths can never
    * silently diverge. */
  private[pipeline] def imageFpInput(img: DecodedImage): String = {
    var s1 = 0L
    var s2 = 0L
    var i = 0
    while (i < img.samples.length) {
      val v = img.samples(i).toLong
      s1 += v
      s2 += v * v
      i += 1
    }
    s"${img.width}:${img.height}:${img.channels}:$s1:$s2"
  }

  /** Exact-moment fingerprint input of a decoded PCM stream —
    * "n:s1:sw" (s1 = Σs, sw = Σ(i+1)·s). The single source of the
    * audio fingerprint format, shared by [[audioFingerprints]] and the
    * audio arm of [[mediaFingerprints]]. Sample RATE deliberately
    * excluded (remux collapses — content semantics). */
  private[pipeline] def audioFpInput(a: DecodedAudio): String = {
    var s1 = 0L
    var sw = 0L
    var i = 0
    while (i < a.samples.length) {
      val v = a.samples(i).toLong
      s1 += v
      sw += (i + 1L) * v
      i += 1
    }
    s"${a.samples.length}:$s1:$sw"
  }

  /** Per-clip audio content fingerprint over the REAL decoded samples —
    * the [[graft.pipeline.Video.videoFingerprints]] discipline on the
    * audio axis: three exact integer moments of the PCM stream
    * (n, Σs, Σ(i+1)·s — the position-weighted first moment discriminates
    * reorderings the plain sum cannot), md5 of the "n:s1:sw" string.
    * Sample RATE is deliberately excluded: the same samples carried at a
    * different rate (a remux, not a re-record) collapse — content
    * semantics. Undecodable payloads drop. Output: (idCol, n_samples,
    * fp). Moment bound (caller-owned): n·max|s|·n < 2⁶³ — 16-bit PCM
    * holds it to ~750 M samples per clip.
    *
    * [[audioDedup]] groups to a min-id representative; only (fp,
    * n_samples) rows shuffle, never samples. */
  def audioFingerprints(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame = {
    decodeRows(df, idCol, payloadCol, Seq(StructField("n_samples", LongType),
        StructField("__fp_input", StringType))) { bytes =>
      decodeWavSamples(bytes).map(a =>
        Row(a.samples.length.toLong, audioFpInput(a)))
    }.select(col(idCol), col("n_samples"), md5(col("__fp_input")).alias("fp"))
  }

  /** Exact audio dedup over [[audioFingerprints]] — min-id
    * representative per content group. Output: (fp, n_samples, rep_id,
    * n_docs). */
  def audioDedup(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    audioFingerprints(df, idCol, payloadCol)
      .groupBy(col("fp"), col("n_samples"))
      .agg(min(col(idCol)).alias("rep_id"),
        count(lit(1)).alias("n_docs"))

  /** High-collision WAV dedup fixture: [[synthesizeWavPayload]]'s sample
    * arithmetic with base folded to id % 13 and n to 100 + (id % 10)·40,
    * so content classes recur every lcm(13, 10) = 130 ids while the
    * sample RATE still varies with id % 8 — byte-distinct payloads with
    * identical content, the [[audioFingerprints]] collapse the fixture
    * must exercise. */
  def synthesizeWavDedupPayload(df: DataFrame, idCol: String,
      payloadCol: String = "payload"): DataFrame =
    withIdPayload(df, idCol, payloadCol)(wavDedupPayloadFor)

  /** The single-payload form of [[synthesizeWavDedupPayload]]. */
  private def wavDedupPayloadFor(id: Long): Array[Byte] = {
    val n = (100 + (id % 10) * 40).toInt
    val base = ((id % 13) * 19).toInt
    buildWavWithSamples((8000 + (id % 8) * 1000).toInt,
      Array.tabulate(n)(i => (base * 7 + 11 * i) % 65536 - 32768))
  }

  /** Mixed-corpus content fingerprints with ONE container dispatch per
    * payload — the curation shape for a corpus where image/audio/video
    * rows share a binary column: signature-dispatch to the right
    * decoder ONCE (images by PNG/JPEG/BMP magic, then RIFF+WAVE PCM,
    * then MJPEG AVI/MP4 — each decoder rejects the others' containers
    * structurally), fingerprint with that modality's exact-moment
    * string ([[graft.pipeline.Video.videoFingerprints]] for clips, the
    * [[audioFingerprints]] "n:s1:sw" for PCM, "w:h:ch:s1:s2" pixel
    * moments for stills), and emit (idCol, modality, n_units, fp) —
    * n_units = samples / PCM samples / frames per modality. Payloads no
    * decoder accepts drop (the [[mediaCoverage]] convention: the drop
    * rate is itself a curation metric).
    *
    * [[mediaDedup]] groups to a min-id representative per
    * (modality, fp); only fingerprint rows shuffle, never payload
    * bytes. `carryCols` pass through the decode map untouched (the
    * [[graft.pipeline.TextAnalysis.winnowFingerprints]] convention —
    * e.g. an event-time column for a TTL'd streaming ownership gate). */
  def mediaFingerprints(df: DataFrame, idCol: String,
      payloadCol: String, carryCols: Seq[String] = Nil): DataFrame =
    decodeRows(df, idCol, payloadCol, Seq(StructField("modality", StringType),
        StructField("n_units", LongType), StructField("__fp_input", StringType)),
        carryCols) { bytes =>
      decodeImage(bytes)
        .map(img => Row("image", img.samples.length.toLong, imageFpInput(img)))
        .orElse(decodeWavSamples(bytes)
          .map(a => Row("audio", a.samples.length.toLong, audioFpInput(a))))
        .orElse(Video.parseVideoMjpeg(bytes).map { clip =>
          val (nf, in) = Video.videoFpInput(clip)
          Row("video", nf.toLong, in)
        })
    }.select(col(idCol) +: col("modality") +: col("n_units") +:
      md5(col("__fp_input")).alias("fp") +: carryCols.map(col): _*)

  /** Cross-modality exact dedup over [[mediaFingerprints]] — min-id
    * representative per (modality, fp) content group. Output:
    * (modality, fp, n_units, rep_id, n_docs). */
  def mediaDedup(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    mediaFingerprints(df, idCol, payloadCol)
      .groupBy(col("modality"), col("fp"), col("n_units"))
      .agg(min(col(idCol)).alias("rep_id"),
        count(lit(1)).alias("n_docs"))

  /** The PRODUCTION-ORDER media curation composition the per-operator
    * scaladocs prescribe ([[Video.videoNearDupPairs]]: "exact-duplicate
    * clusters should be collapsed FIRST so the band buckets hold
    * near-dup candidates, not exact-copy cliques") — the media analogue
    * of [[Curation.curate]]:
    *
    *  1. [[mediaDedup]] collapses exact content cross-modality (decode
    *     pass 1 — fingerprints only, payloads never shuffle);
    *  2. only each group's min-id REPRESENTATIVE re-enters decode: the
    *     raw frame joins the (rep_id, modality) set — the one payload
    *     shuffle, sized by content diversity, not corpus size (AQE
    *     broadcasts it when the group table is small);
    *  3. per-modality near-dup edges over representatives only:
    *     keyframe pHashes ([[Video.nearDupPairsFromKeyframes]]) for
    *     video, Haitsma–Kalker segment hashes ([[nearDupPairsFromHk]])
    *     for audio, dHash signatures ([[dhashNearDupPairs]] — plus the
    *     identical-signature edges its signature-level rep collapse
    *     folds away, so same-dHash representatives still cluster) for
    *     images — every fold bucket-clamped;
    *  4. cluster roll-up: connected components over the edge union
    *     ([[Dedup.clusterAssignments]] — min-id labels), each cluster
    *     aggregating the exact-group sizes it absorbed.
    *
    * Output: one row per near-duplicate cluster —
    * (modality, cluster_id, n_reps, n_docs): cluster_id = min rep id in
    * the component, n_reps = exact-content groups merged, n_docs =
    * total documents across those groups. Edge-less representatives
    * roll up as singleton clusters, so Σ n_docs = corpus size and the
    * artifact is a complete dedup decision table. */
  /** The reps-only restriction seam of [[mediaNearDupPipeline]]: payload
    * rows joined to the exact-group representative set — the rep_id join
    * that must sit ABOVE payload synthesis and BELOW every near-dup
    * decode (PlanShapeSpec asserts the sandwich on this frame's and the
    * arm decoders' deterministic plans). Factored out so the plan gate
    * inspects the exact construction the pipeline materializes. */
  private[graft] def mediaRepJoin(df: DataFrame, idCol: String,
      payloadCol: String, groups: DataFrame): DataFrame =
    df.select(col(idCol), col(payloadCol)).join(
      groups.select(col("rep_id").alias(idCol), col("modality")), Seq(idCol))

  def mediaNearDupPipeline(df: DataFrame, idCol: String,
      payloadCol: String, maxHamming: Int = 3, minMatchPct: Int = 60,
      maxBucketSize: Int = 4096): DataFrame = {
    // one decode pass for the exact groups; materialized because both
    // the rep restriction (below) and the final roll-up consume it
    val groups = Materializer(mediaDedup(df, idCol, payloadCol),
      eager = true)
    // The representative rows feed all three modality arms (and the
    // image arm three times over); declaratively each arm would re-run
    // the full upstream payload scan + rep join. ONE materialized
    // boundary runs that scan once — this is the guide §8 "decide on
    // small rows, move heavy rows once" seam: its content is the
    // content-diversity-sized representative set, not the corpus, and
    // the Materializer mode picks the 100-TB failure domain
    // (reliable/parquet) without operator changes. The reps-only
    // discipline is unchanged — the decode maps still sit strictly
    // above this boundary, which itself sits above the rep_id join
    // (PlanShapeSpec asserts both halves of the sandwich on the
    // deterministic analyzed plans).
    val repRows = Materializer(mediaRepJoin(df, idCol, payloadCol, groups),
      eager = true)
    def arm(m: String): DataFrame =
      repRows.filter(col("modality") === m).drop("modality")
    val vEdges = Video.nearDupPairsFromKeyframes(
      Video.keyframePHashes(arm("video"), idCol, payloadCol),
      idCol, maxHamming, minMatchPct, maxBucketSize)
      .select(col("id_a"), col("id_b"))
    val aEdges = nearDupPairsFromHk(
      hkFingerprints(arm("audio"), idCol, payloadCol),
      idCol, maxHamming, minMatchPct, maxBucketSize)
      .select(col("id_a"), col("id_b"))
    // the dHash table feeds three consumers (pair fold, signature-min,
    // signature edges) — one lazy boundary runs the image decode once
    val ih = Materializer(imageDHash(arm("image"), idCol, payloadCol),
      eager = false)
    // the two halves are the whole signature: band0..band3 are slices of them
    val sigCols = Seq("dhash_hi", "dhash_lo")
    val iPairs = dhashNearDupPairs(ih, idCol, maxHamming, maxBucketSize)
      .select(col("doc_a").alias("id_a"), col("doc_b").alias("id_b"))
    // dhashNearDupPairs pairs SIGNATURE representatives; distinct content
    // reps sharing a dHash (Hamming 0) reconnect via min-per-signature
    // edges so the component still absorbs them
    val sigMin = ih.groupBy(sigCols.map(col): _*)
      .agg(min(col(idCol)).alias("id_a"))
    val sigEdges = ih.join(sigMin, sigCols)
      .select(col("id_a"), col(idCol).alias("id_b"))
      .filter(col("id_a") < col("id_b"))
    val edges = vEdges.union(aEdges).union(iPairs).union(sigEdges)
    val labels = Dedup.clusterAssignments(edges, "id_a", "id_b")
      .withColumnRenamed("id", "rep_id")
    groups.join(labels, Seq("rep_id"), "left")
      .select(col("modality"),
        coalesce(col("cluster_id"), col("rep_id")).alias("cluster_id"),
        col("n_docs"))
      .groupBy(col("modality"), col("cluster_id"))
      .agg(count(lit(1)).alias("n_reps"),
        sum(col("n_docs")).alias("n_docs"))
  }

  /** Mixed high-collision media-dedup fixture: id % 3 dispatches the
    * modality; every arm folds its content base to a small modulus so
    * classes recur at correctness scale —
    *  - image (id%3=0): flat-block baseline JPEG, w = 8·(1 + id%2),
    *    h = 8, base (id%13)·19 → classes every 26 arm-ids;
    *  - audio (id%3=1): the [[synthesizeWavDedupPayload]] arithmetic →
    *    classes every 130 arm-ids, rate varies id%8;
    *  - video (id%3=2): the [[graft.pipeline.Video
    *    .synthesizeAviDedupPayload]] arithmetic → classes every 195
    *    arm-ids, fps varies id%4. */
  def synthesizeMediaDedupPayload(df: DataFrame, idCol: String,
      payloadCol: String = "payload"): DataFrame =
    withIdPayload(df, idCol, payloadCol) { id =>
      (id % 3) match {
        case 0 => Jpeg.buildJpegWithBlocks((8 * (1 + id % 2)).toInt, 8,
          (bx, _) => (((id % 13) * 19).toInt + 23 * bx) % 256)
        case 1 => wavDedupPayloadFor(id)
        case _ => Video.aviDedupPayloadFor(id)
      }
    }

  /** Decoder drop-rate report: per (format, status) document counts over a
    * payload column. `status`: `decoded` = a built-in codec took the
    * samples all the way ([[sampleHistogram]] dispatch — PNG / baseline
    * baseline+progressive JPEG / PCM WAV / MJPEG AVI / MJPEG MP4);
    * `header_only` =
    * a container header parsed ([[parseMediaMeta]]) but no sample decode
    * applies (e.g. H.264 MP4 metadata, arithmetic-coded JPEG, truncated
    * streams); `dropped` =
    * no known container at all. At 100 TB the drop rate IS a curation
    * metric — and every deliberate None path in the codecs is
    * regression-pinned by it. Scan + per-partition decode + a ≤
    * (#formats × 3)-row aggregate; payload bytes never shuffle. */
  def mediaCoverage(df: DataFrame, idCol: String, payloadCol: String)
      : DataFrame = {
    val probeSchema = StructType(Seq(
      StructField("format", StringType), StructField("status", StringType)))
    df.select(col(idCol), col(payloadCol))
      .mapPartitions { it =>
        it.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          val (_, fmt, _, _, _) = parseMediaMeta(bytes)
          val status =
            if (sampleHistogram(bytes, 2).isDefined) "decoded"
            else if (fmt != null) "header_only"
            else "dropped"
          Row(if (fmt != null) fmt else "unknown", status)
        }
      }(Encoders.row(probeSchema))
      .groupBy(col("format"), col("status"))
      .agg(count(lit(1)).alias("n_docs"))
  }

  /** Coverage-corpus fixture: cycles id % 10 over decodable payloads
    * (PNG / baseline JPEG / WAV / MJPEG AVI / PROGRESSIVE JPEG /
    * MJPEG MP4, all with REAL content), header-only containers
    * (pixel-less PNG and JPEG shells, metadata-only MP4 with no sample
    * table — the H.264 case, whose codec the engine deliberately lacks),
    * and non-media bytes — so [[mediaCoverage]]'s three statuses all
    * occur and an oracle can restate the whole report from id
    * arithmetic. */
  def synthesizeCoverageCorpus(df: DataFrame, idCol: String,
      payloadCol: String = "payload"): DataFrame =
    withIdPayload(df, idCol, payloadCol) { id =>
      (id % 10) match {
        case 0 => pngPayloadFor(id)
        case 1 => Jpeg.jpegPayloadFor(id)
        case 2 => wavPayloadFor(id)
        case 3 => Video.aviPayloadFor(id)
        case 4 => Jpeg.progJpegPayloadFor(id)
        case 5 => Video.mp4PayloadFor(id)
        case 6 => buildPng((32 + id % 100).toInt, (32 + id % 50).toInt)
        case 7 => buildJpeg((32 + id % 100).toInt, (32 + id % 50).toInt)
        case 8 => buildMp4((600 + (id % 10) * 100).toInt, 5000 + id % 1000)
        case _ => s"not-media-$id".getBytes(
          java.nio.charset.StandardCharsets.US_ASCII)
      }
    }

  /** Deterministic DECODABLE mixed-media fixture column: one payload per
    * id with REAL content in every arm, cycling id % 4 →
    * PNG ([[synthesizePngPayload]] arithmetic) / baseline JPEG
    * ([[Jpeg.synthesizeJpegPayload]]) / PCM WAV ([[synthesizeWavPayload]])
    * / MJPEG AVI ([[Video.synthesizeAviPayload]]) — so one corpus
    * exercises the full decode dispatch and an oracle can restate every
    * decoded value from the id alone. */
  def synthesizeDecodablePayload(df: DataFrame, idCol: String,
      payloadCol: String = "payload"): DataFrame =
    withIdPayload(df, idCol, payloadCol) { id =>
      (id % 4) match {
        case 0 => pngPayloadFor(id)
        case 1 => Jpeg.jpegPayloadFor(id)
        case 2 => wavPayloadFor(id)
        case _ => Video.aviPayloadFor(id)
      }
    }

  /** Per-clip sample statistics through the REAL decode path
    * ([[decodeWavSamples]]): exact integer sample sum + one-division mean;
    * undecodable payloads are dropped. Per-partition map, no shuffle. */
  def wavSampleStats(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("sample_rate", IntegerType),
      StructField("n_samples", LongType), StructField("sample_sum", LongType),
      StructField("mean_sample", DoubleType))) { bytes =>
      decodeWavSamples(bytes).map { a =>
        val s = sampleSum(a.samples)
        Row(a.sampleRate, a.samples.length.toLong, s,
          s.toDouble / a.samples.length.toDouble)
      }
    }

  /** Per-frame audio features through the REAL decode path
    * ([[decodeWavSamples]]): the clip splits into non-overlapping FULL
    * frames of `frameLen` samples (a trailing partial frame is dropped —
    * fixed convention) and each frame reports exact integer energy (Σ s²),
    * peak |s|, zero-crossing count (strict sign product < 0, so zero
    * samples never cross) and RMS = sqrt(energy / frameLen) — one IEEE
    * division then sqrt, both correctly rounded, hence bit-exact on any
    * engine. Per-partition map, no shuffle; row growth is n/frameLen per
    * clip, so the operator scales exactly like the decode it rides on.
    * Undecodable payloads drop (the mediaCoverage contract). */
  def wavFrameFeatures(df: DataFrame, idCol: String, payloadCol: String,
      frameLen: Int = 64): DataFrame = {
    require(frameLen >= 2, "frameLen must be >= 2")
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("frame_idx", LongType),
      StructField("energy", LongType),
      StructField("peak", IntegerType),
      StructField("zcr", LongType),
      StructField("rms", DoubleType))) { bytes =>
      decodeWavSamples(bytes).iterator.flatMap { a =>
        (0 until a.samples.length / frameLen).iterator.map { f =>
          var e = 0L
          var peak = 0
          var z = 0L
          var prev = 0
          var first = true
          var i = f * frameLen
          val end = i + frameLen
          while (i < end) {
            val s = a.samples(i)
            e += s.toLong * s
            val as = math.abs(s)
            if (as > peak) peak = as
            if (!first && prev * s < 0) z += 1
            prev = s
            first = false
            i += 1
          }
          Row(f.toLong, e, peak, z, math.sqrt(e.toDouble / frameLen.toDouble))
        }
      }
    }
  }

  /** Integer-factor audio decimation through the REAL decode path
    * ([[decodeWavSamples]]): the clip splits into non-overlapping FULL
    * groups of `factor` samples (a trailing partial group drops — the
    * [[wavFrameFeatures]] convention) and each group emits its exact
    * integer sample sum and the boxcar mean (the anti-aliasing lowpass a
    * sample-rate normalization pass applies before mixing corpora
    * recorded at different rates) — one IEEE division, correctly
    * rounded, hence bit-exact. Per-partition map, no shuffle; output is
    * n/factor rows per clip. Undecodable payloads drop. */
  def wavDecimate(df: DataFrame, idCol: String, payloadCol: String,
      factor: Int = 16): DataFrame = {
    require(factor >= 2, "factor must be >= 2")
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("out_idx", LongType),
      StructField("s_sum", LongType),
      StructField("mean_sample", DoubleType))) { bytes =>
      decodeWavSamples(bytes).iterator.flatMap { a =>
        (0 until a.samples.length / factor).iterator.map { g =>
          val s = sampleSum(a.samples.slice(g * factor, (g + 1) * factor))
          Row(g.toLong, s, s.toDouble / factor.toDouble)
        }
      }
    }
  }

  /** Natural-order (Hadamard) index of the Walsh function with sequency
    * `s` for the 64-point transform: bitrev6(gray(s)) — the classic
    * sequency↔Hadamard reindexing, precomputed once. */
  private[graft] val SeqToNat64: Array[Int] = Array.tabulate(64) { s =>
    val g = s ^ (s >> 1) // binary → Gray
    var k = 0
    var b = 0
    while (b < 6) { k |= ((g >> b) & 1) << (5 - b); b += 1 } // 6-bit reverse
    k
  }

  /** Sequency-band spectral decomposition per audio frame via the 64-point
    * Walsh-Hadamard transform — the INTEGER-EXACT analog of a power
    * spectrum (the WHT basis is ±1, so W[k] = Σₙ x[n]·(−1)^popcount(k&n)
    * is plain integer addition: bit-reproducible on any engine, where an
    * FFT's trig twiddles are only ulp-close across libms). Frames are the
    * same non-overlapping 64-sample windows as [[wavFrameFeatures]];
    * coefficients come from the 6-stage in-place butterfly (384 adds per
    * frame), are reordered to SEQUENCY order (number of sign changes —
    * the Walsh analog of frequency) via [[SeqToNat64]], and grouped into
    * 8 bands of 8 consecutive sequencies; `band_energy` = Σ W² per band,
    * exact in longs (|W| ≤ 64·2¹⁵ = 2²¹, so a band sum ≤ 8·2⁴² < 2⁴⁶).
    * Band 0 contains DC (sequency 0). Parseval holds exactly:
    * Σ_bands band_energy = 64·(frame energy) — asserted in the spec.
    * Per-partition map, no shuffle; undecodable payloads drop. */
  def wavSequencyFeatures(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("frame_idx", LongType),
      StructField("band", IntegerType),
      StructField("band_energy", LongType))) { bytes =>
      decodeWavSamples(bytes).iterator.flatMap { a =>
        (0 until a.samples.length / 64).iterator.flatMap { f =>
          val e = walshBands(a.samples, f)
          (0 until 8).map(band => Row(f.toLong, band, e(band)))
        }
      }
    }

  /** The 8 sequency-band energies of 64-sample frame `f`: the 6-stage
    * in-place fast WHT (natural Hadamard order), then Σ W² over 8
    * consecutive sequencies per band through [[SeqToNat64]]. Shared by
    * [[wavSequencyFeatures]] and [[hkFingerprints]]. */
  private def walshBands(samples: Array[Int], f: Int): Array[Long] = {
    val w = Array.tabulate(64)(i => samples(f * 64 + i).toLong)
    var len = 1
    while (len < 64) {
      var blk = 0
      while (blk < 64) {
        var j = blk
        while (j < blk + len) {
          val x = w(j); val y = w(j + len)
          w(j) = x + y; w(j + len) = x - y
          j += 1
        }
        blk += 2 * len
      }
      len <<= 1
    }
    Array.tabulate(8) { band =>
      var e = 0L
      var s = band * 8
      while (s < band * 8 + 8) { val c = w(SeqToNat64(s)); e += c * c; s += 1 }
      e
    }
  }

  /** Fourier spectrogram per audio frame via the engine's own JVM FFT
    * ([[graft.tsdf.Fourier.fft]], 64-point radix-2): the time-frequency
    * featurization a speech/audio pipeline runs after framing — next to
    * [[wavSequencyFeatures]]' integer-exact Walsh analog, this is the
    * trig-basis spectrum itself. Frames are the same non-overlapping
    * 64-sample windows; each frame's complex bins X_k quantize as
    * floor(X/256 + 0.25) — the q_fourier bias convention, but at a
    * 256-sample-unit quantum: the FFT groups float adds differently from
    * an oracle's O(n²) DFT, so the two differ by ~1e-9 absolute, and at
    * |X| ≤ 64·2¹⁵ ≈ 2e6 a cent quantum would put millions of bins within
    * ulp reach of a floor edge — /256 keeps ~13 significant bits per bin
    * while making an edge collision (≲1e-11 per bin) negligible; the
    * structured bins (k = 0, 32, ±1 twiddles) are exact in BOTH engines
    * and the bias keeps their lattice 0.25 from any edge. 8 bands of 8
    * consecutive two-sided natural-order bins emit `band_energy_q` =
    * Σ (rc² + ic²) — EXACT integers after quantization, bit-comparable
    * against the DFT replay. Band 0 contains DC. Per-partition map, no
    * shuffle; row growth 8 · n/64 per clip. Undecodable payloads drop. */
  def wavSpectrogram(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("frame_idx", LongType),
      StructField("band", IntegerType),
      StructField("band_energy_q", LongType))) { bytes =>
      decodeWavSamples(bytes).iterator.flatMap { a =>
        (0 until a.samples.length / 64).iterator.flatMap { f =>
          val p = fftPowers(a.samples, f)
          (0 until 8).map(band =>
            Row(f.toLong, band, p.slice(band * 8, band * 8 + 8).sum))
        }
      }
    }

  /** The quantized powers rc² + ic² of the 64 bins of 64-sample frame
    * `f` through [[graft.tsdf.Fourier.fft]], each component quantized as
    * floor(X/256 + 0.25). Shared by [[wavSpectrogram]] and [[wavMfcc]]. */
  private def fftPowers(samples: Array[Int], f: Int): Array[Long] = {
    val re = Array.tabulate(64)(i => samples(f * 64 + i).toDouble)
    val im = new Array[Double](64)
    graft.tsdf.Fourier.fft(re, im)
    Array.tabulate(64) { k =>
      val rc = math.floor(re(k) / 256.0 + 0.25).toLong
      val ic = math.floor(im(k) / 256.0 + 0.25).toLong
      rc * rc + ic * ic
    }
  }

  /** Integer mel-band bin edges over the 64-point spectrum's 32 unique
    * bins (8 bands): mel points equally spaced to mel(4 kHz) at an
    * 8 kHz/64-bin grid (125 Hz per bin), inverted and rounded to bin
    * indices, bumped to strictly increasing so every band owns >= 1
    * bin. A compile-time constant embedded verbatim in the oracle. */
  private[graft] val MelEdges: Array[Int] = {
    val maxMel = 2595.0 * StrictMath.log10(1.0 + 4000.0 / 700.0)
    val e = new Array[Int](9)
    var m = 0
    while (m <= 8) {
      val mel = maxMel * m / 8.0
      val f = 700.0 * (StrictMath.pow(10.0, mel / 2595.0) - 1.0)
      e(m) = StrictMath.round(f / 125.0).toInt
      m += 1
    }
    var i = 1
    while (i < 9) { if (e(i) <= e(i - 1)) e(i) = e(i - 1) + 1; i += 1 }
    e
  }

  /** Fixed-point DCT-II basis over 8 mel bands — the [[PhashCos]]
    * convention (cos scaled by 2¹⁴, StrictMath-rounded once at class
    * init), flattened [coef][band]. */
  private[graft] val MfccCos: Array[Long] = {
    val t = new Array[Long](64)
    var c = 0
    while (c < 8) {
      var m = 0
      while (m < 8) {
        t(c * 8 + m) = StrictMath.round(
          StrictMath.cos(StrictMath.PI * c * (2 * m + 1) / 16.0) * 16384.0)
        m += 1
      }
      c += 1
    }
    t
  }

  /** MFCC over the real RIFF→PCM decode — the standard downstream audio
    * feature completing the [[wavSpectrogram]]/[[audioDescriptors]]
    * chain: per 64-sample frame, FFT → quantized per-bin powers
    * (floor(X/256 + 0.25), the spectrogram's exact-integer quantum) →
    * 8 rectangular mel-band energies over [[MelEdges]] (exact integer
    * sums) → milli-quantized log energies floor(ln(E+1)·10³ + 0.5)
    * (the BM25/PMI ln discipline; +1 keeps silent bands finite at 0) →
    * fixed-point DCT-II over [[MfccCos]] — every coefficient an exact
    * integer (|lq| ≤ 43·10³, |basis| ≤ 2¹⁴, 8 terms ⇒ |mfcc| < 2³³).
    * Output: (id, frame_idx, coef 0..7, mfcc_q). One decode map, rows
    * emitted per frame — no shuffle at all; at 100 TB the output is
    * 8 ints per frame, 8× smaller than the sample stream. */
  def wavMfcc(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("frame_idx", LongType),
      StructField("coef", IntegerType),
      StructField("mfcc_q", LongType))) { bytes =>
      decodeWavSamples(bytes).iterator.flatMap { a =>
        (0 until a.samples.length / 64).iterator.flatMap { f =>
          val p = fftPowers(a.samples, f)
          val lq = Array.tabulate(8)(m => math.floor(math.log(
            (p.slice(MelEdges(m), MelEdges(m + 1)).sum + 1L).toDouble) *
            1000.0 + 0.5).toLong)
          (0 until 8).map { c =>
            var acc = 0L
            var m = 0
            while (m < 8) { acc += MfccCos(c * 8 + m) * lq(m); m += 1 }
            Row(f.toLong, c, acc)
          }
        }
      }
    }

  /** Per-frame spectral descriptors over the [[wavSpectrogram]] band
    * energies — the audio-QA row a curation pipeline filters on
    * (silence/tone detection, spectral-shape clustering):
    *
    *   - `centroid` — energy-weighted mean band index: one
    *     correctly-rounded IEEE division of the EXACT integers
    *     `centroid_num` = Σ band·E and `total_energy` = Σ E (emitted
    *     alongside, so the gate hashes integers and the float is a
    *     fixed composition);
    *   - `rolloff_band` — the lowest band whose cumulative energy
    *     reaches `rolloffPct`% of the frame total, decided by the exact
    *     integer comparison 100·cum ≥ pct·total;
    *   - `flux_l1` — L1 spectral flux Σ_band |E − E_prev| against the
    *     previous frame (L1, NOT the squared L2 form: band energies
    *     reach ~1.1e9 at full scale, so Σ(ΔE)² peaks near 9.7e18 —
    *     PAST 2⁶³, where Spark wraps silently and an ANSI engine
    *     errors; the L1 sum is bounded by 8·1.1e9 ≈ 9e9). NULL on each
    *     clip's first frame (no predecessor) in both engines.
    *
    * Plan: the spectrogram decode map, one (id, frame) aggregate with
    * 8 conditional band sums (map-side combinable), one window lag per
    * band partitioned by clip — no sample-level shuffle; at 100 TB the
    * shuffled rows are per-FRAME aggregates (64× smaller than samples,
    * 8× smaller than the band grid). */
  def audioDescriptors(df: DataFrame, idCol: String, payloadCol: String,
      rolloffPct: Int = 85): DataFrame = {
    require(rolloffPct >= 1 && rolloffPct <= 100,
      s"rolloffPct must be in 1..100, got $rolloffPct")
    val spec = wavSpectrogram(df, idCol, payloadCol)
    val bandSums = (0 until 8).map(b =>
      sum(when(col("band") === b, col("band_energy_q")).otherwise(0L))
        .alias(s"__e$b"))
    val pf = spec.groupBy(col(idCol), col("frame_idx"))
      .agg(bandSums.head, bandSums.tail: _*)
    val e = (0 until 8).map(b => col(s"__e$b"))
    val total = e.reduce(_ + _)
    val centroidNum = (1 until 8).map(b => e(b) * b).reduce(_ + _)
    val cums = e.tail.scanLeft(e.head)(_ + _) // cum(0)..cum(7)
    val rolloff = (0 until 7)
      .foldRight(lit(7): org.apache.spark.sql.Column)((b, rest) =>
      when(cums(b) * 100 >= total * rolloffPct, b).otherwise(rest))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("frame_idx"))
    val flux = (0 until 8).map(b =>
      abs(e(b) - lag(e(b), 1).over(w))).reduce(_ + _)
    pf.select(col(idCol), col("frame_idx"),
      total.alias("total_energy"),
      centroidNum.alias("centroid_num"),
      when(total > 0,
        centroidNum.cast(DoubleType) / total.cast(DoubleType))
        .alias("centroid"),
      rolloff.alias("rolloff_band"),
      flux.alias("flux_l1"))
  }

  /** Perceptual difference-hash (dHash — the public horizontal-gradient
    * hash) over REAL decoded pixels: integer-mean grayscale (Σch / nch),
    * [[resizeNearest]] to 9×8 (same index map as the resize operator),
    * one bit per horizontal gradient (right neighbor STRICTLY brighter),
    * bit index y·8+x. The 64 bits ship as two unsigned 32-bit halves in
    * BIGINT columns (`dhash_hi`/`dhash_lo` — engines without unsigned
    * 64-bit replay them exactly) plus the four 16-bit bands
    * (`band0..band3`) an LSH near-dup join buckets on: by pigeonhole any
    * pair within Hamming distance 3 shares at least one band, so the
    * banded equi-join has guaranteed candidate coverage at radius ≤ 3.
    * Non-image payloads drop (the mediaCoverage contract); per-partition
    * map, no shuffle. */
  /** Fixed-point 32-point DCT-II basis for [[imagePHash]]:
    * round(cos((2y+1)uπ/64)·2¹⁴) for u ∈ 0..7 (only the low 8 frequencies
    * the hash keeps), y ∈ 0..31, laid out u·32+y. Built with StrictMath
    * (platform-pinned) ONCE and embedded verbatim into the SQL oracle, so
    * the two engines share the exact integers — the JPEG-decoder lesson:
    * replicate fixed-point arithmetic, never re-derive floats twice. */
  private[graft] val PhashCos: Array[Long] = {
    val t = new Array[Long](8 * 32)
    var u = 0
    while (u < 8) {
      var y = 0
      while (y < 32) {
        t(u * 32 + y) = StrictMath.round(
          StrictMath.cos((2 * y + 1) * u * StrictMath.PI / 64.0) * 16384.0)
        y += 1
      }
      u += 1
    }
    t
  }

  /** Perceptual DCT hash (pHash — the public low-frequency DCT hash, the
    * blur/noise-robust complement to [[imageDHash]]'s gradient hash):
    * integer-mean gray → 32×32 nearest-neighbor resize (same index map as
    * the resize operator) → 2D fixed-point DCT-II restricted to the 8×8
    * low-frequency block (two passes over [[PhashCos]]; all integer
    * multiply-adds, |T| ≤ 2²⁷, |F| ≤ 2⁴⁷ — exact in longs and BIGINTs)
    * → one bit per AC coefficient, set iff it exceeds the MEDIAN of the
    * 63 AC values (the 32nd smallest — exact selection). 63 bits ship as
    * unsigned halves `phash_hi` (bits 32..62) / `phash_lo` (bits 0..31),
    * the [[imageDHash]] convention. Non-image payloads drop;
    * per-partition map, no shuffle. */
  def imagePHash(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("phash_hi", LongType),
      StructField("phash_lo", LongType))) { bytes =>
      decodeImage(bytes).map(phash64).map(h => Row(h >>> 32, h & 0xFFFFFFFFL))
    }

  /** The pHash kernel on one decoded image — the single source of the
    * 63-bit DCT hash shared by [[imagePHash]] and the video keyframe
    * near-dup path ([[Video.keyframePHashes]]): integer-mean gray, 32×32
    * nearest-neighbor resize, two fixed-point [[PhashCos]] passes, exact
    * 32nd-smallest AC median, strict-> bits packed k−1 for k ∈ 1..63
    * (bit 63 always 0). Pure integer arithmetic, engine-reproducible. */
  private[pipeline] def phash64(img: DecodedImage): Long = {
    val t = new Array[Long](8 * 32)
    val f = new Array[Long](64)
    val g = resizeNearest(toGray(img), 32, 32)
    var u = 0
    while (u < 8) {
      var x = 0
      while (x < 32) {
        var acc = 0L
        var y = 0
        while (y < 32) {
          acc += g.samples(y * 32 + x) * PhashCos(u * 32 + y); y += 1
        }
        t(u * 32 + x) = acc
        x += 1
      }
      u += 1
    }
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0L
        var x = 0
        while (x < 32) {
          acc += t(u * 32 + x) * PhashCos(v * 32 + x); x += 1
        }
        f(u * 8 + v) = acc
        v += 1
      }
      u += 1
    }
    val ac = java.util.Arrays.copyOfRange(f, 1, 64)
    java.util.Arrays.sort(ac)
    val med = ac(31) // 32nd smallest of 63
    var hash = 0L
    var k = 1
    while (k < 64) {
      if (f(k) > med) hash |= 1L << (k - 1)
      k += 1
    }
    hash
  }

  /** Perceptual average-hash (aHash — the third member of the public
    * perceptual triad next to [[imageDHash]]'s gradients and
    * [[imagePHash]]'s DCT): integer-mean gray → 8×8 nearest-neighbor
    * resize (same index map) → one bit per pixel STRICTLY above the
    * integer mean (Σg / 64, floor — all-integer, so the hash replays
    * bit-for-bit). Invariant under constant brightness shifts by
    * construction (g+c > mean+c ⇔ g > mean, asserted in the spec) —
    * the cheapest hash of the triad and the usual first-pass filter.
    * Ships as unsigned halves `ahash_hi`/`ahash_lo`, bit index y·8+x
    * (the [[imageDHash]] convention). Non-image payloads drop;
    * per-partition map, no shuffle. */
  def imageAHash(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("ahash_hi", LongType),
      StructField("ahash_lo", LongType))) { bytes =>
      decodeImage(bytes).map { img =>
        val g = resizeNearest(toGray(img), 8, 8)
        val mean = sampleSum(g.samples) / 64
        var hash = 0L
        var i = 0
        while (i < 64) {
          if (g.samples(i) > mean) hash |= 1L << i
          i += 1
        }
        Row(hash >>> 32, hash & 0xFFFFFFFFL)
      }
    }

  /** Integer-mean grayscale (Σch / nch) — shared by the perceptual
    * hashes. */
  private def toGray(img: DecodedImage): DecodedImage =
    if (img.channels == 1) img
    else {
      val g = new Array[Int](img.width * img.height)
      var i = 0
      while (i < g.length) {
        var s = 0
        var ch = 0
        while (ch < img.channels) {
          s += img.samples(i * img.channels + ch); ch += 1
        }
        g(i) = s / img.channels
        i += 1
      }
      DecodedImage(img.width, img.height, 1, g)
    }

  def imageDHash(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("dhash_hi", LongType), StructField("dhash_lo", LongType),
      StructField("band0", LongType), StructField("band1", LongType),
      StructField("band2", LongType), StructField("band3", LongType))) { bytes =>
      decodeImage(bytes).map { img =>
        val grid = resizeNearest(toGray(img), 9, 8)
        var hash = 0L
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            if (grid.samples(y * 9 + x + 1) > grid.samples(y * 9 + x))
              hash |= 1L << (y * 8 + x)
            x += 1
          }
          y += 1
        }
        Row(hash >>> 32, hash & 0xFFFFFFFFL,
          hash & 0xFFFFL, (hash >>> 16) & 0xFFFFL,
          (hash >>> 32) & 0xFFFFL, (hash >>> 48) & 0xFFFFL)
      }
    }

  /** Near-duplicate image pairs from [[imageDHash]] signatures, the
    * MinHash-LSH discipline applied to pixels: collapse docs to DISTINCT
    * signatures first (the signature space is content-bounded, not
    * corpus-bounded — exact-dup clusters never re-join), band-bucket the
    * distinct signatures (4 × 16-bit equi-join keys), then verify
    * candidates with the exact Hamming distance (popcount over the XOR'd
    * halves). Output: representative doc pairs (min doc id per
    * signature), cluster sizes, distance. Candidate recall is exact for
    * distance ≤ 3 (pigeonhole over 4 bands); `maxHamming` above 3 keeps
    * the same buckets and simply verifies a wider radius (documented
    * LSH trade).
    *
    * Band buckets larger than `maxBucketSize` are deterministically
    * sub-bucketed and pool-clamped by [[halvesHammingPairs]] — the
    * discipline the text/LSH pipelines carry: an organic corpus's
    * LOW-ENTROPY images (uniform frames, solid fills) produce many
    * DISTINCT signatures agreeing on one band value, and an unclamped
    * self-equi-join there is ~n²/2¹⁶ candidates per band. Buckets ≤
    * `maxBucketSize` keep the exact unclamped pair set (nSub = 1, pool =
    * whole bucket); oversized buckets bound output at
    * size×maxBucketSize, trading recall inside the pathological bucket
    * only. The bands are cut from (`dhash_hi`, `dhash_lo`), the same bits
    * as `band0..band3`. */
  def dhashNearDupPairs(hashes: DataFrame, idCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 4096): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 64)
    val sigs = hashes.groupBy(col("dhash_hi"), col("dhash_lo"))
      .agg(min(col(idCol)).alias("rep_id"),
        count(lit(1)).alias("n_docs"))
    halvesHammingPairs(sigs, col("rep_id"), col("dhash_hi"), col("dhash_lo"),
        maxHamming, maxBucketSize, col("n_docs").alias("nd"))
      .select(col("a.id").alias("doc_a"), col("b.id").alias("doc_b"),
        col("a.nd").alias("n_docs_a"), col("b.nd").alias("n_docs_b"),
        col("hamming"))
      .distinct()
  }

  /** [[Similarity.hammingBandPairs]] over a 64-bit hash carried as its
    * unsigned 32-bit halves (`hi` = h >>> 32, `lo` = h & 0xFFFFFFFF — the
    * layout of every media hash producer): 4 × 16-bit bands
    * (pigeonhole-exact recall at Hamming ≤ 3) and the
    * [[Hashing.foldHashes]] fold of the halves as the sub-bucket key, so
    * the distinct hashes of a pathological band bucket spread evenly
    * across its sub-buckets. */
  private def halvesHammingPairs(rows: DataFrame, id: Column, hi: Column,
      lo: Column, maxHamming: Int, maxBucketSize: Int,
      payload: Column*): DataFrame =
    Similarity.hammingBandPairs(rows, id, shiftleft(hi, 32).bitwiseOR(lo),
      Hashing.foldHashes(Seq(hi, lo)), 64, 4, maxHamming, maxBucketSize,
      payload: _*)

  /** Shared banded-Hamming near-dup fold over per-UNIT 64-bit signatures
    * (units = video keyframes, audio fingerprint segments, …): band-bucket
    * every unit hash (4 × 16-bit equi-join keys — pigeonhole-exact recall
    * at Hamming ≤ 3; radii above 3 keep the same buckets and only widen
    * the verification, so candidate recall is no longer guaranteed —
    * the documented LSH trade [[dhashNearDupPairs]] carries), verify
    * candidates with the exact popcount distance, fold matched units per
    * id pair, and keep pairs where ≥ `minMatchPct`%
    * of units matched on BOTH sides (integer arithmetic end to end).
    * Input: (idCol, n_units, unit_idx, hiCol, loCol) — one row per unit,
    * n_units stamped per row. Output: (id_a, id_b, n_units_a, n_units_b,
    * n_matched_a, n_matched_b), id_a < id_b. The single source of the
    * near-dup pair semantics shared by [[Video.videoNearDupPairs]] and
    * [[audioNearDupPairs]] — the mediaFingerprints kernel-sharing lesson
    * applied to the pair fold. Only hash rows join; payloads never reach
    * this operator. Band buckets larger than `maxBucketSize` are
    * sub-bucketed and pool-clamped (see [[bandedDistinctHashPairs]]) —
    * buckets within the bound keep the exact unclamped semantics. */
  private[pipeline] def unitNearDupPairs(sigs: DataFrame, idCol: String,
      hiCol: String, loCol: String, maxHamming: Int,
      minMatchPct: Int, maxBucketSize: Int = 4096): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 64)
    require(minMatchPct > 0 && minMatchPct <= 100)
    // The unit-hash rows feed THREE consumers (the distinct-signature
    // candidate stage plus both expansion sides below); fully
    // declarative, the upstream decode map would run three times
    // (differently-projected subtrees defeat ReuseExchange — the
    // winnowPairs finding). One lazy boundary runs the fingerprint
    // decode ONCE; the rows are three longs + ids, never payloads.
    val units = Materializer(sigs.select(col(idCol), col("n_units"),
      col("unit_idx"), col(hiCol).alias("__hi"), col(loCol).alias("__lo")),
      eager = false)
    // Verify once per DISTINCT hash pair, not per unit pair: band recall
    // and Hamming are functions of the hashes alone, so exact-signature
    // cliques (re-upload swarms — every variant of a popular clip hashing
    // identically) collapse out of the banded join entirely (a 10-way
    // clique fixture measured the per-unit form re-verifying each hash
    // pair |cliqueA|x|cliqueB| times at replica scale). The clamped fold
    // emits each unordered hash pair once, so both orientations are
    // reconstructed by union before the clip expansion (which orders by
    // clip id). Identical-hash matches across clips do NOT ride this
    // path: hash equality IS Hamming 0 (no verification to pay), so they
    // expand through a direct unit-level equi-join below — which also
    // sidesteps a Spark 4.1 internal error (external-Row unsafe-writer
    // codegen) hit when the raw distinct-hash projection of an
    // object-serialized source (the mapPartitions decode boundary) is
    // unioned with the windowed fold and re-joined against that source.
    val dsig = units.select(col("__hi"), col("__lo")).distinct()
    val half = bandedDistinctHashPairs(dsig, maxHamming, maxBucketSize)
    val cand = half
      .union(half.select(col("hi_b"), col("lo_b"), col("hi_a"), col("lo_a")))
    // Expand verified hash pairs back to clip pairs — every produced row
    // reaches the output fold, so the expansion does no wasted work
    // beyond the (inherently clique-quadratic) pair listing itself.
    val ua = units.select(col("__hi").alias("hi_a"), col("__lo").alias("lo_a"),
      col(idCol).alias("id_a"), col("n_units").alias("n_units_a"),
      col("unit_idx").alias("unit_a"))
    val ub = units.select(col("__hi").alias("hi_b"), col("__lo").alias("lo_b"),
      col(idCol).alias("id_b"), col("n_units").alias("n_units_b"),
      col("unit_idx").alias("unit_b"))
    val matchCols = Seq(col("id_a"), col("n_units_a"), col("unit_a"),
      col("id_b"), col("n_units_b"), col("unit_b"))
    val crossMatched = cand.join(ua, Seq("hi_a", "lo_a"))
      .join(ub, Seq("hi_b", "lo_b"))
      .select(matchCols: _*)
    val sameMatched = ua.join(ub, col("hi_a") === col("hi_b") &&
        col("lo_a") === col("lo_b"))
      .select(matchCols: _*)
    // n_units_* are functionally dependent on the ids, so they ride as
    // grouping keys; the matched-unit counts come from per-pair
    // collect_set sizes (bounded by units-per-clip — the per-group
    // collect contract class), NOT a two-column countDistinct: Spark
    // plans multi-count-distinct via a 3x Expand, which at replica scale
    // tripled a ~100M-row expansion into a spilling aggregate (measured
    // 160 s/pass; this form is one pass with tiny per-group sets).
    crossMatched.union(sameMatched)
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"),
        col("n_units_a"), col("n_units_b"))
      .agg(size(collect_set(col("unit_a"))).cast(LongType)
          .alias("n_matched_a"),
        size(collect_set(col("unit_b"))).cast(LongType)
          .alias("n_matched_b"))
      .filter(col("n_matched_a") * 100 >= col("n_units_a") * minMatchPct &&
        col("n_matched_b") * 100 >= col("n_units_b") * minMatchPct)
      .select(col("id_a"), col("id_b"), col("n_units_a"), col("n_units_b"),
        col("n_matched_a"), col("n_matched_b"))
  }

  /** Verified near-dup pairs over DISTINCT 64-bit unit hashes — the
    * candidate stage of [[unitNearDupPairs]], factored so the clamp
    * bound is testable in isolation. Input `dsig`: distinct (__hi, __lo)
    * rows. Band-buckets each hash on its 4 × 16-bit bands through
    * [[halvesHammingPairs]] (sub-key = the [[Hashing.foldHashes]] fold of
    * the full hash: distinct hashes spread evenly across the sub-buckets
    * of a pathological bucket — the low-entropy corpus shape where many
    * DISTINCT hashes share one band value, e.g. dark keyframes or
    * silence segments, would otherwise cost ~n²/2¹⁶ candidates per
    * band), then verifies with the exact popcount distance. Buckets
    * ≤ `maxBucketSize` keep the exact unclamped pair set (nSub = 1,
    * pool = whole bucket — differential-gated); oversized buckets bound
    * emitted candidates at size×maxBucketSize, trading recall inside the
    * pathological bucket only.
    *
    * Choosing `maxBucketSize` (c) at scale: emission from an oversized
    * bucket of n entries is ≤ n·c (pool clamp), and recall INSIDE that
    * bucket falls roughly with c/n — c is the knob between candidate
    * emission and in-bucket recall, and only pathological buckets pay
    * it. On the 640k-distinct-hash skew shape (n DISTINCT hashes sharing
    * band 0; the CHANGES.md record of this operator's skew run) c=64 →
    * 25.9M pairs (bound 41M), c=512 → 169M pairs (bound 328M) — ~6.5× the
    * emission for 8× the pool, confirming the n·c bound; the
    * PipelineUnitSpec skew-spread test pins the bound and the spread at
    * test scale. Size c so that the worst expected pathological bucket's
    * n·c emission fits a task budget (pairs are three-long structs);
    * 4096 keeps every sane bucket exact while bounding a 10⁶-entry
    * degenerate bucket at ~4·10⁹ candidates spread across the pair
    * operator's sub-bucket repartition. Output: one row per unordered verified pair (hi_a,
    * lo_a, hi_b, lo_b), a < b in (hi, lo) struct order; (h, h)
    * self-pairs are NOT emitted (the caller appends them). */
  private[graft] def bandedDistinctHashPairs(dsig: DataFrame,
      maxHamming: Int, maxBucketSize: Int): DataFrame =
    halvesHammingPairs(dsig, struct(col("__hi"), col("__lo")), col("__hi"),
        col("__lo"), maxHamming, maxBucketSize)
      .select(col("a.id.__hi").alias("hi_a"), col("a.id.__lo").alias("lo_a"),
        col("b.id.__hi").alias("hi_b"), col("b.id.__lo").alias("lo_b"))
      .distinct() // one row per unordered hash pair, not per band

  /** Haitsma–Kalker audio fingerprints (the public spectral sign hash —
    * Haitsma & Kalker 2002, "A Highly Robust Audio Fingerprinting
    * System") over the engine's WALSH sequency bands: for each frame
    * transition f ≥ 1 and band pair b ∈ 0..6,
    * bit = [ (E(f,b) − E(f,b+1)) − (E(f−1,b) − E(f−1,b+1)) > 0 ] — the
    * sign of the time-sequency energy gradient, invariant under uniform
    * gain (energies scale together, differences keep their signs). Nine
    * consecutive transition frames pack into one 63-bit segment hash
    * (bit index t·7 + b, t = transition mod 9); only COMPLETE segments
    * emit, so every clip's segment set is deterministic in its frame
    * count.
    *
    * Band energies are [[wavSequencyFeatures]]' EXACT-integer
    * Walsh–Hadamard sums — deliberately NOT the trig spectrogram's
    * float-quantized bins: a sign hash amplifies any one-ulp
    * FFT-vs-replay divergence into a discrete bit flip (a Fourier draft
    * measured exact structured bins landing ON the floor-quantization
    * edge, X ≡ 192 mod 256), while the ±1 Walsh basis is bit-exact in
    * any engine. Sequency bands order by sign-change count — the same
    * coarse time-frequency layout the original hash thresholds.
    * Output: (idCol, n_units, unit_idx, hk_hi, hk_lo) — the
    * [[unitNearDupPairs]] signature contract. Per-partition decode map,
    * zero shuffles; one previous frame of band state per clip. */
  def hkFingerprints(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("n_units", IntegerType),
      StructField("unit_idx", IntegerType),
      StructField("hk_hi", LongType),
      StructField("hk_lo", LongType))) { bytes =>
      decodeWavSamples(bytes).iterator.flatMap { a =>
        val nf = a.samples.length / 64
        val eb = Array.tabulate(nf)(walshBands(a.samples, _))
        val nSegs = (nf - 1) / 9
        (0 until nSegs).map { s =>
          var hash = 0L
          var t = 0
          while (t < 9) {
            val fi = 1 + s * 9 + t
            var b = 0
            while (b < 7) {
              val d1 = eb(fi)(b) - eb(fi)(b + 1)
              val d0 = eb(fi - 1)(b) - eb(fi - 1)(b + 1)
              if (d1 - d0 > 0) hash |= 1L << (t * 7 + b)
              b += 1
            }
            t += 1
          }
          Row(nSegs, s, hash >>> 32, hash & 0xFFFFFFFFL)
        }
      }
    }

  /** Audio NEAR-duplicate pairs — the gain-robust complement to
    * [[audioDedup]]'s exact moments, the [[Video.videoNearDupPairs]]
    * discipline on the audio axis: [[hkFingerprints]] segment hashes
    * through the shared [[unitNearDupPairs]] banded-Hamming fold, output
    * renamed to the audio contract (n_segs_*). A re-encode that scales
    * gain moves every exact PCM moment but leaves the spectral sign
    * structure intact. */
  def audioNearDupPairs(df: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3, minMatchPct: Int = 60,
      maxBucketSize: Int = 4096): DataFrame =
    nearDupPairsFromHk(hkFingerprints(df, idCol, payloadCol), idCol,
      maxHamming, minMatchPct, maxBucketSize)

  /** The pair fold over an ALREADY-COMPUTED [[hkFingerprints]] frame —
    * the streaming-sink face (the [[Video.nearDupPairsFromKeyframes]]
    * contract on the audio axis). */
  def nearDupPairsFromHk(sigs: DataFrame, idCol: String,
      maxHamming: Int = 3, minMatchPct: Int = 60,
      maxBucketSize: Int = 4096): DataFrame =
    unitNearDupPairs(sigs, idCol,
      "hk_hi", "hk_lo", maxHamming, minMatchPct, maxBucketSize)
      .withColumnRenamed("n_units_a", "n_segs_a")
      .withColumnRenamed("n_units_b", "n_segs_b")

  /** Near-dup WAV fixture — the [[Video.synthesizeAviNearDupPayload]]
    * shape on audio: bounded groups of 10 consecutive ids (group count
    * grows with the corpus, membership doesn't), per-group scrambled
    * two-sawtooth spectra, and a small uniform GAIN lift as the
    * deterministic re-encode stand-in (exact PCM moments move, spectral
    * sign structure doesn't):
    *  - group g = id / 10, gain factor 128 + 2·(id % 3)
    *  - n = 1280 + 64·(g % 3) samples (20..22 frames ⇒ 2 complete
    *    Haitsma–Kalker segments), sampleRate 8000
    *  - frame f plays a centered PERMUTED RAMP ((k·i + c) % 64 − 32)
    *    whose slope k = 1 + 2·((K·(f+1)² + L·(f+1)) % 30) and amplitude
    *    m = 1 + ((M·(f+1) + K) % 5) both HOP each frame under a
    *    class-scrambled quadratic (K = g%31 + 1, L = g%29, M = g%19,
    *    c = g%23 — the video fixture's CRT discipline, ~17k distinct
    *    hop sequences): odd k permutes the ramp, relocating harmonic
    *    energy across sequency bands every frame, and m swings the
    *    energy scale, so the gradient sign grid is rich and
    *    class-specific (a two-sawtooth draft measured 91 cross-class
    *    collisions and 405 within-group misses)
    *  - s(i) = ramp·m·gainNum — the gain MULTIPLIES exactly (no
    *    division, no floor noise), so every variant's band energies are
    *    an exact γ² scaling and the strict-> gradient bits are
    *    IDENTICAL by construction, not approximately; the ramp spans
    *    [-32, 31], so |s| ≤ 32·5·132 = 21 120, no clipping. */
  def synthesizeWavNearDupPayload(df: DataFrame, idCol: String,
      payloadCol: String = "payload"): DataFrame =
    withIdPayload(df, idCol, payloadCol) { id =>
      val g = id / 10
      val gainNum = (128 + 2 * (id % 3)).toInt
      val n = (1280 + 64 * (g % 3)).toInt
      val kq = (g % 31 + 1).toInt
      val kl = (g % 29).toInt
      val km = (g % 19).toInt
      val c = (g % 23).toInt
      val samples = Array.tabulate(n) { i =>
        val f = i / 64 + 1
        val k = 1 + 2 * ((kq * f * f + kl * f) % 30)
        val m = 1 + (km * f + kq) % 5
        (((k * i + c) % 64) - 32) * m * gainNum
      }
      buildWavWithSamples(8000, samples)
    }

  /** Feature seeds start above the metadata seeds (0..2). */
  private val FeatureSeedBase = 16

  /** Content-fingerprint features for payloads WITHOUT a built-in codec:
    * a real deterministic function of the bytes (polynomial hash mixed per
    * dimension, 3-decimal values in [0, 1)) — useful as a cheap
    * locality-free signature column, and the documented fallback arm of
    * [[extractFeatures]] for formats the engine cannot decode. */
  def fingerprintFeatures(bytes: Array[Byte], featureDim: Int): Array[Double] = {
    val h = Hashing.polyHashBytes(bytes)
    Array.tabulate(featureDim)(i =>
      (Hashing.mixLong(h, FeatureSeedBase + i) % 1000L) / 1000.0)
  }

  /** Image decode dispatch by magic bytes: PNG → [[decodePng]], JFIF →
    * [[Jpeg.decodeJpeg]], BM → [[decodeBmp]]. None for anything else
    * (or undecodable). */
  def decodeImage(bytes: Array[Byte]): Option[DecodedImage] = {
    if (bytes == null || bytes.length < 4) None
    else if ((bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P') decodePng(bytes)
    else if ((bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8)
      Jpeg.decodeJpeg(bytes)
    else if (bytes(0) == 'B' && bytes(1) == 'M') decodeBmp(bytes)
    else None
  }

  // ---- real BMP decode (uncompressed 24-bit — pure byte arithmetic) ----

  /** REAL BMP decode for the uncompressed 24-bit BI_RGB case — the spec's
    * quirks done faithfully: 14-byte file header + 40-byte
    * BITMAPINFOHEADER, rows padded to 4-byte boundaries, BOTTOM-UP row
    * order for positive heights (negative biHeight = top-down, also
    * honored), BGR byte order flipped to RGB sample layout. Palette,
    * compressed (biCompression != 0) and non-24-bpp variants return
    * None — the [[mediaCoverage]] header_only discipline.
    *
    * Hostile-input guards BEFORE any allocation (the MP4 uniform-stsz
    * lesson): dimensions are range-checked against both a hard cap and
    * the actual byte length (declared rows must fit inside the buffer),
    * so a 100-byte payload claiming a 2³¹-pixel bitmap cannot drive an
    * allocation. */
  def decodeBmp(bytes: Array[Byte]): Option[DecodedImage] = {
    // the header's 32-bit fields are signed (a negative height is top-down)
    def i32(o: Int) = le32(bytes, o).toInt
    if (bytes == null || bytes.length < 54) return None
    if (bytes(0) != 'B' || bytes(1) != 'M') return None
    val dataOffset = i32(10)
    if (i32(14) != 40) return None // BITMAPINFOHEADER only
    val w = i32(18)
    val hRaw = i32(22)
    val topDown = hRaw < 0
    val h = math.abs(hRaw.toLong).toInt
    if (le16(bytes, 26) != 1 || le16(bytes, 28) != 24 || i32(30) != 0)
      return None
    if (w <= 0 || w > (1 << 14) || h <= 0 || h > (1 << 14)) return None
    if (w.toLong * h > (1L << 24)) return None
    val rowSize = ((3L * w + 3) / 4 * 4).toInt
    if (dataOffset < 54 || dataOffset.toLong + rowSize.toLong * h >
      bytes.length) return None
    val out = new Array[Int](w * h * 3)
    var r = 0
    while (r < h) {
      val src = dataOffset + (if (topDown) r else h - 1 - r) * rowSize
      var c = 0
      while (c < w) {
        val o = src + 3 * c
        val d = (r * w + c) * 3
        out(d) = bytes(o + 2) & 0xFF     // R
        out(d + 1) = bytes(o + 1) & 0xFF // G
        out(d + 2) = bytes(o) & 0xFF     // B
        c += 1
      }
      r += 1
    }
    Some(DecodedImage(w, h, 3, out))
  }

  /** Spec-faithful 24-bit BI_RGB builder (bottom-up, padded, BGR) —
    * `samples` in RGB row-major layout, length w·h·3. */
  private[pipeline] def buildBmp(w: Int, h: Int,
      samples: Array[Int]): Array[Byte] = {
    require(samples.length == w * h * 3)
    val rowSize = (3 * w + 3) / 4 * 4
    val dataSize = rowSize * h
    sink { b =>
      // file header (size, reserved, pixel offset), then BITMAPINFOHEADER
      // (size, dims, planes, bits per pixel, BI_RGB, image size, 16 zeros)
      b.u8('B').u8('M').le32(54 + dataSize).le32(0).le32(54)
        .le32(40).le32(w).le32(h).le16(1).le16(24).le32(0).le32(dataSize)
        .zeros(16)
      for (r <- h - 1 to 0 by -1) {
        for (c <- 0 until w) {
          val s = (r * w + c) * 3
          b.u8(samples(s + 2)).u8(samples(s + 1)).u8(samples(s)) // B, G, R
        }
        b.zeros(rowSize - 3 * w)
      }
    }
  }

  /** Deterministic BMP fixture: the PNG gradient arithmetic family
    * (sample(y,x,ch) = (id%251 + 5y + 3x + 11ch) % 256) over
    * w = 8 + id%24, h = 8 + (id·3)%24 — widths chosen so most rows need
    * real 4-byte padding, exercising the decoder's stride walk. */
  private[pipeline] def bmpPayloadFor(id: Long): Array[Byte] = {
    val w = (8 + id % 24).toInt
    val h = (8 + (id * 3) % 24).toInt
    val base = (id % 251).toInt
    val samples = new Array[Int](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var ch = 0
        while (ch < 3) {
          samples((y * w + x) * 3 + ch) = (base + 5 * y + 3 * x + 11 * ch) % 256
          ch += 1
        }
        x += 1
      }
      y += 1
    }
    buildBmp(w, h, samples)
  }

  /** BMP fixture column, the [[synthesizeWavPayload]] convention. */
  def synthesizeBmpPayload(df: DataFrame, idCol: String,
      payloadCol: String = "payload"): DataFrame =
    withIdPayload(df, idCol, payloadCol)(bmpPayloadFor)

  /** [[pngPixelStats]] for BMP payloads — width/height/channels, exact
    * integer sample sum, one IEEE division for the mean; undecodable
    * rows drop. Per-partition map, no shuffle. */
  def bmpPixelStats(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    pixelStats(df, idCol, payloadCol)(decodeBmp)

  /** REAL decoded-sample histogram over `nBins` equal-width bins, for every
    * format the engine decodes end to end: PNG and baseline JPEG pixels
    * (values 0..255 → bin v·nBins/256), MJPEG-AVI frames (all frames'
    * pixels pooled), and 16-bit PCM WAV (bin (s+32768)·nBins/65536). None
    * when no codec applies — the caller decides between dropping and
    * [[fingerprintFeatures]]. */
  def sampleHistogram(bytes: Array[Byte], nBins: Int): Option[Array[Long]] = {
    require(nBins > 0 && nBins <= 65536)
    def ofImage(img: DecodedImage): Array[Long] = {
      val h = new Array[Long](nBins)
      var i = 0
      while (i < img.samples.length) {
        h(img.samples(i) * nBins / 256) += 1L; i += 1
      }
      h
    }
    decodeImage(bytes).map(ofImage).orElse {
      Video.parseVideoMjpeg(bytes).flatMap { avi =>
        val hs = avi.frames.flatMap(f => Jpeg.decodeJpeg(f).map(ofImage))
        if (hs.isEmpty) None
        else Some(hs.reduce { (a, b) =>
          var i = 0; while (i < nBins) { a(i) += b(i); i += 1 }; a
        })
      }
    }.orElse {
      decodeWavSamples(bytes).map { a =>
        val h = new Array[Long](nBins)
        var i = 0
        while (i < a.samples.length) {
          h((a.samples(i) + 32768) * nBins / 65536) += 1L; i += 1
        }
        h
      }
    }
  }

  /** Per-payload (bin, count) rows through the REAL decode dispatch —
    * non-zero bins only, undecodable payloads dropped (pair with
    * [[mediaCoverage]] to see what was dropped). Per-partition map, no
    * shuffle; the histogram is the bounded (≤ nBins) summary that leaves
    * the executor, never the pixels. */
  def pixelHistogram(df: DataFrame, idCol: String, payloadCol: String,
      nBins: Int = 16): DataFrame =
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("bin", IntegerType), StructField("cnt", LongType))) { bytes =>
      sampleHistogram(bytes, nBins).iterator.flatMap(h =>
        h.iterator.zipWithIndex.collect { case (c, b) if c > 0 => Row(b, c) })
    }

  /** Histogram-equalization LUT over a [[pixelHistogram]] table: per
    * image, the cumulative distribution per bin and the equalized target
    * level lut = ⌊(nBins−1)·cdf / n⌋ — the contrast-normalization map an
    * image-prep pass applies before perceptual hashing or training (two
    * exposures of the same scene equalize toward the same histogram).
    * All exact BIGINT arithmetic (counts, prefix sums, one floor
    * division of non-negative integers — identical semantics in any
    * engine); the per-image window runs over ≤ nBins rows, a bounded
    * post-aggregate step, never pixels.
    * Output: (idCol, bin, cnt, cdf, lut). */
  def histEqualization(hist: DataFrame, idCol: String,
      nBins: Int = 16): DataFrame = {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("bin"))
    val wTot = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
    hist
      .withColumn("cdf", sum(col("cnt")).over(wOrd))
      .withColumn("__n", sum(col("cnt")).over(wTot))
      .withColumn("lut", expr(s"(${nBins - 1} * cdf) div __n"))
      .select(col(idCol), col("bin"), col("cnt"), col("cdf"), col("lut"))
  }

  /** Feature extraction over the payload column via `mapPartitions` — rows
    * stream through in executor-sized batches. Decodable payloads (PNG /
    * baseline JPEG / MJPEG-AVI / PCM WAV) get REAL content features: the
    * [[sampleHistogram]] mass per bin, truncated to 3 decimals (exact
    * integer arithmetic, so the vector is engine-independent). Everything
    * else falls back to [[fingerprintFeatures]] — a real byte fingerprint,
    * not a placeholder; there is no undecoded-media seam left behind this
    * signature. Output: (idCol, features array<double>). */
  def extractFeatures(df: DataFrame, idCol: String, payloadCol: String,
      featureDim: Int = 64): DataFrame =
    decodeRows(df, idCol, payloadCol, Seq(
      StructField("features", ArrayType(DoubleType)))) { bytes0 =>
      val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
      val feats = sampleHistogram(bytes, featureDim) match {
        case Some(h) =>
          val n = h.sum.max(1L)
          h.map(c => (c * 1000L / n) / 1000.0)
        case None => fingerprintFeatures(bytes, featureDim)
      }
      Some(Row(feats.toSeq))
    }

  /** REAL nearest-neighbor resample of a decoded image to `w`×`h` —
    * source pixel (x·srcW/w, y·srcH/h) per target pixel, channels kept. */
  def resizeNearest(img: DecodedImage, w: Int, h: Int): DecodedImage = {
    require(w > 0 && h > 0)
    val out = new Array[Int](w * h * img.channels)
    var y = 0
    while (y < h) {
      val sy = y * img.height / h
      var x = 0
      while (x < w) {
        val sx = x * img.width / w
        var ch = 0
        while (ch < img.channels) {
          out((y * w + x) * img.channels + ch) =
            img.samples((sy * img.width + sx) * img.channels + ch)
          ch += 1
        }
        x += 1
      }
      y += 1
    }
    DecodedImage(w, h, img.channels, out)
  }

  /** Resize image payloads to `targetW`×`targetH` via `mapPartitions`:
    * REAL decode ([[decodeImage]]) → nearest-neighbor resample → re-encode
    * as a spec-valid PNG ([[buildPngWithPixels]], filter 0 — store-fast;
    * a production writer would pick filters per row). Non-image rows and
    * image payloads the engine cannot decode (e.g. header-only fixtures,
    * arithmetic-coded JPEG) pass through untouched with their original
    * metadata — undecodable is a coverage fact, not a crash. Output keeps
    * the input schema; resized rows carry updated width/height. */
  def resizeImages(df: DataFrame, idCol: String, payloadCol: String,
      metaCol: String, targetW: Int, targetH: Int): DataFrame = {
    val schema = StructType(Seq(
      df.schema(idCol),
      StructField(payloadCol, BinaryType),
      df.schema(metaCol)))
    df.select(col(idCol), col(payloadCol), col(metaCol))
      .mapPartitions { it =>
        it.map { r =>
          val meta = r.getStruct(2)
          // positional access: rows flowing between same-stage mapPartitions
          // calls carry no schema (field 0 = media_type per MediaMeta)
          val decoded =
            if (meta != null && !meta.isNullAt(0) && meta.getString(0) == "image")
              decodeImage(r.getAs[Array[Byte]](1))
            else None
          decoded match {
            case Some(img) =>
              val rs = resizeNearest(img, targetW, targetH)
              val png = buildPngWithPixels(targetW, targetH, rs.channels,
                rs.samples, _ => 0)
              Row(r.get(0), png, Row(meta.get(0), "png",
                targetW, targetH, meta.get(4)))
            case None => Row(r.get(0), r.get(1), meta)
          }
        }
      }(Encoders.row(schema))
      .toDF()
  }

  /** Deterministic frame sampling plan for video payloads: every `everyMs`
    * milliseconds within the (stubbed) duration — pure Column algebra, the
    * explode shape a real frame extractor plugs into. */
  def sampleFramePlan(df: DataFrame, idCol: String, metaCol: String,
      everyMs: Long): DataFrame =
    df.filter(col(s"$metaCol.media_type") === "video")
      .select(col(idCol),
        explode(sequence(lit(0L), col(s"$metaCol.duration_ms"), lit(everyMs)))
          .alias("frame_ts_ms"))
}

package graft.pipeline

import org.apache.spark.sql.DataFrame

import graft.pipeline.MediaMap.{ByteSink, be16, sink, withIdPayload}
import graft.pipeline.Multimodal.DecodedImage

/** REAL JPEG pixel decode in pure JVM code — baseline AND progressive
  * (PNG fell in round 9, MJPEG video rides on this decoder via
  * [[Video]]; no codec seam remains).
  *
  * Scope: huffman JFIF at 8-bit precision — baseline sequential
  * (SOF0/SOF1) and progressive (SOF2, spectral selection + successive
  * approximation per spec G.1.2, following the public IJG phuff decoder
  * semantics) — grayscale or YCbCr with 1×1, 2×1, or 2×2 luma sampling:
  * what cameras, browsers, `javax.imageio`'s writer, and web-crawl
  * progressive re-encodes emit. Arithmetic-coded, 12-bit, hierarchical,
  * and exotic-sampling streams return None (drop, never crash — the
  * corpus-hygiene contract shared with [[Multimodal.decodePng]];
  * [[Multimodal.mediaCoverage]] surfaces the drop rate).
  *
  * Decoded VALUES match the JDK's ImageIO reader bit-for-bit, not just
  * within a tolerance: every lossy-side choice replicates the classic IJG
  * decoder arithmetic the JDK wraps — the fixed-point "islow"
  * Loeffler-Ligtenberg-Moshovitz IDCT (CONST_BITS=13 descaling), the
  * triangular "fancy" chroma upsampling (3:1 neighbor blends with the
  * exact +1/+2 and +7/+8 rounding biases), and the 16-bit fixed-point
  * YCbCr→RGB tables. JPEG the standard does not pin decoder output; IJG
  * arithmetic de facto does, and matching it makes the unit differential
  * (`decodeJpeg == ImageIO.read`, sameElements) exact on ImageIO-encoded
  * color photos, not only on synthetic flat blocks.
  *
  * Spark-side shape: like the PNG arm, decode is a per-partition map over
  * binary payload columns — no shuffle, linear in executors; see
  * [[jpegPixelStats]].
  */
object Jpeg {

  /** JPEG zigzag order: zigzag index -> natural (row-major) index. */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // ------------------------------------------------------------ bit reader
  /** Entropy-segment bit reader: handles 0xFF00 stuffing, stops at any
    * real marker; restart markers are consumed explicitly by the caller. */
  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    var hitMarker = false

    /** Read one bit; -1 on exhausted/corrupt data. */
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= bytes.length) return -1
        val b = bytes(pos) & 0xFF
        if (b == 0xFF) {
          if (pos + 1 >= bytes.length) return -1
          val b2 = bytes(pos + 1) & 0xFF
          if (b2 == 0x00) pos += 2 // stuffed data byte 0xFF
          else { hitMarker = true; return -1 } // real marker: no more bits
        } else pos += 1
        acc = b
        nbits = 8
      }
      nbits -= 1
      (acc >> nbits) & 1
    }

    /** Read `n` bits MSB-first; -1 on exhaustion. */
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val b = bit()
        if (b < 0) return -1
        v = (v << 1) | b
        i += 1
      }
      v
    }

    /** Drop partial byte and consume an expected RSTn marker. */
    def syncRestart(): Boolean = {
      nbits = 0
      // scan to the marker (should be immediate)
      while (pos + 1 < bytes.length && (bytes(pos) & 0xFF) != 0xFF) pos += 1
      if (pos + 1 >= bytes.length) return false
      val m = bytes(pos + 1) & 0xFF
      if (m >= 0xD0 && m <= 0xD7) { pos += 2; hitMarker = false; true }
      else false
    }
  }

  // -------------------------------------------------------- huffman tables
  /** Canonical huffman decode table (mincode/maxcode/valptr per length). */
  private final class HuffTable(counts: Array[Int], symbols: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1)
        k += counts(l - 1)
        maxCode(l) = if (counts(l - 1) > 0) code - 1 else -1
        code <<= 1
        l += 1
      }
    }
    /** Decode one symbol; -1 on corrupt/exhausted input. */
    def decode(br: BitReader): Int = {
      var code = 0
      var l = 1
      while (l <= 16) {
        val b = br.bit()
        if (b < 0) return -1
        code = (code << 1) | b
        if (maxCode(l) >= 0 && code <= maxCode(l) && code >= minCode(l))
          return symbols(valPtr(l) + code - minCode(l))
        l += 1
      }
      -1
    }
  }

  // -------------------------------------------------------------- IDCT
  private val ConstBits = 13
  private val Pass1Bits = 2
  private val F_0_298631336 = 2446L
  private val F_0_390180644 = 3196L
  private val F_0_541196100 = 4433L
  private val F_0_765366865 = 6270L
  private val F_0_899976223 = 7373L
  private val F_1_175875602 = 9633L
  private val F_1_501321110 = 12299L
  private val F_1_847759065 = 15137L
  private val F_1_961570560 = 16069L
  private val F_2_053119869 = 16819L
  private val F_2_562915447 = 20995L
  private val F_3_072711026 = 25172L

  @inline private def descale(x: Long, n: Int): Long = (x + (1L << (n - 1))) >> n
  @inline private def clampByte(v: Long): Int =
    if (v < 0) 0 else if (v > 255) 255 else v.toInt

  /** IJG "islow" fixed-point IDCT of one dequantized 8×8 block (natural
    * order) into 8-bit samples (level-shifted +128, clamped). Long
    * accumulators: same values as IJG's INT32 on legal streams, no
    * overflow wrap on hostile ones. */
  private def idctBlock(coef: Array[Long], out: Array[Int]): Unit = {
    val ws = new Array[Long](64)
    // pass 1: columns
    var c = 0
    while (c < 8) {
      if (coef(8 + c) == 0 && coef(16 + c) == 0 && coef(24 + c) == 0 &&
          coef(32 + c) == 0 && coef(40 + c) == 0 && coef(48 + c) == 0 &&
          coef(56 + c) == 0) {
        val dc = coef(c) << Pass1Bits
        var r = 0
        while (r < 8) { ws(r * 8 + c) = dc; r += 1 }
      } else {
        var z2 = coef(16 + c); var z3 = coef(48 + c)
        var z1 = (z2 + z3) * F_0_541196100
        var tmp2 = z1 - z3 * F_1_847759065
        var tmp3 = z1 + z2 * F_0_765366865
        z2 = coef(c); z3 = coef(32 + c)
        var tmp0 = (z2 + z3) << ConstBits
        var tmp1 = (z2 - z3) << ConstBits
        val tmp10 = tmp0 + tmp3; val tmp13 = tmp0 - tmp3
        val tmp11 = tmp1 + tmp2; val tmp12 = tmp1 - tmp2
        tmp0 = coef(56 + c); tmp1 = coef(40 + c)
        tmp2 = coef(24 + c); tmp3 = coef(8 + c)
        z1 = tmp0 + tmp3; z2 = tmp1 + tmp2
        z3 = tmp0 + tmp2; var z4 = tmp1 + tmp3
        val z5 = (z3 + z4) * F_1_175875602
        tmp0 *= F_0_298631336
        tmp1 *= F_2_053119869
        tmp2 *= F_3_072711026
        tmp3 *= F_1_501321110
        z1 *= -F_0_899976223
        z2 *= -F_2_562915447
        z3 = z3 * (-F_1_961570560) + z5
        z4 = z4 * (-F_0_390180644) + z5
        tmp0 += z1 + z3; tmp1 += z2 + z4
        tmp2 += z2 + z3; tmp3 += z1 + z4
        ws(c) = descale(tmp10 + tmp3, ConstBits - Pass1Bits)
        ws(56 + c) = descale(tmp10 - tmp3, ConstBits - Pass1Bits)
        ws(8 + c) = descale(tmp11 + tmp2, ConstBits - Pass1Bits)
        ws(48 + c) = descale(tmp11 - tmp2, ConstBits - Pass1Bits)
        ws(16 + c) = descale(tmp12 + tmp1, ConstBits - Pass1Bits)
        ws(40 + c) = descale(tmp12 - tmp1, ConstBits - Pass1Bits)
        ws(24 + c) = descale(tmp13 + tmp0, ConstBits - Pass1Bits)
        ws(32 + c) = descale(tmp13 - tmp0, ConstBits - Pass1Bits)
      }
      c += 1
    }
    // pass 2: rows
    var r = 0
    while (r < 8) {
      val o = r * 8
      if (ws(o + 1) == 0 && ws(o + 2) == 0 && ws(o + 3) == 0 &&
          ws(o + 4) == 0 && ws(o + 5) == 0 && ws(o + 6) == 0 && ws(o + 7) == 0) {
        val dc = clampByte(descale(ws(o), Pass1Bits + 3) + 128)
        var x = 0
        while (x < 8) { out(o + x) = dc; x += 1 }
      } else {
        var z2 = ws(o + 2); var z3 = ws(o + 6)
        var z1 = (z2 + z3) * F_0_541196100
        var tmp2 = z1 - z3 * F_1_847759065
        var tmp3 = z1 + z2 * F_0_765366865
        var tmp0 = (ws(o) + ws(o + 4)) << ConstBits
        var tmp1 = (ws(o) - ws(o + 4)) << ConstBits
        val tmp10 = tmp0 + tmp3; val tmp13 = tmp0 - tmp3
        val tmp11 = tmp1 + tmp2; val tmp12 = tmp1 - tmp2
        tmp0 = ws(o + 7); tmp1 = ws(o + 5); tmp2 = ws(o + 3); tmp3 = ws(o + 1)
        z1 = tmp0 + tmp3; z2 = tmp1 + tmp2
        z3 = tmp0 + tmp2; var z4 = tmp1 + tmp3
        val z5 = (z3 + z4) * F_1_175875602
        tmp0 *= F_0_298631336
        tmp1 *= F_2_053119869
        tmp2 *= F_3_072711026
        tmp3 *= F_1_501321110
        z1 *= -F_0_899976223
        z2 *= -F_2_562915447
        z3 = z3 * (-F_1_961570560) + z5
        z4 = z4 * (-F_0_390180644) + z5
        tmp0 += z1 + z3; tmp1 += z2 + z4
        tmp2 += z2 + z3; tmp3 += z1 + z4
        val sh = ConstBits + Pass1Bits + 3
        out(o) = clampByte(descale(tmp10 + tmp3, sh) + 128)
        out(o + 7) = clampByte(descale(tmp10 - tmp3, sh) + 128)
        out(o + 1) = clampByte(descale(tmp11 + tmp2, sh) + 128)
        out(o + 6) = clampByte(descale(tmp11 - tmp2, sh) + 128)
        out(o + 2) = clampByte(descale(tmp12 + tmp1, sh) + 128)
        out(o + 5) = clampByte(descale(tmp12 - tmp1, sh) + 128)
        out(o + 3) = clampByte(descale(tmp13 + tmp0, sh) + 128)
        out(o + 4) = clampByte(descale(tmp13 - tmp0, sh) + 128)
      }
      r += 1
    }
  }

  // ----------------------------------------------------------- decode main
  private final case class Component(id: Int, h: Int, v: Int, tq: Int) {
    var dcTab: HuffTable = _
    var acTab: HuffTable = _
    var pred: Int = 0
    var plane: Array[Int] = _ // blocksAcross*8 × blocksDown*8 samples
    var planeW: Int = 0
    var planeH: Int = 0
    var outW: Int = 0 // downsampled (ceil(w·h/maxH)) widths for upsampling
    var outH: Int = 0
    // progressive-mode coefficient store (natural order per block)
    var coefs: Array[Int] = _
    var bwP: Int = 0 // padded (MCU-multiple) block dims — interleaved scans
    var bhP: Int = 0
    var nbw: Int = 0 // non-padded block dims — single-component scans
    var nbh: Int = 0
  }

  /** Hard cap on declared width×height (samples) accepted by the decoder.
    * 100 M samples ≈ a 10k×10k frame — far above any fixture yet small
    * enough that the worst-case allocation (3 planes + 3 coef stores for
    * a progressive 3-component scan, ~28 bytes/sample) stays under ~3 GB
    * per row instead of the ~120 GB a hostile 65535×65535 SOF implies. */
  private[pipeline] val MaxDecodedSamples = 100000000L

  /** Decode a baseline or progressive JFIF payload; None on any
    * unsupported or corrupt structure. Output: grayscale (1 channel) or
    * interleaved RGB. */
  def decodeJpeg(bytes: Array[Byte]): Option[DecodedImage] = {
    if (bytes == null || bytes.length < 4 ||
        (bytes(0) & 0xFF) != 0xFF || (bytes(1) & 0xFF) != 0xD8) return None
    val qtabs = Array.ofDim[Int](4, 64) // zigzag order
    val qseen = new Array[Boolean](4)
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var comps: Array[Component] = null
    var width = 0; var height = 0
    var restartInterval = 0
    var progressive = false
    var progStarted = false // at least one SOS scan decoded (progressive)
    var o = 2L
    // ---- marker walk (Long offsets: hostile declared lengths must not
    // overflow into negative indices — the decodePng lesson)
    while (o + 4 <= bytes.length) {
      var oi = o.toInt
      if ((bytes(oi) & 0xFF) != 0xFF) return None
      // spec-legal 0xFF fill bytes may pad before a marker id: collapse
      // any FF run so the first non-FF byte is the marker (B.1.1.2)
      while (oi + 2 < bytes.length && (bytes(oi + 1) & 0xFF) == 0xFF) {
        oi += 1; o += 1
      }
      if (o + 2 > bytes.length) return None
      val marker = bytes(oi + 1) & 0xFF
      if (marker == 0x00) return None // FF00 is illegal outside entropy data
      if (marker == 0xD8 || marker == 0x01 ||
          (marker >= 0xD0 && marker <= 0xD7)) { o += 2 } // SOI/TEM/RSTn: standalone
      else if (marker == 0xD9) {
        // EOI: a progressive stream reconstructs here, after all scans;
        // a baseline stream reaching EOI before SOS is malformed
        return if (progressive && progStarted)
          reconstructProgressive(comps, width, height, qtabs, qseen)
        else None
      } else {
        // fills may have eaten into the 4-byte headroom the outer loop
        // guaranteed — re-check before the 2-byte length read
        if (o + 4 > bytes.length) return None
        val len = be16(bytes, oi + 2)
        if (len < 2 || o + 2 + len > bytes.length) return None
        val seg = oi + 4
        val segEnd = oi + 2 + len
        marker match {
          case 0xDB => // DQT
            var p = seg
            while (p < segEnd) {
              val pq = (bytes(p) & 0xF0) >> 4
              val tq = bytes(p) & 0x0F
              if (tq > 3) return None
              if (pq == 0) {
                if (p + 65 > segEnd) return None
                var k = 0
                while (k < 64) { qtabs(tq)(k) = bytes(p + 1 + k) & 0xFF; k += 1 }
                p += 65
              } else if (pq == 1) {
                if (p + 129 > segEnd) return None
                var k = 0
                while (k < 64) { qtabs(tq)(k) = be16(bytes, p + 1 + 2 * k); k += 1 }
                p += 129
              } else return None
              qseen(tq) = true
            }
            o += 2 + len
          case 0xC4 => // DHT
            var p = seg
            while (p + 17 <= segEnd) {
              val tc = (bytes(p) & 0xF0) >> 4
              val th = bytes(p) & 0x0F
              if (tc > 1 || th > 3) return None
              val counts = new Array[Int](16)
              var total = 0
              var k = 0
              while (k < 16) {
                counts(k) = bytes(p + 1 + k) & 0xFF; total += counts(k); k += 1
              }
              if (p + 17 + total > segEnd || total > 256) return None
              val symbols = new Array[Int](total)
              k = 0
              while (k < total) { symbols(k) = bytes(p + 17 + k) & 0xFF; k += 1 }
              val t = new HuffTable(counts, symbols)
              if (tc == 0) dcTabs(th) = t else acTabs(th) = t
              p += 17 + total
            }
            o += 2 + len
          case 0xC0 | 0xC1 | 0xC2 => // SOF0/1 baseline(+ext) seq; SOF2 progressive
            if (len < 8) return None
            progressive = marker == 0xC2
            val prec = bytes(seg) & 0xFF
            height = be16(bytes, seg + 1)
            width = be16(bytes, seg + 3)
            val nc = bytes(seg + 5) & 0xFF
            if (prec != 8 || width <= 0 || height <= 0 ||
                (nc != 1 && nc != 3) || len != 8 + 3 * nc) return None
            // decompression-bomb guard: a few-hundred-byte hostile SOF can
            // declare up to 65535×65535 (~4.3e9 samples) and trigger
            // multi-GB plane/coefficient allocations (progressive
            // allocates at the first scan header, before any entropy data
            // is validated). Cap BEFORE any allocation — shared by the
            // baseline decodeScan planes and allocProgressive coef stores.
            if (width.toLong * height > MaxDecodedSamples) return None
            comps = new Array[Component](nc)
            var ci = 0
            while (ci < nc) {
              val b0 = seg + 6 + 3 * ci
              val hv = bytes(b0 + 1) & 0xFF
              comps(ci) = Component(bytes(b0) & 0xFF, (hv >> 4) & 0xF,
                hv & 0xF, bytes(b0 + 2) & 0x0F)
              if (comps(ci).h < 1 || comps(ci).h > 4 ||
                  comps(ci).v < 1 || comps(ci).v > 4) return None
              ci += 1
            }
            o += 2 + len
          case m if m >= 0xC3 && m <= 0xCF && m != 0xC4 && m != 0xC8 =>
            return None // arithmetic / hierarchical / lossless
          case 0xDD => // DRI
            if (len != 4) return None
            restartInterval = be16(bytes, seg)
            o += 2 + len
          case 0xDA if !progressive => // SOS — decode the one interleaved scan
            if (comps == null) return None
            val ns = bytes(seg) & 0xFF
            if (ns != comps.length || len != 6 + 2 * ns) return None
            var si = 0
            while (si < ns) {
              val cs = bytes(seg + 1 + 2 * si) & 0xFF
              val cOpt = comps.find(_.id == cs)
              if (cOpt.isEmpty) return None
              val c = cOpt.get
              val tt = bytes(seg + 2 + 2 * si) & 0xFF
              val dt = dcTabs((tt >> 4) & 0xF); val at = acTabs(tt & 0xF)
              if (dt == null || at == null || !qseen(c.tq)) return None
              c.dcTab = dt; c.acTab = at
              si += 1
            }
            return decodeScan(bytes, segEnd, comps, width, height,
              qtabs, restartInterval)
          case 0xDA => // SOS, progressive: one of many scans — accumulate
            if (comps == null) return None
            val ns = bytes(seg) & 0xFF
            if (ns < 1 || ns > comps.length || len != 6 + 2 * ns) return None
            if (!progStarted) {
              if (!allocProgressive(comps, width, height)) return None
              progStarted = true
            }
            val scomps = new Array[Component](ns)
            var si = 0
            while (si < ns) {
              val cs = bytes(seg + 1 + 2 * si) & 0xFF
              val cOpt = comps.find(_.id == cs)
              if (cOpt.isEmpty) return None
              val c = cOpt.get
              val tt = bytes(seg + 2 + 2 * si) & 0xFF
              c.dcTab = dcTabs((tt >> 4) & 0xF)
              c.acTab = acTabs(tt & 0xF)
              scomps(si) = c
              si += 1
            }
            val ss = bytes(seg + 1 + 2 * ns) & 0xFF
            val se = bytes(seg + 2 + 2 * ns) & 0xFF
            val ahal = bytes(seg + 3 + 2 * ns) & 0xFF
            val nxt = decodeProgressiveScan(bytes, segEnd, comps, scomps,
              ss, se, (ahal >> 4) & 0xF, ahal & 0xF, restartInterval)
            if (nxt < 0) return None
            o = nxt // continue the walk at the next marker
          case _ => o += 2 + len // APPn / COM / others: skip
        }
      }
    }
    // a progressive stream whose trailing EOI sits in the last 2 bytes
    // falls out of the o+4 loop guard — accept it here
    if (progressive && progStarted && o + 2 <= bytes.length &&
        (bytes(o.toInt) & 0xFF) == 0xFF && (bytes(o.toInt + 1) & 0xFF) == 0xD9)
      return reconstructProgressive(comps, width, height, qtabs, qseen)
    None // no SOS reached (baseline), or truncated before EOI (progressive)
  }

  /** Sampling shapes outside the IJG-common set (identity, h2v1, h2v2 per
    * chroma component) are rejected — the upsampler covers only those. */
  private def validSampling(comps: Array[Component], maxH: Int, maxV: Int)
      : Boolean =
    comps.forall { c =>
      val he = maxH / c.h; val ve = maxV / c.v
      maxH % c.h == 0 && maxV % c.v == 0 && he <= 2 && ve <= 2 &&
        !(he == 1 && ve == 2)
    }

  /** Entropy-decode the interleaved scan and reconstruct pixels. */
  private def decodeScan(bytes: Array[Byte], scanStart: Int,
      comps: Array[Component], width: Int, height: Int,
      qtabs: Array[Array[Int]], restartInterval: Int): Option[DecodedImage] = {
    val maxH = comps.map(_.h).max
    val maxV = comps.map(_.v).max
    if (!validSampling(comps, maxH, maxV)) return None
    val mcusX = (width + 8 * maxH - 1) / (8 * maxH)
    val mcusY = (height + 8 * maxV - 1) / (8 * maxV)
    for (c <- comps) {
      c.planeW = mcusX * c.h * 8
      c.planeH = mcusY * c.v * 8
      c.outW = (width * c.h + maxH - 1) / maxH
      c.outH = (height * c.v + maxV - 1) / maxV
      c.plane = new Array[Int](c.planeW * c.planeH)
      c.pred = 0
    }
    val br = new BitReader(bytes, scanStart)
    val coef = new Array[Long](64)
    val pix = new Array[Int](64)
    var mcu = 0
    val nMcus = mcusX * mcusY
    while (mcu < nMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        if (!br.syncRestart()) return None
        comps.foreach(_.pred = 0)
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val q = qtabs(c.tq)
        var bv = 0
        while (bv < c.v) {
          var bh = 0
          while (bh < c.h) {
            java.util.Arrays.fill(coef, 0L)
            // DC
            val s = c.dcTab.decode(br)
            if (s < 0 || s > 15) return None
            var diff = 0
            if (s > 0) {
              val v = br.bits(s)
              if (v < 0) return None
              diff = if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
            }
            c.pred += diff
            coef(0) = c.pred.toLong * q(0)
            // AC
            var k = 1
            var done = false
            while (!done && k < 64) {
              val rs = c.acTab.decode(br)
              if (rs < 0) return None
              val run = (rs >> 4) & 0xF
              val size = rs & 0xF
              if (size == 0) {
                if (run == 15) k += 16 else done = true
              } else {
                k += run
                if (k > 63) return None
                val v = br.bits(size)
                if (v < 0) return None
                val x = if (v < (1 << (size - 1))) v - (1 << size) + 1 else v
                coef(Zigzag(k)) = x.toLong * q(k)
                k += 1
              }
            }
            idctBlock(coef, pix)
            // place the 8×8 into the component plane
            val px0 = (mx * c.h + bh) * 8
            val py0 = (my * c.v + bv) * 8
            var r = 0
            while (r < 8) {
              System.arraycopy(pix, r * 8, c.plane, (py0 + r) * c.planeW + px0, 8)
              r += 1
            }
            bh += 1
          }
          bv += 1
        }
        ci += 1
      }
      mcu += 1
    }
    assemblePixels(comps, maxH, maxV, width, height)
  }

  /** Shared tail of baseline and progressive decode: crop/upsample the
    * filled component planes and color-convert. */
  private def assemblePixels(comps: Array[Component], maxH: Int, maxV: Int,
      width: Int, height: Int): Option[DecodedImage] = {
    if (comps.length == 1) {
      val c = comps(0)
      val out = new Array[Int](width * height)
      var y = 0
      while (y < height) {
        System.arraycopy(c.plane, y * c.planeW, out, y * width, width)
        y += 1
      }
      Some(DecodedImage(width, height, 1, out))
    } else {
      val planes = comps.map(c => upsample(c, maxH, maxV, width, height))
      val out = new Array[Int](width * height * 3)
      var i = 0
      val n = width * height
      while (i < n) {
        val yv = planes(0)(i); val cb = planes(1)(i); val cr = planes(2)(i)
        out(3 * i) = clampByte(yv + crRTab(cr))
        out(3 * i + 1) = clampByte(yv + ((cbGTab(cb) + crGTab(cr)) >> 16))
        out(3 * i + 2) = clampByte(yv + cbBTab(cb))
        i += 1
      }
      Some(DecodedImage(width, height, 3, out))
    }
  }

  // ------------------------------------------------- progressive decoding
  /** Allocate per-component coefficient stores and block geometry for a
    * progressive stream (padded = MCU-multiple grid for interleaved DC
    * scans; non-padded grid for single-component scans). */
  private def allocProgressive(comps: Array[Component], width: Int,
      height: Int): Boolean = {
    val maxH = comps.map(_.h).max
    val maxV = comps.map(_.v).max
    if (!validSampling(comps, maxH, maxV)) return false
    val mcusX = (width + 8 * maxH - 1) / (8 * maxH)
    val mcusY = (height + 8 * maxV - 1) / (8 * maxV)
    for (c <- comps) {
      c.bwP = mcusX * c.h
      c.bhP = mcusY * c.v
      c.outW = (width * c.h + maxH - 1) / maxH
      c.outH = (height * c.v + maxV - 1) / maxV
      c.nbw = (c.outW + 7) / 8
      c.nbh = (c.outH + 7) / 8
      val nBlocks = c.bwP.toLong * c.bhP
      if (nBlocks > (Int.MaxValue / 64)) return false
      c.coefs = new Array[Int](nBlocks.toInt * 64)
      c.pred = 0
    }
    true
  }

  @inline private def extend(v: Int, s: Int): Int =
    if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Decode one progressive scan (spectral selection Ss..Se, successive
    * approximation Ah→Al) into the coefficient stores, following the
    * public IJG phuff decoder semantics (jdphuff.c) — DC first/refine
    * (interleaved or single-component), AC first/refine with EOB runs
    * (single-component only, per spec). Returns the byte offset of the
    * next marker, or -1 on malformed data. */
  private def decodeProgressiveScan(bytes: Array[Byte], scanStart: Int,
      comps: Array[Component], scomps: Array[Component], ss: Int, se: Int,
      ah: Int, al: Int, restartInterval: Int): Int = {
    val isDC = ss == 0
    if (isDC && se != 0) return -1
    if (!isDC && (ss > se || se > 63 || scomps.length != 1)) return -1
    if (al > 13 || ah > 14 || (ah != 0 && ah != al + 1)) return -1
    val br = new BitReader(bytes, scanStart)
    var eobrun = 0
    scomps.foreach(_.pred = 0)

    // per-block decoders ------------------------------------------------
    def dcFirst(c: Component, off: Int): Boolean = {
      if (c.dcTab == null) return false
      val s = c.dcTab.decode(br)
      if (s < 0 || s > 15) return false
      var diff = 0
      if (s > 0) {
        val v = br.bits(s)
        if (v < 0) return false
        diff = extend(v, s)
      }
      c.pred += diff
      c.coefs(off) = c.pred << al
      true
    }
    def dcRefine(c: Component, off: Int): Boolean = {
      val b = br.bit()
      if (b < 0) return false
      if (b == 1) c.coefs(off) |= (1 << al)
      true
    }
    def acFirst(c: Component, off: Int): Boolean = {
      if (eobrun > 0) { eobrun -= 1; return true }
      if (c.acTab == null) return false
      var k = ss
      while (k <= se) {
        val rs = c.acTab.decode(br)
        if (rs < 0) return false
        val r = rs >> 4; val s = rs & 15
        if (s != 0) {
          k += r
          if (k > se) return false
          val v = br.bits(s)
          if (v < 0) return false
          c.coefs(off + Zigzag(k)) = extend(v, s) << al
          k += 1
        } else {
          if (r != 15) {
            eobrun = 1 << r
            if (r > 0) {
              val eb = br.bits(r)
              if (eb < 0) return false
              eobrun += eb
            }
            eobrun -= 1 // this block is the first of the run
            return true
          }
          k += 16 // ZRL
        }
      }
      true
    }
    def acRefine(c: Component, off: Int): Boolean = {
      if (c.acTab == null) return false
      val p1 = 1 << al; val m1 = -1 << al
      var k = ss
      if (eobrun == 0) {
        var brk = false
        while (!brk && k <= se) {
          val rs = c.acTab.decode(br)
          if (rs < 0) return false
          var r = rs >> 4; val s0 = rs & 15
          var s = 0
          if (s0 != 0) {
            if (s0 != 1) return false // refinement sizes are 1 by spec
            val b = br.bit()
            if (b < 0) return false
            s = if (b == 1) p1 else m1
          } else if (r != 15) {
            eobrun = 1 << r
            if (r > 0) {
              val eb = br.bits(r)
              if (eb < 0) return false
              eobrun += eb
            }
            brk = true // current block finishes in the EOB-run path below
          }
          if (!brk) {
            // advance over r zero-history coefs, emitting a correction
            // bit for every already-nonzero coef passed on the way
            var inner = true
            while (inner && k <= se) {
              val pos = off + Zigzag(k)
              if (c.coefs(pos) != 0) {
                val b = br.bit()
                if (b < 0) return false
                if (b == 1 && (c.coefs(pos) & p1) == 0)
                  c.coefs(pos) += (if (c.coefs(pos) >= 0) p1 else m1)
                k += 1
              } else {
                r -= 1
                if (r < 0) inner = false else k += 1
              }
            }
            if (s != 0) {
              if (k > se) return false
              c.coefs(off + Zigzag(k)) = s
            }
            k += 1
          }
        }
      }
      if (eobrun > 0) {
        // refine the remaining already-nonzero coefs of this block
        while (k <= se) {
          val pos = off + Zigzag(k)
          if (c.coefs(pos) != 0) {
            val b = br.bit()
            if (b < 0) return false
            if (b == 1 && (c.coefs(pos) & p1) == 0)
              c.coefs(pos) += (if (c.coefs(pos) >= 0) p1 else m1)
          }
          k += 1
        }
        eobrun -= 1
      }
      true
    }
    def block(c: Component, off: Int): Boolean =
      if (isDC) { if (ah == 0) dcFirst(c, off) else dcRefine(c, off) }
      else { if (ah == 0) acFirst(c, off) else acRefine(c, off) }

    // scan loop ----------------------------------------------------------
    def restart(): Boolean = {
      if (!br.syncRestart()) return false
      scomps.foreach(_.pred = 0)
      eobrun = 0
      true
    }
    if (scomps.length == 1) {
      // non-interleaved: raster over the component's own (non-padded) grid
      val c = scomps(0)
      val nb = c.nbw * c.nbh
      var b = 0
      while (b < nb) {
        if (restartInterval > 0 && b > 0 && b % restartInterval == 0 &&
            !restart()) return -1
        val off = ((b / c.nbw) * c.bwP + (b % c.nbw)) * 64
        if (!block(c, off)) return -1
        b += 1
      }
    } else {
      // interleaved DC scan: MCU order over the padded grid
      val mcusX = scomps(0).bwP / scomps(0).h // = global mcusX
      val mcusY = scomps(0).bhP / scomps(0).v
      val nMcus = mcusX * mcusY
      var mcu = 0
      while (mcu < nMcus) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0 &&
            !restart()) return -1
        val mx = mcu % mcusX; val my = mcu / mcusX
        var ci = 0
        while (ci < scomps.length) {
          val c = scomps(ci)
          var bv = 0
          while (bv < c.v) {
            var bh = 0
            while (bh < c.h) {
              val off = ((my * c.v + bv) * c.bwP + (mx * c.h + bh)) * 64
              if (!block(c, off)) return -1
              bh += 1
            }
            bv += 1
          }
          ci += 1
        }
        mcu += 1
      }
    }
    // resync to the next marker (pad bits, then 0xFF)
    var p = br.pos
    while (p < bytes.length && (bytes(p) & 0xFF) != 0xFF) p += 1
    p
  }

  /** Dequantize + IDCT the accumulated progressive coefficients and run
    * the shared pixel assembly. */
  private def reconstructProgressive(comps: Array[Component], width: Int,
      height: Int, qtabs: Array[Array[Int]], qseen: Array[Boolean])
      : Option[DecodedImage] = {
    if (comps == null || comps.exists(_.coefs == null)) return None
    val maxH = comps.map(_.h).max
    val maxV = comps.map(_.v).max
    val coefL = new Array[Long](64)
    val pix = new Array[Int](64)
    for (c <- comps) {
      if (!qseen(c.tq)) return None
      val q = qtabs(c.tq)
      c.planeW = c.bwP * 8
      c.planeH = c.bhP * 8
      c.plane = new Array[Int](c.planeW * c.planeH)
      var by = 0
      while (by < c.bhP) {
        var bx = 0
        while (bx < c.bwP) {
          val off = (by * c.bwP + bx) * 64
          var k = 0
          while (k < 64) {
            coefL(Zigzag(k)) = c.coefs(off + Zigzag(k)).toLong * q(k)
            k += 1
          }
          idctBlock(coefL, pix)
          val px0 = bx * 8; val py0 = by * 8
          var r = 0
          while (r < 8) {
            System.arraycopy(pix, r * 8, c.plane, (py0 + r) * c.planeW + px0, 8)
            r += 1
          }
          bx += 1
        }
        by += 1
      }
    }
    assemblePixels(comps, maxH, maxV, width, height)
  }

  // ---------------------------------------------------- fancy upsampling
  /** Expand a component plane to full image resolution with the IJG
    * triangular ("fancy") filter — 3:1 nearest/next blends with the exact
    * alternating rounding biases — so chroma values match ImageIO's. */
  private def upsample(c: Component, maxH: Int, maxV: Int,
      width: Int, height: Int): Array[Int] = {
    val he = maxH / c.h
    val ve = maxV / c.v
    if (he == 1 && ve == 1) {
      if (c.planeW == width) {
        if (c.plane.length == width * height) c.plane
        else java.util.Arrays.copyOf(c.plane, width * height)
      } else {
        val out = new Array[Int](width * height)
        var y = 0
        while (y < height) {
          System.arraycopy(c.plane, y * c.planeW, out, y * width, width)
          y += 1
        }
        out
      }
    } else if (he == 2 && ve == 1) {
      val out = new Array[Int](width * height)
      val iw = c.outW
      var y = 0
      while (y < height) {
        h2Row(c.plane, y * c.planeW, iw, out, y * width, width)
        y += 1
      }
      out
    } else { // he == 2 && ve == 2
      val out = new Array[Int](width * height)
      val iw = c.outW
      val ih = c.outH
      val blended = new Array[Int](iw) // 3·near + far per column
      var oy = 0
      while (oy < height) {
        val iy = oy / 2
        val other = if (oy % 2 == 0) math.max(0, iy - 1) else math.min(ih - 1, iy + 1)
        val r0 = iy * c.planeW
        val r1 = other * c.planeW
        var x = 0
        while (x < iw) { blended(x) = c.plane(r0 + x) * 3 + c.plane(r1 + x); x += 1 }
        h2v2Row(blended, iw, out, oy * width, width)
        oy += 1
      }
      out
    }
  }

  /** IJG h2v1 fancy row: out pairs (3a+b+1)>>2 / (3a+b+2)>>2. */
  private def h2Row(in: Array[Int], inOff: Int, iw: Int,
      out: Array[Int], outOff: Int, ow: Int): Unit = {
    val tmp = new Array[Int](iw * 2)
    if (iw == 1) { tmp(0) = in(inOff); tmp(1) = in(inOff) }
    else {
      tmp(0) = in(inOff)
      tmp(1) = (in(inOff) * 3 + in(inOff + 1) + 2) >> 2
      var x = 1
      while (x < iw - 1) {
        val v3 = in(inOff + x) * 3
        tmp(2 * x) = (v3 + in(inOff + x - 1) + 1) >> 2
        tmp(2 * x + 1) = (v3 + in(inOff + x + 1) + 2) >> 2
        x += 1
      }
      val v3 = in(inOff + iw - 1) * 3
      tmp(2 * (iw - 1)) = (v3 + in(inOff + iw - 2) + 1) >> 2
      tmp(2 * (iw - 1) + 1) = in(inOff + iw - 1)
    }
    System.arraycopy(tmp, 0, out, outOff, ow)
  }

  /** IJG h2v2 fancy row over pre-blended (3·near+far) column sums:
    * out pairs (3t+last+8)>>4 / (3t+next+7)>>4, edges (4t+8)/(4t+7). */
  private def h2v2Row(sums: Array[Int], iw: Int,
      out: Array[Int], outOff: Int, ow: Int): Unit = {
    val tmp = new Array[Int](iw * 2)
    if (iw == 1) {
      tmp(0) = (sums(0) * 4 + 8) >> 4
      tmp(1) = (sums(0) * 4 + 7) >> 4
    } else {
      tmp(0) = (sums(0) * 4 + 8) >> 4
      tmp(1) = (sums(0) * 3 + sums(1) + 7) >> 4
      var x = 1
      while (x < iw - 1) {
        val t3 = sums(x) * 3
        tmp(2 * x) = (t3 + sums(x - 1) + 8) >> 4
        tmp(2 * x + 1) = (t3 + sums(x + 1) + 7) >> 4
        x += 1
      }
      val t3 = sums(iw - 1) * 3
      tmp(2 * (iw - 1)) = (t3 + sums(iw - 2) + 8) >> 4
      tmp(2 * (iw - 1) + 1) = (sums(iw - 1) * 4 + 7) >> 4
    }
    System.arraycopy(tmp, 0, out, outOff, ow)
  }

  // ------------------------------------------- fixed-point color convert
  /** IJG ycc_rgb tables: SCALEBITS=16 fixed point, CENTERJSAMPLE=128. */
  private def fix(x: Double): Long = (x * 65536.0 + 0.5).toLong
  private val crRTab: Array[Int] = Array.tabulate(256) { i =>
    ((fix(1.40200) * (i - 128) + 32768L) >> 16).toInt
  }
  private val cbBTab: Array[Int] = Array.tabulate(256) { i =>
    ((fix(1.77200) * (i - 128) + 32768L) >> 16).toInt
  }
  private val crGTab: Array[Int] = Array.tabulate(256) { i =>
    (-fix(0.71414) * (i - 128)).toInt
  }
  private val cbGTab: Array[Int] = Array.tabulate(256) { i =>
    (-fix(0.34414) * (i - 128) + 32768L).toInt
  }

  // ================================================== fixture encoder side

  /** The entropy-coded-segment writer of both fixture encoders: bits
    * MSB-first, a 0xFF byte stuffed as FF 00, 1-bits padding at a flush,
    * and RSTn markers (byte-aligned, unstuffed). */
  private final class BitSink(out: ByteSink) {
    private var acc = 0
    private var nb = 0
    def put(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); nb += 1
        if (nb == 8) {
          out.u8(acc)
          if (acc == 0xFF) out.u8(0x00)
          acc = 0; nb = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (nb > 0) put((1 << (8 - nb)) - 1, 8 - nb)
    def restart(k: Int): Unit = { flush(); out.marker(0xD0 + k % 8) }
  }

  /** The magnitude category of a DC difference or AC coefficient: its
    * bit length (F.1.2.1), 0 for 0. */
  private def category(v: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.abs(v))
  /** The `s` magnitude bits that follow category `s`: a negative value is
    * sent as v + 2^s − 1. */
  private def magnitude(v: Int, s: Int): Int =
    if (v < 0) v + (1 << s) - 1 else v

  /** A minimal equal-length canonical Huffman code over ascending `syms`:
    * symbol i's code is i, every code `len` bits, the all-ones code
    * unused. */
  private final class EqualLengthCode(syms: Seq[Int]) {
    private val len = Iterator.from(1).find(l => (1 << l) >= syms.size + 1).get
    private val codeOf = new Array[Int](256)
    syms.zipWithIndex.foreach { case (sym, i) => codeOf(sym) = i }
    /** The DHT segment of this code as table 0 of class `tc`. */
    def dht(s: ByteSink, tc: Int): ByteSink = {
      val counts = Seq.tabulate(16)(i => if (i == len - 1) syms.size else 0)
      s.segment(0xC4, (Seq(tc << 4) ++ counts ++ syms): _*)
    }
    def put(bits: BitSink, sym: Int): Unit = bits.put(codeOf(sym), len)
  }

  /** SOI and a JFIF 1.`minor` APP0 (1:1 aspect, no thumbnail). */
  private[pipeline] def jfif(s: ByteSink, minor: Int = 1): ByteSink =
    s.marker(0xD8).segment(0xE0, 'J', 'F', 'I', 'F', 0, 1, minor, 0, 0, 1,
      0, 1, 0, 0)
  /** A frame header SOFn at 8-bit precision; component i (id i + 1) is
    * `comps(i)` = (h, v sampling, quant table). */
  private[pipeline] def sof(s: ByteSink, marker: Int, w: Int, h: Int,
      comps: Seq[(Int, Int, Int)]): ByteSink =
    s.segment(marker, Seq(8, h >> 8, h, w >> 8, w, comps.length) ++
      comps.zipWithIndex.flatMap { case ((ch, cv, tq), i) =>
        Seq(i + 1, ch << 4 | cv, tq) }: _*)
  /** Quant table `tq`, given in natural order, written in zigzag order. */
  private def dqt(s: ByteSink, tq: Int, qNat: Array[Int]): ByteSink =
    s.segment(0xDB, tq +: Seq.tabulate(64)(k => qNat(Zigzag(k))): _*)
  /** A scan header over component indices `comps` (each on tables 0/0). */
  private def sos(s: ByteSink, comps: Seq[Int], ss: Int, se: Int,
      ahAl: Int): ByteSink =
    s.segment(0xDA, (comps.length +: comps.flatMap(ci => Seq(ci + 1, 0))) ++
      Seq(ss, se, ahAl): _*)

  private val Flat8: Array[Int] = Array.fill(64)(8)

  /** One component of a flat-block fixture: sampling factors (h, v) and the
    * constant of each of its 8×8 blocks by (block column, block row). */
  private[pipeline] final case class FlatComponent(h: Int, v: Int,
      block: (Int, Int) => Int)

  /** Minimal baseline encoder for FLAT 8×8 blocks: every block is one
    * constant value, so the stream carries only huffman-coded DC diffs +
    * EOBs, and — because quant[DC] = 8 exactly divides the flat block's
    * DCT (F00 = 8·(v−128)) and a DC-only IDCT is exact in islow
    * arithmetic — EVERY spec-conforming decoder reproduces the constants
    * bit-for-bit. That makes the decoded sums a pure function of the
    * generating id: the oracle restates them in SQL while the engine must
    * genuinely huffman-decode, dequantize, and IDCT the bytes (the
    * [[Multimodal.synthesizePngPayload]] discipline, lossy-format
    * edition). Components interleave in real MCU order with per-component
    * DC predictors (reset at each RSTn when `restartInterval` > 0). Custom
    * (legal) huffman tables: DC categories 0-8 at 4 bits, a 1-bit EOB-only
    * AC table. */
  private[pipeline] def buildFlatJpeg(w: Int, h: Int,
      comps: Seq[FlatComponent], restartInterval: Int = 0): Array[Byte] = {
    require(comps.forall(c => c.h >= 1 && c.h <= 2 && c.v >= 1 && c.v <= 2 &&
      !(c.h == 1 && c.v == 2)), "sampling must be 1x1, 2x1, or 2x2")
    val maxH = comps.map(_.h).max; val maxV = comps.map(_.v).max
    require(w % (8 * maxH) == 0 && h % (8 * maxV) == 0 && w > 0 && h > 0,
      "dims must be whole-MCU multiples")
    require(restartInterval >= 0)
    val dc = new EqualLengthCode(0 to 8)
    val eob = new EqualLengthCode(Seq(0x00))
    sink { s =>
      jfif(s)
      dqt(s, 0, Flat8)
      sof(s, 0xC0, w, h, comps.map(c => (c.h, c.v, 0)))
      dc.dht(s, 0); eob.dht(s, 1)
      if (restartInterval > 0)
        s.segment(0xDD, restartInterval >> 8, restartInterval)
      sos(s, comps.indices, 0, 63, 0)
      val bits = new BitSink(s)
      val pred = new Array[Int](comps.length)
      val mcusX = w / (8 * maxH)
      for (mcu <- 0 until mcusX * (h / (8 * maxV))) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bits.restart(mcu / restartInterval - 1)
          java.util.Arrays.fill(pred, 0)
        }
        val (mx, my) = (mcu % mcusX, mcu / mcusX)
        for ((c, ci) <- comps.zipWithIndex; v <- 0 until c.v; hh <- 0 until c.h) {
          val level = (c.block(mx * c.h + hh, my * c.v + v) & 0xFF) - 128
          val diff = level - pred(ci)
          pred(ci) = level
          val cat = category(diff)
          dc.put(bits, cat)
          bits.put(magnitude(diff, cat), cat)
          eob.put(bits, 0x00)
        }
      }
      bits.flush()
      s.marker(0xD9)
    }
  }

  /** A grayscale [[buildFlatJpeg]]: one 1×1 component. */
  def buildJpegWithBlocks(w: Int, h: Int, blockValue: (Int, Int) => Int,
      restartInterval: Int = 0): Array[Byte] =
    buildFlatJpeg(w, h, Seq(FlatComponent(1, 1, blockValue)), restartInterval)

  /** Flat-block COLOR fixture: YCbCr with Y sampling (sh, sv) — 4:4:4 /
    * 4:2:2 / 4:2:0 — per-Y-block constants and flat chroma. Flat planes
    * upsample to the same constants under ANY correct filter, so the
    * ImageIO differential pins the multi-component scan interleave, the
    * chroma reconstruction paths (including h2v1, which the JDK writer
    * never emits), and the color convert — without needing an AC
    * encoder. */
  def buildJpegFlatYcc(w: Int, h: Int, sh: Int, sv: Int,
      yBlock: (Int, Int) => Int, cb: Int, cr: Int): Array[Byte] =
    buildFlatJpeg(w, h, Seq(FlatComponent(sh, sv, yBlock),
      FlatComponent(1, 1, (_, _) => cb), FlatComponent(1, 1, (_, _) => cr)))

  /** Deterministic JPEG fixture column: dims and every 8×8 block constant
    * derive from the id, so the oracle restates the decoded sums while
    * the engine genuinely decodes:
    *  - width = 8·(1 + id % 4), height = 8·(1 + (id·3) % 4)
    *  - block(bx, by) = (id % 251 + 17·by + 23·bx) % 256 */
  def synthesizeJpegPayload(df: DataFrame, idCol: String,
      payloadCol: String = "payload"): DataFrame =
    withIdPayload(df, idCol, payloadCol)(jpegPayloadFor)

  /** Deterministic PROGRESSIVE fixture column — the
    * [[synthesizeJpegPayload]] discipline through the SOF2 multi-scan
    * path: flat blocks + flat-8 quant decode to their exact constants in
    * any conforming decoder, so the oracle restates the sums while the
    * engine runs the full spectral-selection / successive-approximation
    * scan sequence:
    *  - width = 8·(1 + id % 4), height = 8·(1 + (id·3) % 4)
    *  - block(bx, by) = (id % 241 + 19·by + 31·bx) % 256 */
  def synthesizeProgressiveJpegPayload(df: DataFrame, idCol: String,
      payloadCol: String = "payload"): DataFrame =
    withIdPayload(df, idCol, payloadCol)(progJpegPayloadFor)

  /** The single-payload form of [[synthesizeProgressiveJpegPayload]]. */
  private[pipeline] def progJpegPayloadFor(id: Long): Array[Byte] = {
    val w = (8 * (1 + id % 4)).toInt
    val h = (8 * (1 + (id * 3) % 4)).toInt
    val base = (id % 241).toInt
    val px = Array.tabulate(w * h)(i =>
      (base + 19 * (i / w / 8) + 31 * (i % w / 8)) % 256)
    buildProgressiveJpeg(w, h, 1, px, flatQuant = true)
  }

  /** The single-payload form of [[synthesizeJpegPayload]]'s arithmetic. */
  private[pipeline] def jpegPayloadFor(id: Long): Array[Byte] = {
    val w = (8 * (1 + id % 4)).toInt
    val h = (8 * (1 + (id * 3) % 4)).toInt
    val base = (id % 251).toInt
    buildJpegWithBlocks(w, h, (bx, by) => (base + 17 * by + 23 * bx) % 256)
  }

  /** Per-image pixel statistics through the REAL JPEG decode path — the
    * [[Multimodal.pngPixelStats]] twin: per-partition map, no shuffle,
    * undecodable payloads dropped. */
  def jpegPixelStats(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    Multimodal.pixelStats(df, idCol, payloadCol)(decodeJpeg)

  // ============================================ progressive fixture encoder

  /** One scan of a progressive scan script: component indices (all
    * listed components for an interleaved DC scan; exactly one for AC),
    * spectral band Ss..Se, successive approximation Ah→Al. */
  final case class ProgScan(comps: Seq[Int], ss: Int, se: Int, ah: Int,
      al: Int)

  /** The classic 10-scan (color) / 6-scan (gray) progression — the
    * public libjpeg `jpeg_simple_progression` script shape: DC first at
    * Al=1, banded AC firsts, AC refinements, DC refinement, final AC
    * refinements to Al=0. Every coefficient ends FULLY refined (Al=0),
    * which is what makes a zero-tolerance reader differential valid —
    * a reader's progressive block-smoothing only engages on
    * partially-refined coefficients. */
  def defaultScanScript(nComps: Int): Seq[ProgScan] =
    if (nComps == 1) Seq(
      ProgScan(Seq(0), 0, 0, 0, 1),
      ProgScan(Seq(0), 1, 5, 0, 2),
      ProgScan(Seq(0), 6, 63, 0, 2),
      ProgScan(Seq(0), 1, 63, 2, 1),
      ProgScan(Seq(0), 0, 0, 1, 0),
      ProgScan(Seq(0), 1, 63, 1, 0))
    else Seq(
      ProgScan(Seq(0, 1, 2), 0, 0, 0, 1),
      ProgScan(Seq(0), 1, 5, 0, 2),
      ProgScan(Seq(2), 1, 63, 0, 1),
      ProgScan(Seq(1), 1, 63, 0, 1),
      ProgScan(Seq(0), 6, 63, 0, 2),
      ProgScan(Seq(0), 1, 63, 2, 1),
      ProgScan(Seq(0, 1, 2), 0, 0, 1, 0),
      ProgScan(Seq(2), 1, 63, 1, 0),
      ProgScan(Seq(1), 1, 63, 1, 0),
      ProgScan(Seq(0), 1, 63, 1, 0))

  /** JPEG Annex K example quantization tables (natural order). */
  private val AnnexKLuma: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)
  private val AnnexKChroma: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  private val FdctCos: Array[Double] = {
    val t = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var x = 0
      while (x < 8) {
        t(u * 8 + x) = math.cos((2 * x + 1) * u * math.Pi / 16.0)
        x += 1
      }
      u += 1
    }
    t
  }

  /** Reference double-precision FDCT + quantization of one 8×8 block
    * (natural-order samples 0..255 in, natural-order quantized ints out).
    * Encoder-side only: the decoder differential does not depend on FDCT
    * choice — whatever is encoded must decode identically everywhere. */
  private def fdctQuant(block: Array[Int], qNat: Array[Int]): Array[Int] = {
    val out = new Array[Int](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            s += (block(y * 8 + x) - 128) * FdctCos(u * 8 + x) * FdctCos(v * 8 + y)
            x += 1
          }
          y += 1
        }
        val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
        val cv = if (v == 0) 1.0 / math.sqrt(2.0) else 1.0
        out(v * 8 + u) = math.round(0.25 * cu * cv * s / qNat(v * 8 + u)).toInt
        u += 1
      }
      v += 1
    }
    out
  }

  private sealed trait Tok
  private final case class Sym(s: Int) extends Tok
  private final case class RawBits(v: Int, n: Int) extends Tok

  /** Progressive JFIF encoder for fixtures — gray (1 channel) or RGB
    * (3 channels, encoded as YCbCr 4:2:0): real FDCT + quantization, then
    * the scan script's spectral-selection / successive-approximation
    * entropy coding per the public spec (G.1.2) with per-block EOB flushes
    * and the jcphuff correction-bit buffering discipline. Per-scan huffman
    * tables are minimal equal-length canonical codes over the symbols the
    * scan actually uses. The JDK writer cannot emit progressive streams,
    * so this is what makes an independent reader differential possible.
    * `flatQuant` = all-8s tables (every coefficient exact — the oracle
    * fixtures); default = Annex K tables (realistic lossy content). */
  def buildProgressiveJpeg(w: Int, h: Int, channels: Int,
      samples: Array[Int], scans: Seq[ProgScan] = null,
      flatQuant: Boolean = false): Array[Byte] = {
    require(channels == 1 || channels == 3, "gray or RGB")
    require(w > 0 && h > 0 && samples.length == w * h * channels)
    val script = if (scans == null) defaultScanScript(channels) else scans
    // ---- component planes
    val (qNats, hs, vs, tqs, planes0) =
      if (channels == 1)
        (Array(if (flatQuant) Flat8 else AnnexKLuma), Array(1), Array(1),
          Array(0), Array((samples, w, h)))
      else {
        val n = w * h
        val yP = new Array[Int](n)
        val cbF = new Array[Int](n)
        val crF = new Array[Int](n)
        var i = 0
        while (i < n) {
          val r = samples(3 * i); val g = samples(3 * i + 1)
          val b = samples(3 * i + 2)
          yP(i) = clampByte(math.round(0.299 * r + 0.587 * g + 0.114 * b))
          cbF(i) = clampByte(math.round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128))
          crF(i) = clampByte(math.round(0.5 * r - 0.418688 * g - 0.331264 * b + 128))
          i += 1
        }
        val cw = (w + 1) / 2; val ch = (h + 1) / 2
        def down(p: Array[Int]): Array[Int] = Array.tabulate(cw * ch) { j =>
          val x = (j % cw) * 2; val y = (j / cw) * 2
          val x1 = math.min(x + 1, w - 1); val y1 = math.min(y + 1, h - 1)
          (p(y * w + x) + p(y * w + x1) + p(y1 * w + x) + p(y1 * w + x1) + 2) / 4
        }
        (Array(if (flatQuant) Flat8 else AnnexKLuma,
            if (flatQuant) Flat8 else AnnexKChroma,
            if (flatQuant) Flat8 else AnnexKChroma),
          Array(2, 1, 1), Array(2, 1, 1), Array(0, 1, 1),
          Array((yP, w, h), (down(cbF), cw, ch), (down(crF), cw, ch)))
      }
    val nc = hs.length
    val maxH = hs.max; val maxV = vs.max
    val mcusX = (w + 8 * maxH - 1) / (8 * maxH)
    val mcusY = (h + 8 * maxV - 1) / (8 * maxV)
    val bwP = Array.tabulate(nc)(i => mcusX * hs(i))
    val bhP = Array.tabulate(nc)(i => mcusY * vs(i))
    val nbw = Array.tabulate(nc)(i => (planes0(i)._2 + 7) / 8)
    val nbh = Array.tabulate(nc)(i => (planes0(i)._3 + 7) / 8)
    // ---- FDCT all padded blocks (edge-replicated samples)
    val coefs = Array.tabulate(nc) { ci =>
      val (p, pw, ph) = planes0(ci)
      val cb = new Array[Int](bwP(ci) * bhP(ci) * 64)
      val block = new Array[Int](64)
      var by = 0
      while (by < bhP(ci)) {
        var bx = 0
        while (bx < bwP(ci)) {
          var y = 0
          while (y < 8) {
            val sy = math.min(by * 8 + y, ph - 1)
            var x = 0
            while (x < 8) {
              val sx = math.min(bx * 8 + x, pw - 1)
              block(y * 8 + x) = p(sy * pw + sx)
              x += 1
            }
            y += 1
          }
          System.arraycopy(fdctQuant(block, qNats(tqs(ci))), 0, cb,
            (by * bwP(ci) + bx) * 64, 64)
          bx += 1
        }
        by += 1
      }
      cb
    }
    // ---- token stream per scan (exact mirror of the decoder's order)
    def scanTokens(sc: ProgScan): Seq[Tok] = {
      val toks = scala.collection.mutable.ArrayBuffer.empty[Tok]
      val isDC = sc.ss == 0
      def blockOffsets: Iterator[(Int, Int)] =
        if (sc.comps.length == 1) {
          val ci = sc.comps.head
          Iterator.tabulate(nbw(ci) * nbh(ci)) { b =>
            (ci, ((b / nbw(ci)) * bwP(ci) + (b % nbw(ci))) * 64)
          }
        } else Iterator.range(0, mcusX * mcusY).flatMap { mcu =>
          val mx = mcu % mcusX; val my = mcu / mcusX
          sc.comps.iterator.flatMap { ci =>
            for (bv <- 0 until vs(ci); bh <- 0 until hs(ci))
              yield (ci, ((my * vs(ci) + bv) * bwP(ci) + (mx * hs(ci) + bh)) * 64)
          }
        }
      if (isDC && sc.ah == 0) {
        val preds = new Array[Int](nc)
        blockOffsets.foreach { case (ci, off) =>
          val d = coefs(ci)(off) >> sc.al // arithmetic point transform (DC)
          val diff = d - preds(ci)
          preds(ci) = d
          val s = category(diff)
          toks += Sym(s)
          if (s > 0) toks += RawBits(magnitude(diff, s), s)
        }
      } else if (isDC) {
        blockOffsets.foreach { case (ci, off) =>
          toks += RawBits((coefs(ci)(off) >> sc.al) & 1, 1)
        }
      } else if (sc.ah == 0) { // AC first (magnitude shift truncates to 0)
        blockOffsets.foreach { case (ci, off) =>
          var run = 0
          var k = sc.ss
          while (k <= sc.se) {
            val cv = coefs(ci)(off + Zigzag(k))
            val v = if (cv < 0) -((-cv) >> sc.al) else cv >> sc.al
            if (v == 0) run += 1
            else {
              while (run > 15) { toks += Sym(0xF0); run -= 16 }
              val s = category(v)
              toks += Sym((run << 4) | s)
              toks += RawBits(magnitude(v, s), s)
              run = 0
            }
            k += 1
          }
          if (run > 0) toks += Sym(0x00) // per-block EOB flush (EOBRUN=1)
        }
      } else { // AC refine — jcphuff correction-bit buffering, per block
        blockOffsets.foreach { case (ci, off) =>
          val abs = new Array[Int](64)
          var eob = sc.ss - 1
          var k = sc.ss
          while (k <= sc.se) {
            val cv = coefs(ci)(off + Zigzag(k))
            abs(k) = math.abs(cv) >> sc.al
            if (abs(k) == 1) eob = k
            k += 1
          }
          var r = 0
          val brBits = scala.collection.mutable.ArrayBuffer.empty[Int]
          k = sc.ss
          while (k <= sc.se) {
            val temp = abs(k)
            if (temp == 0) r += 1
            else {
              while (r > 15 && k <= eob) {
                toks += Sym(0xF0)
                r -= 16
                brBits.foreach(b => toks += RawBits(b, 1))
                brBits.clear()
              }
              if (temp > 1) brBits += (temp & 1)
              else {
                toks += Sym((r << 4) | 1)
                r = 0
                toks += RawBits(if (coefs(ci)(off + Zigzag(k)) < 0) 0 else 1, 1)
                brBits.foreach(b => toks += RawBits(b, 1))
                brBits.clear()
              }
            }
            k += 1
          }
          if (r > 0 || brBits.nonEmpty) {
            toks += Sym(0x00) // EOB run of 1, flushed per block
            brBits.foreach(b => toks += RawBits(b, 1))
            brBits.clear()
          }
        }
      }
      toks.toSeq
    }
    // ---- serialize
    sink { s =>
      jfif(s)
      (0 to tqs.max).foreach(tq => dqt(s, tq, qNats(tq)))
      sof(s, 0xC2, w, h, (0 until nc).map(i => (hs(i), vs(i), tqs(i))))
      for (sc <- script) {
        val toks = scanTokens(sc)
        val syms = toks.collect { case Sym(x) => x }.distinct.sorted
        val code = new EqualLengthCode(syms)
        if (syms.nonEmpty) code.dht(s, if (sc.ss == 0) 0 else 1)
        sos(s, sc.comps, sc.ss, sc.se, (sc.ah << 4) | sc.al)
        val bits = new BitSink(s)
        toks.foreach {
          case Sym(x) => code.put(bits, x)
          case RawBits(v, n) => bits.put(v, n)
        }
        bits.flush()
      }
      s.marker(0xD9)
    }
  }
}

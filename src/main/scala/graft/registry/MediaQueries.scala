package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{Dedup, Hashing, Multimodal}

import Inputs._
import SqlFragments._

/** Media: container metadata, image / audio / video decode, perceptual
  * hashes, audio features, scene cuts and keyframes, media dedup and
  * near-dup, with their stream twins. */
private[graft] object MediaQueries extends QueryFamily {

  /** Metadata comes from REAL header parsing over spec-valid synthesized
    * payloads (doc_id-derived arithmetic the oracle replays without bytes);
    * the feature payload stays normalized ASCII text so the JVM byte-level
    * stub hash equals the oracle's codepoint-level hash. */
  // media_type/width now state what the REAL header parser must read back
  // from the doc_id-derived synthesized payloads (Multimodal
  // .synthesizeMediaPayload arithmetic); f0 still replays the ASCII
  // feature-stub hash codepoint for codepoint.
  spec("q_multimodal", {
      val ph = Hashing.polyHashSql("p")
      s"""WITH d AS (SELECT doc_id, $norm AS p FROM documents),
         |h AS (SELECT doc_id, $ph AS ph FROM d)
         |SELECT doc_id,
         |  CASE WHEN doc_id % 4 IN (0, 1) THEN 'image'
         |       WHEN doc_id % 4 = 2 THEN 'audio' ELSE 'video' END AS media_type,
         |  CAST(CASE WHEN doc_id % 4 IN (0, 1) THEN 32 + doc_id % 1000 END
         |    AS INT) AS width,
         |  (${Hashing.mixSql("ph", 16)} % 1000) / 1000.0 AS f0
         |FROM h""".stripMargin
    }) { (s, dir) =>
    val textPayload = docs(s, dir)
      .select(col("doc_id"), Dedup.normalizeText(col("text")).cast(BinaryType).alias("payload"))
    val feats = Multimodal.extractFeatures(textPayload, "doc_id", "payload", featureDim = 8)
    val media = Multimodal.withMediaMeta(
      Multimodal.synthesizeMediaPayload(docs(s, dir).select(col("doc_id")), "doc_id"),
      "payload")
    media.join(feats, "doc_id")
      .select(col("doc_id"), col("media_meta.media_type").alias("media_type"),
        col("media_meta.width").alias("width"),
        element_at(col("features"), 1).alias("f0"))
  }

  /** Frame-sampling plan over the REAL parsed MP4 durations: one row per
    * (video doc, frame timestamp) on a 5-second lattice — the explode
    * shape a frame extractor fans out over. The oracle replays the
    * duration arithmetic and the inclusive series without touching bytes. */
  // frame-sampling plan over the parsed MP4 durations: inclusive
  // 5-second lattice per video doc, duration restated from the
  // synthesizeMediaPayload arithmetic
  spec("q_frame_plan", """WITH v AS (SELECT doc_id,
        |  ((5000 + doc_id % 100000) * 1000)
        |    // (600 + (doc_id % 10) * 100) AS dur
        |  FROM documents WHERE doc_id % 4 = 3)
        |SELECT v.doc_id, CAST(t.f AS BIGINT) AS frame_ts_ms
        |FROM v, unnest(generate_series(0, v.dur, 5000)) AS t(f)"""
        .stripMargin) { (s, dir) =>
    Multimodal.sampleFramePlan(
      Multimodal.withMediaMeta(
        Multimodal.synthesizeMediaPayload(docs(s, dir).select(col("doc_id")), "doc_id"),
        "payload"),
      "doc_id", "media_meta", everyMs = 5000L)
  }

  /** Full differential on the real header parser: every [[Multimodal.MediaMeta]]
    * field parsed back from spec-valid PNG/JPEG/WAV/MP4 bytes, compared to
    * the oracle stating the same fields from doc_id arithmetic alone. */
  // Real-header-parser differential: the Spark side builds spec-valid
  // PNG/JPEG/WAV/MP4 bytes from doc_id arithmetic and parses them back;
  // the oracle states the same fields from the arithmetic alone — any
  // byte-offset mistake in builder or parser breaks the hash match.
  spec("q_media_meta_real", """SELECT doc_id,
        |  CASE WHEN doc_id % 4 IN (0, 1) THEN 'image'
        |       WHEN doc_id % 4 = 2 THEN 'audio' ELSE 'video' END AS media_type,
        |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |       WHEN 2 THEN 'wav' ELSE 'mp4' END AS format,
        |  CAST(CASE WHEN doc_id % 4 IN (0, 1) THEN 32 + doc_id % 1000 END
        |    AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 4 IN (0, 1) THEN 32 + (doc_id * 7) % 1000 END
        |    AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 4 = 2
        |         THEN (2 * (100 + doc_id % 2000) * 1000)
        |              // (2 * (8000 + (doc_id % 8) * 1000))
        |       WHEN doc_id % 4 = 3
        |         THEN ((5000 + doc_id % 100000) * 1000)
        |              // (600 + (doc_id % 10) * 100)
        |       END AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin) { (s, dir) =>
    Multimodal.withMediaMeta(
      Multimodal.synthesizeMediaPayload(docs(s, dir).select(col("doc_id")), "doc_id"),
      "payload")
      .select(col("doc_id"),
        col("media_meta.media_type").alias("media_type"),
        col("media_meta.format").alias("format"),
        col("media_meta.width").alias("width"),
        col("media_meta.height").alias("height"),
        col("media_meta.duration_ms").alias("duration_ms"))
  }

  /** REAL PNG pixel decode end to end ([[graft.pipeline.Multimodal
    * .decodePng]]): payloads synthesized with genuine zlib streams and all
    * five scanline filters, inflated + unfiltered by the engine, per-image
    * exact sample sums; the oracle restates the sums from the generating
    * doc_id arithmetic without touching a byte. */
  private def qDecodePng(s: SparkSession, dir: String): DataFrame =
    Multimodal.pngPixelStats(
      Multimodal.synthesizePngPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")

  // PNG decode replay: the engine inflates + unfilters real zlib
  // scanlines; the oracle restates the decoded sample sums from the
  // generating arithmetic (sample(r,c,ch) = (id%251 + 5r + 3c + 11ch)
  // % 256) via lateral range expansion — no byte ever touched here, so
  // a decoder bug cannot self-validate.
  spec("q_decode_png", """WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w,
        |  8 + (doc_id * 3) % 24 AS h,
        |  CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END AS nch
        |  FROM documents),
        |px AS (SELECT doc_id, w, h, nch,
        |  (doc_id % 251 + 5 * r.r + 3 * c.c + 11 * ch.ch) % 256 AS p
        |  FROM d, range(31) r(r), range(31) c(c), range(3) ch(ch)
        |  WHERE r.r < h AND c.c < w AND ch.ch < nch)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(nch AS INT) AS channels, count(*) AS n_samples,
        |  CAST(sum(p) AS BIGINT) AS sample_sum,
        |  CAST(sum(p) AS DOUBLE) / count(*) AS mean_sample
        |FROM px GROUP BY doc_id, w, h, nch""".stripMargin)(qDecodePng)

  /** REAL BMP decode end to end: spec-faithful 24-bit BI_RGB walk
    * (bottom-up rows, 4-byte stride padding, BGR flip) over the
    * deterministic gradient fixture; the oracle restates the decoded
    * sums from the id arithmetic. */
  // BMP decode replay: same gradient family as PNG, always 3 channels;
  // the engine must walk the padded bottom-up BGR rows to land on the
  // identical sums
  spec("q_decode_bmp", """WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w,
        |  8 + (doc_id * 3) % 24 AS h FROM documents),
        |px AS (SELECT doc_id, w, h,
        |  (doc_id % 251 + 5 * r.r + 3 * c.c + 11 * ch.ch) % 256 AS p
        |  FROM d, range(31) r(r), range(31) c(c), range(3) ch(ch)
        |  WHERE r.r < h AND c.c < w)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(3 AS INT) AS channels, count(*) AS n_samples,
        |  CAST(sum(p) AS BIGINT) AS sample_sum,
        |  CAST(sum(p) AS DOUBLE) / count(*) AS mean_sample
        |FROM px GROUP BY doc_id, w, h""".stripMargin) { (s, dir) =>
    Multimodal.bmpPixelStats(
      Multimodal.synthesizeBmpPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }

  /** REAL baseline-JPEG pixel decode end to end ([[graft.pipeline.Jpeg
    * .decodeJpeg]]): flat-block payloads huffman-decoded, dequantized and
    * IDCT'd by the engine — DC-only blocks with quant 8 make the lossy
    * format round-trip its constants exactly, so the oracle restates the
    * decoded sums from the generating doc_id arithmetic while the engine
    * must genuinely parse markers, huffman-decode, and run the IDCT. */
  // Baseline-JPEG decode replay: flat DC-only 8×8 blocks with quant 8
  // decode bit-exactly in any conforming decoder (DC-exact IDCT), so
  // the oracle restates each block's constant from the id while the
  // engine huffman-decodes, dequantizes, and IDCTs the real stream.
  spec("q_decode_jpeg", """WITH d AS (SELECT doc_id, 8 * (1 + doc_id % 4) AS w,
        |  8 * (1 + (doc_id * 3) % 4) AS h FROM documents),
        |b AS (SELECT doc_id, w, h,
        |  (doc_id % 251 + 17 * by.by + 23 * bx.bx) % 256 AS v
        |  FROM d, range(4) by(by), range(4) bx(bx)
        |  WHERE by.by < h // 8 AND bx.bx < w // 8)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(1 AS INT) AS channels, count(*) * 64 AS n_samples,
        |  CAST(sum(v) * 64 AS BIGINT) AS sample_sum,
        |  CAST(sum(v) * 64 AS DOUBLE) / CAST(count(*) * 64 AS DOUBLE)
        |    AS mean_sample
        |FROM b GROUP BY doc_id, w, h""".stripMargin) { (s, dir) =>
    graft.pipeline.Jpeg.jpegPixelStats(
      graft.pipeline.Jpeg.synthesizeJpegPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }

  /** REAL WAV PCM sample decode end to end ([[graft.pipeline.Multimodal
    * .decodeWavSamples]]): RIFF chunk walk + sign-extended LE16 reads on
    * synthesized clips; the oracle restates the sample sums from the
    * generating doc_id arithmetic without touching a byte. */
  // WAV PCM decode replay: sample(i) = ((id%251)*7 + 11*i) % 65536 −
  // 32768 over n = 100 + id % 400 samples; the engine must walk RIFF
  // chunks and sign-extend LE16 bytes to reproduce these sums.
  spec("q_decode_wav", """WITH d AS (SELECT doc_id, 100 + doc_id % 400 AS n,
        |  CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate
        |  FROM documents),
        |sm AS (SELECT doc_id, n, sample_rate,
        |  (doc_id % 251) * 7 + 11 * i.i AS raw
        |  FROM d, range(500) i(i) WHERE i.i < n),
        |px AS (SELECT doc_id, n, sample_rate, raw % 65536 - 32768 AS s
        |  FROM sm)
        |SELECT doc_id, sample_rate, count(*) AS n_samples,
        |  CAST(sum(s) AS BIGINT) AS sample_sum,
        |  CAST(sum(s) AS DOUBLE) / count(*) AS mean_sample
        |FROM px GROUP BY doc_id, sample_rate""".stripMargin) { (s, dir) =>
    Multimodal.wavSampleStats(
      Multimodal.synthesizeWavPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }

  /** Per-frame audio features over the REAL RIFF→PCM decode
    * ([[graft.pipeline.Multimodal.wavFrameFeatures]]): 64-sample frames,
    * exact integer energy/peak/zero-crossings and the correctly-rounded
    * RMS — the framing step a speech pipeline runs before any spectral
    * featurization. */
  // Audio frame-feature replay: the q_decode_wav closed-form samples cut
  // into 64-sample full frames; energy/peak exact integers, zcr by the
  // same strict lag-product convention, rms = sqrt(energy/64) — the
  // identical division+sqrt pair, both IEEE-correctly rounded.
  spec("q_audio_features", """WITH d AS (SELECT doc_id, 100 + doc_id % 400 AS n FROM documents),
        |sm AS (SELECT doc_id, n, i.i AS i,
        |  (doc_id % 251) * 7 + 11 * i.i AS raw
        |  FROM d, range(500) i(i) WHERE i.i < n),
        |px AS (SELECT doc_id, n, i, CAST(raw % 65536 - 32768 AS INT) AS s
        |  FROM sm),
        |fr AS (SELECT doc_id, i // 64 AS frame_idx, i % 64 AS k, s
        |  FROM px WHERE i // 64 < n // 64),
        |z AS (SELECT doc_id, frame_idx, k, s,
        |  lag(s) OVER (PARTITION BY doc_id, frame_idx ORDER BY k) AS prev
        |  FROM fr)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS energy,
        |  CAST(max(abs(s)) AS INT) AS peak,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND prev * s < 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zcr,
        |  sqrt(CAST(sum(CAST(s AS BIGINT) * s) AS DOUBLE) / 64.0) AS rms
        |FROM z GROUP BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
    Multimodal.wavFrameFeatures(
      Multimodal.synthesizeWavPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }

  /** Integer-factor audio decimation over the REAL RIFF→PCM decode
    * ([[graft.pipeline.Multimodal.wavDecimate]]): 16-sample boxcar
    * groups, exact integer sums + one correctly-rounded mean — the
    * sample-rate normalization pass before mixing corpora recorded at
    * different rates. */
  // Walsh-Hadamard sequency bands: the oracle computes each coefficient
  // from the DEFINITION W[k] = Σ_n x[n]·(−1)^popcount(k&n) (the engine
  // runs the butterfly — agreeing answers cross-check the two forms);
  // the sequency→natural map is embedded from the same precomputed
  // table the engine reorders with. All-integer, so bit-exact.
  // Decimation replay: the same synthesized-sample arithmetic, 16-sample
  // boxcar groups (trailing partial dropped), exact sums, one division.
  spec("q_audio_decimate", """WITH d AS (SELECT doc_id, 100 + doc_id % 400 AS n FROM documents),
        |sm AS (SELECT doc_id, n, i.i AS i,
        |  (doc_id % 251) * 7 + 11 * i.i AS raw
        |  FROM d, range(500) i(i) WHERE i.i < n),
        |px AS (SELECT doc_id, n, i, CAST(raw % 65536 - 32768 AS INT) AS s
        |  FROM sm),
        |g AS (SELECT doc_id, i // 16 AS out_idx, s
        |  FROM px WHERE i // 16 < n // 16)
        |SELECT doc_id, CAST(out_idx AS BIGINT) AS out_idx,
        |  CAST(sum(CAST(s AS BIGINT)) AS BIGINT) AS s_sum,
        |  CAST(sum(CAST(s AS BIGINT)) AS DOUBLE) / 16.0 AS mean_sample
        |FROM g GROUP BY doc_id, out_idx""".stripMargin) { (s, dir) =>
    Multimodal.wavDecimate(
      Multimodal.synthesizeWavPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload", factor = 16)
  }

  /** Sequency-band audio spectrum via the 64-point Walsh-Hadamard
    * transform over the REAL RIFF→PCM decode — the integer-exact analog
    * of a per-frame power spectrum (±1 basis: no trig, so the bands
    * replay bit-for-bit in any engine where an FFT differs in final
    * ulps). The oracle restates the butterfly as the direct
    * (−1)^popcount(k&n) definition over the synthesized samples. */
  spec("q_audio_sequency", {
      val m = graft.pipeline.Multimodal.SeqToNat64.mkString("[", ", ", "]")
      s"""WITH d AS (SELECT doc_id, 100 + doc_id % 400 AS n FROM documents),
         |sm AS (SELECT doc_id, n, i.i AS i,
         |  (doc_id % 251) * 7 + 11 * i.i AS raw
         |  FROM d, range(500) i(i) WHERE i.i < n),
         |px AS (SELECT doc_id, n, i,
         |  CAST(raw % 65536 - 32768 AS BIGINT) AS s FROM sm),
         |fr AS (SELECT doc_id, i // 64 AS frame_idx, list(s ORDER BY i) AS xs
         |  FROM px WHERE i // 64 < n // 64 GROUP BY 1, 2),
         |co AS (SELECT doc_id, frame_idx, sq.s AS sq,
         |  list_sum(list_transform(range(64), nn ->
         |    xs[nn + 1] * (1 - 2 * (bit_count($m[sq.s + 1] & nn) % 2)))) AS w
         |  FROM fr, range(64) sq(s))
         |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
         |  CAST(sq // 8 AS INT) AS band,
         |  CAST(sum(w * w) AS BIGINT) AS band_energy
         |FROM co GROUP BY 1, 2, 3""".stripMargin
    }) { (s, dir) =>
    Multimodal.wavSequencyFeatures(
      Multimodal.synthesizeWavPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }

  /** Spectrogram replay shared by q_audio_spectrogram and
    * q_audio_descriptors: synthesized WAV samples, per-64-sample-frame
    * O(n²) DFT, the q_fourier +0.25-bias quantization at a 256-unit
    * quantum, 8 bands × 8 two-sided bins of exact integer energies.
    * Ends at CTE `be(doc_id, frame_idx, band, band_energy_q)`. */
  private lazy val audioSpectroCte: String =
    """WITH d AS (SELECT doc_id, 100 + doc_id % 400 AS n FROM documents),
      |sm AS (SELECT doc_id, n, i.i AS i,
      |  (doc_id % 251) * 7 + 11 * i.i AS raw
      |  FROM d, range(500) i(i) WHERE i.i < n),
      |px AS (SELECT doc_id, n, i,
      |  CAST(raw % 65536 - 32768 AS BIGINT) AS s FROM sm),
      |fr AS (SELECT doc_id, i // 64 AS frame_idx, list(s ORDER BY i) AS xs
      |  FROM px WHERE i // 64 < n // 64 GROUP BY 1, 2),
      |co AS (SELECT doc_id, frame_idx, kk.k AS k,
      |  list_sum(list_transform(range(64), nn ->
      |    xs[nn + 1] * cos(2 * pi() * ((kk.k * nn) % 64) / 64))) AS xr,
      |  list_sum(list_transform(range(64), nn ->
      |    -xs[nn + 1] * sin(2 * pi() * ((kk.k * nn) % 64) / 64))) AS xi
      |  FROM fr, range(64) kk(k)),
      |q AS (SELECT doc_id, frame_idx, k,
      |  CAST(floor(xr / 256 + 0.25) AS BIGINT) AS rc,
      |  CAST(floor(xi / 256 + 0.25) AS BIGINT) AS ic FROM co),
      |be AS (SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |  CAST(k // 8 AS INT) AS band,
      |  CAST(sum(rc * rc + ic * ic) AS BIGINT) AS band_energy_q
      |FROM q GROUP BY 1, 2, 3)""".stripMargin

  /** Per-frame Fourier spectrogram over the REAL RIFF→PCM decode
    * ([[graft.pipeline.Multimodal.wavSpectrogram]]): the engine's own
    * 64-point radix-2 FFT per frame, bins quantized floor(X/256 + 0.25)
    * and grouped into 8 exact-integer band energies; the oracle replays
    * the O(n²) DFT per frame from the synthesized-sample arithmetic. */
  // Fourier spectrogram replay: the O(n²) DFT per 64-sample frame over
  // the synthesized-sample arithmetic (the engine runs its radix-2 FFT
  // — agreeing answers cross-check the two forms); bins quantize as
  // floor(X/256 + 0.25) (see Multimodal.wavSpectrogram for the quantum
  // rationale), band energies are exact integer sums of rc²+ic².
  spec("q_audio_spectrogram", s"$audioSpectroCte SELECT doc_id, frame_idx, band, band_energy_q FROM be") { (s, dir) =>
    Multimodal.wavSpectrogram(
      Multimodal.synthesizeWavPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }

  /** MFCC over the real RIFF→PCM decode: quantized FFT bin powers →
    * integer mel-band energies → milli-quantized log → fixed-point
    * DCT-II — exact integers end to end; the oracle replays the O(n²)
    * DFT and the embedded mel-edge/DCT-basis tables. */
  // MFCC replay: the spectrogram CTE's quantized bins -> per-bin powers
  // over the 32 unique bins -> rectangular mel sums over the embedded
  // integer edge table (every band owns >= 1 bin by construction, so no
  // group can vanish) -> milli-quantized ln(E+1) -> the embedded
  // fixed-point DCT-II basis. All-integer after the shared quantization.
  spec("q_audio_mfcc", {
      val edges = graft.pipeline.Multimodal.MelEdges.mkString("[", ", ", "]")
      val basis = graft.pipeline.Multimodal.MfccCos.mkString("[", ", ", "]")
      s"""$audioSpectroCte,
         |pw AS (SELECT doc_id, frame_idx, k, rc * rc + ic * ic AS p
         |  FROM q WHERE k < 32),
         |me AS (SELECT doc_id, frame_idx, mm.m AS m, CAST(sum(p) AS BIGINT) AS e
         |  FROM pw, range(8) mm(m)
         |  WHERE k >= ($edges)[mm.m + 1] AND k < ($edges)[mm.m + 2]
         |  GROUP BY 1, 2, 3),
         |lq AS (SELECT doc_id, frame_idx, m,
         |  CAST(floor(ln(CAST(e + 1 AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS l
         |  FROM me)
         |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
         |  CAST(cc.c AS INT) AS coef,
         |  CAST(sum(($basis)[cc.c * 8 + m + 1] * l) AS BIGINT) AS mfcc_q
         |FROM lq, range(8) cc(c) GROUP BY 1, 2, 3""".stripMargin
    }) { (s, dir) =>
    Multimodal.wavMfcc(
      Multimodal.synthesizeWavPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }

  /** Per-frame spectral descriptors over the spectrogram band energies:
    * exact-integer centroid numerator/denominator, integer-compare
    * rolloff band, L1 spectral flux vs the previous frame. */
  spec("q_audio_descriptors", {
      val e = (0 until 8).map(b =>
        s"sum(CASE WHEN band = $b THEN band_energy_q ELSE 0 END) AS e$b")
        .mkString(",\n        |  ")
      val tot = (0 until 8).map(b => s"e$b").mkString(" + ")
      val cnum = (1 until 8).map(b => s"e$b * $b").mkString(" + ")
      val cum = (0 until 7).map { b =>
        val c = (0 to b).map(t => s"e$t").mkString(" + ")
        s"WHEN ($c) * 100 >= 85 * total THEN $b"
      }.mkString(" ")
      val lags = (0 until 8).map(b =>
        s"lag(e$b) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS p$b")
        .mkString(",\n        |  ")
      val flux = (0 until 8).map(b => s"abs(e$b - p$b)").mkString(" + ")
      s"""$audioSpectroCte,
        |pf AS (SELECT doc_id, frame_idx,
        |  $e
        |  FROM be GROUP BY 1, 2),
        |dx AS (SELECT doc_id, frame_idx, ${(0 until 8).map(b => s"e$b").mkString(", ")},
        |  CAST($tot AS BIGINT) AS total,
        |  CAST($cnum AS BIGINT) AS cnum,
        |  $lags
        |  FROM pf)
        |SELECT doc_id, frame_idx, total AS total_energy,
        |  cnum AS centroid_num,
        |  CASE WHEN total > 0
        |    THEN CAST(cnum AS DOUBLE) / CAST(total AS DOUBLE) END AS centroid,
        |  CAST(CASE $cum ELSE 7 END AS INT) AS rolloff_band,
        |  CAST($flux AS BIGINT) AS flux_l1
        |FROM dx""".stripMargin
    }) { (s, dir) =>
    Multimodal.audioDescriptors(
      Multimodal.synthesizeWavPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }

  /** REAL PROGRESSIVE-JPEG decode end to end: SOF2 multi-scan streams
    * (spectral selection + successive approximation) built by the fixture
    * encoder — the JDK writer cannot emit them — decoded through the full
    * phuff scan loop; flat blocks + flat-8 quant make the decoded sums a
    * pure function of doc_id, restated by the oracle. */
  // Progressive-JPEG decode replay: flat DC-only blocks with flat-8
  // quant survive the full SOF2 spectral-selection / successive-
  // approximation scan sequence exactly, so the oracle restates each
  // block's constant while the engine runs the real phuff scan loop.
  spec("q_decode_jpeg_prog", """WITH d AS (SELECT doc_id, 8 * (1 + doc_id % 4) AS w,
        |  8 * (1 + (doc_id * 3) % 4) AS h FROM documents),
        |b AS (SELECT doc_id, w, h,
        |  (doc_id % 241 + 19 * by.by + 31 * bx.bx) % 256 AS v
        |  FROM d, range(4) by(by), range(4) bx(bx)
        |  WHERE by.by < h // 8 AND bx.bx < w // 8)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(1 AS INT) AS channels, count(*) * 64 AS n_samples,
        |  CAST(sum(v) * 64 AS BIGINT) AS sample_sum,
        |  CAST(sum(v) * 64 AS DOUBLE) / CAST(count(*) * 64 AS DOUBLE)
        |    AS mean_sample
        |FROM b GROUP BY doc_id, w, h""".stripMargin) { (s, dir) =>
    graft.pipeline.Jpeg.jpegPixelStats(
      graft.pipeline.Jpeg.synthesizeProgressiveJpegPayload(
        docIdsSpread(s, dir),
        "doc_id"),
      "doc_id", "payload")
  }

  /** REAL video decode end to end ([[graft.pipeline.Video]]): MJPEG-AVI
    * payloads whose RIFF lists the engine walks and whose per-frame JFIF
    * streams it huffman-decodes + IDCTs via [[graft.pipeline.Jpeg
    * .decodeJpeg]]; the oracle restates every frame's decoded sum from the
    * generating doc_id arithmetic without touching a byte. */
  // MJPEG-AVI decode replay: the engine walks RIFF lists to the movi
  // frames and huffman-decodes + IDCTs each (flat DC-only blocks are
  // bit-exact in any conforming decoder); the oracle restates every
  // frame's constants from the synthesizeAviPayload arithmetic.
  spec("q_decode_video", """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n,
        |  8 * (1 + doc_id % 3) AS w, 8 * (1 + (doc_id * 2) % 3) AS h
        |  FROM documents),
        |fb AS (SELECT doc_id, w, h, f.f AS fi,
        |  (doc_id % 251 + 29 * f.f + 17 * by.by + 23 * bx.bx) % 256 AS v
        |  FROM d, range(8) f(f), range(3) by(by), range(3) bx(bx)
        |  WHERE f.f < n AND by.by < h // 8 AND bx.bx < w // 8)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(1 AS INT) AS channels, count(*) * 64 AS n_samples,
        |  CAST(sum(v) * 64 AS BIGINT) AS sample_sum
        |FROM fb GROUP BY doc_id, fi, w, h""".stripMargin) { (s, dir) =>
    graft.pipeline.Video.videoFrameStats(
      graft.pipeline.Video.synthesizeAviPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }

  /** REAL MP4 video decode end to end: ISO BMFF box walk + stsc/stsz/stco
    * sample-table resolution ([[graft.pipeline.Video.parseMp4Mjpeg]]) to
    * per-sample JFIF payloads, then the same huffman+IDCT decode as the
    * AVI twin. The fixture carries [[graft.pipeline.Video
    * .synthesizeAviPayload]]'s exact frame arithmetic in an MP4
    * container, so this row shares q_decode_video's oracle verbatim —
    * same numbers, different container walked for real. */
  // MJPEG-MP4 decode replay: same frame arithmetic as q_decode_video
  // (the MP4 fixture deliberately reuses it), so the replay is shared —
  // the engine earns it through a genuinely different container walk
  // (ISO boxes + stsc/stsz/stco sample table instead of RIFF lists).
  spec("q_decode_mp4", """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n,
        |  8 * (1 + doc_id % 3) AS w, 8 * (1 + (doc_id * 2) % 3) AS h
        |  FROM documents),
        |fb AS (SELECT doc_id, w, h, f.f AS fi,
        |  (doc_id % 251 + 29 * f.f + 17 * by.by + 23 * bx.bx) % 256 AS v
        |  FROM d, range(8) f(f), range(3) by(by), range(3) bx(bx)
        |  WHERE f.f < n AND by.by < h // 8 AND bx.bx < w // 8)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(1 AS INT) AS channels, count(*) * 64 AS n_samples,
        |  CAST(sum(v) * 64 AS BIGINT) AS sample_sum
        |FROM fb GROUP BY doc_id, fi, w, h""".stripMargin) { (s, dir) =>
    graft.pipeline.Video.videoFrameStats(
      graft.pipeline.Video.synthesizeMp4Payload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }

  /** REAL frame sampling: the q_frame_plan lattice taken all the way to
    * pixels — every 400 ms on the stream clock, the engine indexes the
    * covering frame through the exact strh (rate, scale) rational and
    * decodes THAT frame only. */
  // Real frame sampling replay: 400 ms lattice, covering-frame index
  // from the exact (rate=fps, scale=1) rational, per-frame sums joined
  // from the same block arithmetic as q_decode_video.
  spec("q_frame_sample", """WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS fps, 3 + doc_id % 5 AS n,
        |  8 * (1 + doc_id % 3) AS w, 8 * (1 + (doc_id * 2) % 3) AS h
        |  FROM documents),
        |fb AS (SELECT doc_id, f.f AS fi,
        |  CAST(sum((doc_id % 251 + 29 * f.f + 17 * by.by + 23 * bx.bx)
        |    % 256) * 64 AS BIGINT) AS ssum
        |  FROM d, range(8) f(f), range(3) by(by), range(3) bx(bx)
        |  WHERE f.f < n AND by.by < h // 8 AND bx.bx < w // 8
        |  GROUP BY doc_id, f.f),
        |lat AS (SELECT d.doc_id, CAST(t.t AS BIGINT) AS ts,
        |  CAST(t.t * d.fps // 1000 AS INT) AS fi
        |  FROM d, unnest(generate_series(0, 3600, 400)) AS t(t)
        |  WHERE t.t * d.fps // 1000 < d.n)
        |SELECT lat.doc_id, lat.ts AS frame_ts_ms, lat.fi AS frame_idx,
        |  fb.ssum AS sample_sum
        |FROM lat JOIN fb ON lat.doc_id = fb.doc_id AND lat.fi = fb.fi"""
        .stripMargin) { (s, dir) =>
    graft.pipeline.Video.sampleVideoFrames(
      graft.pipeline.Video.synthesizeAviPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload", everyMs = 400L)
  }

  /** REAL shot-boundary detection ([[graft.pipeline.Video.sceneCuts]]):
    * per-transition SAD over consecutively DECODED frames — the engine
    * walks the container, huffman-decodes + IDCTs every frame, and
    * differences real pixels; a cut fires at mean |Δ| ≥ 64 gray levels.
    * The fixture's +29-per-frame mod-256 block walk makes wrap-around
    * blocks (|Δ| = 227 instead of 29) the cut signal, so flags vary per
    * transition; the oracle restates the SADs from the generating
    * arithmetic. Keyframe-per-shot selection for a video training corpus
    * reads directly off this frame. */
  // Scene-cut replay: consecutive-frame SAD from the block arithmetic —
  // all 64 pixels of a block share one value, so the transition SAD is
  // 64·Σ_blocks |v_f − v_{f−1}|; constant dims per clip, so the
  // resolution-change arm never fires in the fixture.
  spec("q_scene_cuts", """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n,
        |  8 * (1 + doc_id % 3) AS w, 8 * (1 + (doc_id * 2) % 3) AS h
        |  FROM documents),
        |fb AS (SELECT doc_id, f.f AS fi, by.by AS by, bx.bx AS bx,
        |  (doc_id % 251 + 29 * f.f + 17 * by.by + 23 * bx.bx) % 256 AS v
        |  FROM d, range(8) f(f), range(3) by(by), range(3) bx(bx)
        |  WHERE f.f < n AND by.by < h // 8 AND bx.bx < w // 8)
        |SELECT a.doc_id, CAST(b.fi AS INT) AS frame_idx,
        |  CAST(count(*) * 64 AS BIGINT) AS n_samples,
        |  CAST(sum(abs(b.v - a.v)) * 64 AS BIGINT) AS sad,
        |  sum(abs(b.v - a.v)) * 64 >= 64 * count(*) * 64 AS is_cut
        |FROM fb a JOIN fb b ON a.doc_id = b.doc_id AND a.by = b.by
        |  AND a.bx = b.bx AND b.fi = a.fi + 1
        |GROUP BY a.doc_id, b.fi""".stripMargin) { (s, dir) =>
    graft.pipeline.Video.sceneCuts(
      graft.pipeline.Video.synthesizeAviPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload", threshold = 64)
  }

  /** Exact audio dedup by decoded-content fingerprint
    * ([[graft.pipeline.Multimodal.audioDedup]]): every WAV decoded for
    * real, fingerprinted by exact PCM moments (with a position-weighted
    * moment so reorderings separate), grouped to a min-id
    * representative. The fixture folds the sample base to doc_id % 13
    * (content classes every 130 ids) while the sample RATE varies with
    * id % 8 — identical content at different rates collapses. */
  // Audio-dedup replay: the folded WAV fixture arithmetic (base id%13,
  // n = 100 + (id%10)·40), exact PCM moments incl. the position-
  // weighted Σ(i+1)·s, the same "n:s1:sw" string, DuckDB md5.
  spec("q_audio_dedup", """WITH d AS (SELECT doc_id, 100 + (doc_id % 10) * 40 AS n,
        |  (doc_id % 13) * 133 AS b7 FROM documents),
        |s AS (SELECT doc_id, n, i.i AS i,
        |  (b7 + 11 * i.i) % 65536 - 32768 AS v
        |  FROM d, range(500) i(i) WHERE i.i < n),
        |f AS (SELECT doc_id, CAST(min(n) AS BIGINT) AS n_samples,
        |  CAST(sum(v) AS BIGINT) AS s1,
        |  CAST(sum((i + 1) * v) AS BIGINT) AS sw
        |  FROM s GROUP BY doc_id),
        |fp AS (SELECT doc_id, n_samples,
        |  md5(CAST(n_samples AS VARCHAR) || ':' || CAST(s1 AS VARCHAR)
        |    || ':' || CAST(sw AS VARCHAR)) AS fp FROM f)
        |SELECT fp, n_samples, min(doc_id) AS rep_id,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM fp GROUP BY fp, n_samples""".stripMargin) { (s, dir) =>
    Multimodal.audioDedup(
      Multimodal.synthesizeWavDedupPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }

  /** The synthesizeAviNearDupPayload frame-block CTEs: `${p}d` (per-doc
    * scrambled class keys) and `${p}fb` (block values) with an optional
    * extra doc predicate — shared by videoNearDupSql and the e2e media
    * pipeline replay (which restricts the arm to doc_id % 3 = 2). */
  private def videoNearDupFrameCtes(p: String, pred: String): String =
    s"""${p}d AS (SELECT doc_id,
       |  13 * ((doc_id // 10) % 197) + 7 AS k1,
       |  23 * ((doc_id // 10) % 193) AS k2,
       |  2 * (doc_id % 3) AS delta,
       |  4 + (doc_id // 10) % 3 AS n FROM documents$pred),
       |${p}fb AS (SELECT doc_id, f.f AS fi, by.by AS by, bx.bx AS bx,
       |  ((k1 * (4 * by.by + bx.bx + 1) * (4 * by.by + bx.bx + 1)
       |      + k2 * (4 * by.by + bx.bx + 1)) % 197
       |    + 97 * (f.f // 2) + 3 * (f.f % 2)) % 250 + delta AS v
       |  FROM ${p}d, range(6) f(f), range(4) by(by), range(4) bx(bx)
       |  WHERE f.f < n)""".stripMargin

  /** SAD shot re-segmentation + per-keyframe pHash over a frame-block
    * CTE `$fb` (doc_id, fi, by, bx, v — 4×4 blocks of a 32×32 frame):
    * ends at `${p}ns` (shots per doc) and `${p}ph` (per-shot 63-bit hash
    * halves). CTE names carry prefix `p` so multiple modality chains
    * compose in one statement. */
  private def videoKfPhashCtes(p: String, fb: String): String = {
      val ct = graft.pipeline.Multimodal.PhashCos.mkString("[", ", ", "]")
      s"""${p}tr AS (SELECT a.doc_id, b.fi AS fi,
         |  sum(abs(b.v - a.v)) * 64 >= 64 * count(*) * 64 AS cut
         |  FROM $fb a JOIN $fb b ON a.doc_id = b.doc_id AND a.by = b.by
         |    AND a.bx = b.bx AND b.fi = a.fi + 1
         |  GROUP BY a.doc_id, b.fi),
         |${p}fr AS (SELECT DISTINCT doc_id, fi FROM $fb),
         |${p}sh AS (SELECT f.doc_id, f.fi,
         |  sum(CASE WHEN coalesce(t.cut, FALSE) THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY f.doc_id ORDER BY f.fi) AS shot
         |  FROM ${p}fr f LEFT JOIN ${p}tr t
         |    ON f.doc_id = t.doc_id AND f.fi = t.fi),
         |${p}kf AS (SELECT doc_id, CAST(shot AS INT) AS shot_idx,
         |  min(fi) AS kfi
         |  FROM ${p}sh GROUP BY doc_id, shot),
         |${p}ns AS (SELECT doc_id, count(*) AS n_shots FROM ${p}kf
         |  GROUP BY doc_id),
         |${p}gx AS (SELECT k.doc_id, k.shot_idx, kk.k AS k, $fb.v AS g
         |  FROM ${p}kf k, range(1024) kk(k), $fb
         |  WHERE $fb.doc_id = k.doc_id AND $fb.fi = k.kfi
         |    AND $fb.by = (kk.k // 32) // 8 AND $fb.bx = (kk.k % 32) // 8),
         |${p}tt AS (SELECT doc_id, shot_idx, u.u AS u, k % 32 AS x,
         |  sum(g * $ct[u.u * 32 + (k // 32) + 1]) AS t
         |  FROM ${p}gx, range(8) u(u) GROUP BY 1, 2, 3, 4),
         |${p}ffc AS (SELECT doc_id, shot_idx, k2.k AS k2,
         |  sum(t * $ct[(k2.k % 8) * 32 + x + 1]) AS f
         |  FROM ${p}tt, range(64) k2(k) WHERE u = k2.k // 8
         |  GROUP BY 1, 2, 3),
         |${p}md AS (SELECT doc_id, shot_idx, fv AS med FROM (
         |  SELECT doc_id, shot_idx, f AS fv,
         |    row_number() OVER (PARTITION BY doc_id, shot_idx
         |      ORDER BY f) AS rn
         |  FROM ${p}ffc WHERE k2 >= 1) WHERE rn = 32),
         |${p}pb AS (SELECT c.doc_id, c.shot_idx, c.k2 - 1 AS k,
         |  CASE WHEN c.f > m.med THEN 1 ELSE 0 END AS b
         |  FROM ${p}ffc c JOIN ${p}md m ON c.doc_id = m.doc_id
         |    AND c.shot_idx = m.shot_idx
         |  WHERE c.k2 >= 1),
         |${p}ph AS (SELECT doc_id, shot_idx,
         |  CAST(sum(CASE WHEN k >= 32 THEN b * (CAST(1 AS BIGINT) << (k - 32))
         |    ELSE 0 END) AS BIGINT) AS hi,
         |  CAST(sum(CASE WHEN k < 32 THEN b * (CAST(1 AS BIGINT) << k)
         |    ELSE 0 END) AS BIGINT) AS lo
         |  FROM ${p}pb GROUP BY doc_id, shot_idx)""".stripMargin
  }

  private lazy val videoNearDupSql: String =
      s"""WITH ${videoNearDupFrameCtes("", "")},
         |${videoKfPhashCtes("", "fb")},
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  a.shot_idx AS sa, b.shot_idx AS sb
         |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
         |mt AS (SELECT id_a, id_b, count(DISTINCT sa) AS n_matched_a,
         |  count(DISTINCT sb) AS n_matched_b FROM pr GROUP BY id_a, id_b)
         |SELECT mt.id_a, mt.id_b,
         |  CAST(na.n_shots AS INT) AS n_shots_a,
         |  CAST(nb.n_shots AS INT) AS n_shots_b,
         |  mt.n_matched_a, mt.n_matched_b
         |FROM mt JOIN ns na ON na.doc_id = mt.id_a
         |  JOIN ns nb ON nb.doc_id = mt.id_b
         |WHERE mt.n_matched_a * 100 >= 60 * na.n_shots
         |  AND mt.n_matched_b * 100 >= 60 * nb.n_shots""".stripMargin

  /** Streaming video near-dup gate — arriving clips segment and pHash
    * their keyframes STATELESSLY at the ingest boundary
    * ([[graft.pipeline.Video.keyframePHashes]] is a pure per-clip decode
    * map, so any micro-batching emits identical signature rows); the
    * banded-Hamming pair fold runs over the sink (the q_stream_novelty
    * sink-rollup convention). Shares q_video_neardup's replay verbatim. */
  spec("q_stream_video_neardup", videoNearDupSql) { (s0, dir) =>
    val s = streamSession(s0)
    val sink = runStream(s, graft.pipeline.Video.keyframePHashes(
      graft.pipeline.Video.synthesizeAviNearDupPayload(
        docsStream(s, dir).select(col("doc_id")), "doc_id"),
      "doc_id", "payload"))
    graft.pipeline.Video.nearDupPairsFromKeyframes(sink, "doc_id")
  }

  /** The synthesizeWavNearDupPayload sample CTEs: `${p}d` (per-doc group
    * keys) and `${p}sm` (exact samples) with an optional extra doc
    * predicate — shared by audioNearDupSql and the e2e media pipeline
    * replay (arm doc_id % 3 = 1). */
  private def audioNearDupSampleCtes(p: String, pred: String): String =
    s"""${p}d AS (SELECT doc_id, doc_id // 10 AS g,
       |  128 + 2 * (doc_id % 3) AS gain,
       |  1280 + 64 * ((doc_id // 10) % 3) AS n FROM documents$pred),
       |${p}sm AS (SELECT doc_id, n, i.i AS i,
       |  CAST(((((1 + 2 * (((g % 31 + 1) * (i.i // 64 + 1) * (i.i // 64 + 1)
       |          + (g % 29) * (i.i // 64 + 1)) % 30)) * i.i + g % 23) % 64)
       |      - 32)
       |    * (1 + ((g % 19) * (i.i // 64 + 1) + g % 31 + 1) % 5)
       |    * gain AS BIGINT) AS s
       |  FROM ${p}d, range(1408) i(i) WHERE i.i < n)""".stripMargin

  /** Haitsma–Kalker segment hashes over a sample CTE `$sm` (doc_id, n,
    * i, s) with per-doc frame counts in `$d` (doc_id, n): Walsh sequency
    * band energies, time-band gradient sign bits, 9-transition 63-bit
    * segments — ends at `${p}nseg` and `${p}ph`. */
  private def audioHkCtes(p: String, d: String, sm: String): String = {
      val m = graft.pipeline.Multimodal.SeqToNat64.mkString("[", ", ", "]")
      // the Walsh projection is a relational unnest-join, not a per-row
      // list lambda: DuckDB executes interpreted lambdas on one thread
      // per row group, which made the sf1 e2e replay run tens of minutes
      // on a 100k-row frame table; the join form vectorizes and
      // parallelizes. Integer addends, so the re-associated sum is exact.
      s"""${p}co AS (SELECT doc_id, i // 64 AS f, sq.sv AS sq,
        |  sum(s * (1 - 2 * (bit_count($m[sq.sv + 1] & (i % 64)) % 2))) AS w
        |  FROM $sm, range(64) sq(sv) GROUP BY 1, 2, 3),
        |${p}be AS (SELECT doc_id, f, CAST(sq // 8 AS INT) AS band,
        |  CAST(sum(w * w) AS BIGINT) AS e
        |  FROM ${p}co GROUP BY 1, 2, 3),
        |${p}dd AS (SELECT a.doc_id, a.f, a.band AS b,
        |  a.e - c.e AS dv
        |  FROM ${p}be a JOIN ${p}be c ON a.doc_id = c.doc_id AND a.f = c.f
        |    AND c.band = a.band + 1),
        |${p}bt AS (SELECT d1.doc_id, d1.f - 1 AS t, d1.b,
        |  CASE WHEN d1.dv - d0.dv > 0 THEN 1 ELSE 0 END AS bit
        |  FROM ${p}dd d1 JOIN ${p}dd d0 ON d1.doc_id = d0.doc_id
        |    AND d0.f = d1.f - 1 AND d0.b = d1.b),
        |${p}nseg AS (SELECT doc_id, (n // 64 - 1) // 9 AS n_segs FROM $d),
        |${p}ph AS (SELECT bt.doc_id, CAST(bt.t // 9 AS INT) AS seg,
        |  CAST(sum(CASE WHEN (bt.t % 9) * 7 + bt.b >= 32
        |    THEN bit * (CAST(1 AS BIGINT) << ((bt.t % 9) * 7 + bt.b - 32))
        |    ELSE 0 END) AS BIGINT) AS hi,
        |  CAST(sum(CASE WHEN (bt.t % 9) * 7 + bt.b < 32
        |    THEN bit * (CAST(1 AS BIGINT) << ((bt.t % 9) * 7 + bt.b))
        |    ELSE 0 END) AS BIGINT) AS lo
        |  FROM ${p}bt bt JOIN ${p}nseg nseg ON nseg.doc_id = bt.doc_id
        |  WHERE bt.t // 9 < nseg.n_segs
        |  GROUP BY 1, 2)""".stripMargin
  }

  private lazy val audioNearDupSql: String =
      s"""WITH ${audioNearDupSampleCtes("", "")},
        |${audioHkCtes("", "d", "sm")},
        |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  a.seg AS sa, b.seg AS sb
        |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
        |mt AS (SELECT id_a, id_b, count(DISTINCT sa) AS n_matched_a,
        |  count(DISTINCT sb) AS n_matched_b FROM pr GROUP BY id_a, id_b)
        |SELECT mt.id_a, mt.id_b,
        |  CAST(na.n_segs AS INT) AS n_segs_a,
        |  CAST(nb.n_segs AS INT) AS n_segs_b,
        |  mt.n_matched_a, mt.n_matched_b
        |FROM mt JOIN nseg na ON na.doc_id = mt.id_a
        |  JOIN nseg nb ON nb.doc_id = mt.id_b
        |WHERE mt.n_matched_a * 100 >= 60 * na.n_segs
        |  AND mt.n_matched_b * 100 >= 60 * nb.n_segs""".stripMargin

  /** Streaming audio near-dup gate — the q_stream_video_neardup shape on
    * [[graft.pipeline.Multimodal.hkFingerprints]] (stateless per-clip
    * Walsh sign hashes at ingest, pair fold over the sink); shares
    * q_audio_neardup's replay verbatim. */
  spec("q_stream_audio_neardup", audioNearDupSql) { (s0, dir) =>
    val s = streamSession(s0)
    val sink = runStream(s, Multimodal.hkFingerprints(
      Multimodal.synthesizeWavNearDupPayload(
        docsStream(s, dir).select(col("doc_id")), "doc_id"),
      "doc_id", "payload"))
    Multimodal.nearDupPairsFromHk(sink, "doc_id")
  }

  /** Audio NEAR-dup pairs ([[graft.pipeline.Multimodal
    * .audioNearDupPairs]]): Haitsma–Kalker spectral sign fingerprints
    * (63-bit segment hashes over the exact-integer spectrogram's
    * band-energy gradients) through the shared banded-Hamming fold — the
    * gain-robust complement to q_audio_dedup's exact PCM moments. The
    * fixture's gain-lifted variants (the audio re-encode stand-in)
    * collapse while their exact moment fingerprints separate; distinct
    * sawtooth classes verify apart. */
  // Audio near-dup replay: the synthesizeWavNearDupPayload
  // frequency-hopping arithmetic (non-negative gained base, the
  // truncation=floor convention), per-frame Walsh coefficients from
  // the DEFINITION with the embedded sequency map (the q_audio_sequency
  // replay — all-integer, bit-exact), Haitsma–Kalker sign bits over
  // band-energy gradients, 9-transition 63-bit segment packing, then
  // the EXACT pair semantics (Hamming ≤ 3, 60% matched both sides).
  spec("q_audio_neardup", audioNearDupSql) { (s, dir) =>
    Multimodal.audioNearDupPairs(
      Multimodal.synthesizeWavNearDupPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }

  private lazy val mediaDedupSql: String =
    """WITH img AS (SELECT doc_id, 8 * (1 + doc_id % 2) AS w,
      |  (doc_id % 13) * 19 AS base FROM documents WHERE doc_id % 3 = 0),
      |imgb AS (SELECT doc_id, w, (base + 23 * bx.bx) % 256 AS v
      |  FROM img, range(2) bx(bx) WHERE bx.bx < w // 8),
      |imgf AS (SELECT doc_id, 'image' AS modality,
      |  CAST(min(w) * 8 AS BIGINT) AS n_units,
      |  CAST(min(w) AS VARCHAR) || ':8:1:'
      |    || CAST(sum(v) * 64 AS VARCHAR) || ':'
      |    || CAST(sum(v * v) * 64 AS VARCHAR) AS fpi
      |  FROM imgb GROUP BY doc_id),
      |aud AS (SELECT doc_id, 100 + (doc_id % 10) * 40 AS n,
      |  (doc_id % 13) * 133 AS b7 FROM documents WHERE doc_id % 3 = 1),
      |auds AS (SELECT doc_id, n, i.i AS i,
      |  (b7 + 11 * i.i) % 65536 - 32768 AS v
      |  FROM aud, range(500) i(i) WHERE i.i < n),
      |audf AS (SELECT doc_id, 'audio' AS modality,
      |  CAST(min(n) AS BIGINT) AS n_units,
      |  CAST(min(n) AS VARCHAR) || ':' || CAST(sum(v) AS VARCHAR)
      |    || ':' || CAST(sum((i + 1) * v) AS VARCHAR) AS fpi
      |  FROM auds GROUP BY doc_id),
      |vid AS (SELECT doc_id, 3 + doc_id % 5 AS n,
      |  8 * (1 + doc_id % 3) AS w, 8 * (1 + (doc_id * 2) % 3) AS h,
      |  (doc_id % 13) * 19 AS base FROM documents WHERE doc_id % 3 = 2),
      |vidb AS (SELECT doc_id, w, h, f.f AS fi,
      |  (base + 29 * f.f + 17 * by.by + 23 * bx.bx) % 256 AS v
      |  FROM vid, range(8) f(f), range(3) by(by), range(3) bx(bx)
      |  WHERE f.f < n AND by.by < h // 8 AND bx.bx < w // 8),
      |vidr AS (SELECT doc_id, fi,
      |  CAST(min(w) AS VARCHAR) || ':' || CAST(min(h) AS VARCHAR)
      |  || ':1:' || CAST(sum(v) * 64 AS VARCHAR)
      |  || ':' || CAST(sum(v * v) * 64 AS VARCHAR) AS fs
      |  FROM vidb GROUP BY doc_id, fi),
      |vidf AS (SELECT doc_id, 'video' AS modality,
      |  CAST(count(*) AS BIGINT) AS n_units,
      |  string_agg(fs, '|' ORDER BY fi) AS fpi
      |  FROM vidr GROUP BY doc_id),
      |allf AS (SELECT * FROM imgf UNION ALL SELECT * FROM audf
      |  UNION ALL SELECT * FROM vidf)
      |SELECT modality, md5(fpi) AS fp, n_units,
      |  min(doc_id) AS rep_id, CAST(count(*) AS BIGINT) AS n_docs
      |FROM allf GROUP BY modality, md5(fpi), n_units""".stripMargin

  /** Cross-modality media dedup ([[graft.pipeline.Multimodal
    * .mediaDedup]]): a mixed image/audio/video binary column dispatched
    * to the right decoder ONCE per payload by container signature, each
    * modality fingerprinted by its exact-moment string, grouped to
    * min-id representatives within (modality, fp). The mixed fixture
    * folds every arm's content base so all three modalities carry
    * non-vacuous dup groups at correctness scale. */
  // Media-dedup replay: one branch per id%3 modality arm, each
  // restating its folded fixture arithmetic and md5 moment string,
  // UNION ALL, then the (modality, fp, n_units) group. The streaming
  // gate (first-owner state, id-ordered ingestion) shares it verbatim.
  spec("q_media_dedup", mediaDedupSql) { (s, dir) =>
    Multimodal.mediaDedup(
      Multimodal.synthesizeMediaDedupPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }

  /** Closed-form dHash of the synthetic image arms, shared by
    * q_image_dhash (append `SELECT * FROM acc`) and q_image_neardup
    * (append the signature/band-join CTEs). gSql restates the decoded
    * grayscale at a resized grid point from the generating arithmetic. */
  /** Synthesized-pixel gray formula shared by the perceptual-hash
    * replays (arm 0 = PNG gradient, arm 1 = JPEG flat 8x8 blocks;
    * channel mean for 3-channel arm-0 images). */
  private def imageGraySql(sy: String, sx: String): String =
    s"""CASE WHEN arm = 1 THEN
       |    (doc_id % 251 + 17 * (($sy) // 8) + 23 * (($sx) // 8)) % 256
       |  WHEN nch = 1 THEN (doc_id % 251 + 5 * ($sy) + 3 * ($sx)) % 256
       |  ELSE ((doc_id % 251 + 5 * ($sy) + 3 * ($sx)) % 256
       |    + (doc_id % 251 + 5 * ($sy) + 3 * ($sx) + 11) % 256
       |    + (doc_id % 251 + 5 * ($sy) + 3 * ($sx) + 22) % 256) // 3
       |  END""".stripMargin

  /** The decodable-image arms of synthesizeDecodablePayload (doc_id%4
    * in {0,1}; the wav/avi arms drop out of decodeImage). */
  /** The synthesizeDecodablePayload image arms (arm 0 = PNG gradient,
    * arm 1 = JPEG flat blocks) as a CTE `${p}imgs`, with an optional
    * extra doc predicate — shared by the perceptual-hash replays and the
    * e2e media pipeline replay (arm doc_id % 3 = 0). */
  private def imageArmsCtes(p: String, pred: String): String =
    s"""${p}imgs AS (
      |  SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id * 3) % 24 AS h,
      |    CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END AS nch, 0 AS arm
      |  FROM documents WHERE doc_id % 4 = 0$pred
      |  UNION ALL
      |  SELECT doc_id, 8 * (1 + doc_id % 4) AS w,
      |    8 * (1 + (doc_id * 3) % 4) AS h, 1 AS nch, 1 AS arm
      |  FROM documents WHERE doc_id % 4 = 1$pred)""".stripMargin

  /** Closed-form dHash over an image-arms CTE `$imgs` — the
    * `${p}bits`/`${p}acc` chain shared by the q_image_dhash family and
    * the e2e media replay. */
  private def imageDhashCtes(p: String, imgs: String): String = {
    def bitRange(lof: Int, hif: Int, shiftBase: Int): String =
      s"CAST(sum(CASE WHEN y * 8 + x >= $lof AND y * 8 + x < $hif " +
        s"THEN b * (CAST(1 AS BIGINT) << (y * 8 + x - $shiftBase)) " +
        s"ELSE 0 END) AS BIGINT)"
    s"""${p}bits AS (SELECT doc_id, y.y AS y, x.x AS x,
       |  CASE WHEN (${imageGraySql("y.y * h // 8", "(x.x + 1) * w // 9")})
       |     > (${imageGraySql("y.y * h // 8", "x.x * w // 9")})
       |    THEN 1 ELSE 0 END AS b
       |  FROM $imgs, range(8) y(y), range(8) x(x)),
       |${p}acc AS (SELECT doc_id,
       |  ${bitRange(32, 64, 32)} AS dhash_hi,
       |  ${bitRange(0, 32, 0)} AS dhash_lo,
       |  ${bitRange(0, 16, 0)} AS band0,
       |  ${bitRange(16, 32, 16)} AS band1,
       |  ${bitRange(32, 48, 32)} AS band2,
       |  ${bitRange(48, 64, 48)} AS band3
       |  FROM ${p}bits GROUP BY doc_id)""".stripMargin
  }

  /** Full replay of the production-order media near-dup pipeline
    * (q_media_neardup_e2e): per-arm exact content groups (the engine's
    * fingerprint STRINGS restated from the generating arithmetic —
    * grouping by the string equals grouping by its md5), min-id
    * representatives, the per-modality near-dup hash chains restricted
    * to representatives (keyframe pHash / Haitsma–Kalker / dHash — the
    * shared prefix-parametrized CTEs), brute-force Hamming ≤ 3 pair
    * verification (pigeonhole-complete at that radius, so banding and
    * the oversized-bucket clamp change nothing on this fixture), the
    * matched-unit thresholds, and a recursive-CTE connected-component
    * roll-up with min-id cluster labels. */
  private lazy val mediaNearDupE2eSql: String = {
    val sigEq = Seq("dhash_hi", "dhash_lo", "band0", "band1",
      "band2", "band3").map(c => s"h.$c = s.$c").mkString(" AND ")
    s"""WITH RECURSIVE ${imageArmsCtes("i", " AND (doc_id // 10) % 3 = 0")},
       |ipx AS (SELECT doc_id, w, h, nch, y.y AS y, x.x AS x, c.c AS c,
       |  CASE WHEN arm = 1 THEN
       |      (doc_id % 251 + 17 * (y.y // 8) + 23 * (x.x // 8)) % 256
       |    ELSE (doc_id % 251 + 5 * y.y + 3 * x.x + 11 * c.c) % 256
       |  END AS v
       |  FROM iimgs, range(33) y(y), range(33) x(x), range(3) c(c)
       |  WHERE y.y < h AND x.x < w AND c.c < nch),
       |ifp AS (SELECT doc_id,
       |  CAST(min(w) * min(h) * min(nch) AS BIGINT) AS n_units,
       |  CAST(min(w) AS VARCHAR) || ':' || CAST(min(h) AS VARCHAR) || ':'
       |    || CAST(min(nch) AS VARCHAR) || ':' || CAST(sum(v) AS VARCHAR)
       |    || ':' || CAST(sum(v * v) AS VARCHAR) AS fpi
       |  FROM ipx GROUP BY doc_id),
       |igrp AS (SELECT 'image' AS modality, min(doc_id) AS rep_id,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |  FROM ifp GROUP BY fpi, n_units),
       |${audioNearDupSampleCtes("a", " WHERE (doc_id // 10) % 3 = 1")},
       |afp AS (SELECT doc_id,
       |  CAST(min(n) AS VARCHAR) || ':' || CAST(sum(s) AS VARCHAR) || ':'
       |    || CAST(sum((i + 1) * s) AS VARCHAR) AS fpi,
       |  CAST(min(n) AS BIGINT) AS n_units
       |  FROM asm GROUP BY doc_id),
       |agrp AS (SELECT 'audio' AS modality, min(doc_id) AS rep_id,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |  FROM afp GROUP BY fpi, n_units),
       |${videoNearDupFrameCtes("v", " WHERE (doc_id // 10) % 3 = 2")},
       |vfr AS (SELECT doc_id, fi,
       |  '32:32:1:' || CAST(sum(v) * 64 AS VARCHAR) || ':'
       |    || CAST(sum(v * v) * 64 AS VARCHAR) AS fs
       |  FROM vfb GROUP BY doc_id, fi),
       |vfp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_units,
       |  string_agg(fs, '|' ORDER BY fi) AS fpi FROM vfr GROUP BY doc_id),
       |vgrp AS (SELECT 'video' AS modality, min(doc_id) AS rep_id,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |  FROM vfp GROUP BY fpi, n_units),
       |grp AS (SELECT * FROM igrp UNION ALL SELECT * FROM agrp
       |  UNION ALL SELECT * FROM vgrp),
       |imgr AS (SELECT i.* FROM iimgs i
       |  JOIN igrp r ON i.doc_id = r.rep_id),
       |${imageDhashCtes("i2", "imgr")},
       |isig AS (SELECT dhash_hi, dhash_lo, band0, band1, band2, band3,
       |  min(doc_id) AS sig_rep FROM i2acc GROUP BY 1, 2, 3, 4, 5, 6),
       |icross AS (SELECT a.sig_rep AS a, b.sig_rep AS b
       |  FROM isig a JOIN isig b ON a.sig_rep < b.sig_rep
       |  WHERE bit_count(xor(a.dhash_hi, b.dhash_hi))
       |    + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 3),
       |isedge AS (SELECT s.sig_rep AS a, h.doc_id AS b
       |  FROM i2acc h JOIN isig s ON $sigEq
       |  WHERE s.sig_rep < h.doc_id),
       |asmr AS (SELECT sm.* FROM asm sm
       |  JOIN agrp r ON sm.doc_id = r.rep_id),
       |adr AS (SELECT d.* FROM ad d JOIN agrp r ON d.doc_id = r.rep_id),
       |${audioHkCtes("a2", "adr", "asmr")},
       |abd AS (SELECT doc_id, seg, hi, lo, t.band_idx,
       |  CASE t.band_idx WHEN 0 THEN lo & 65535
       |    WHEN 1 THEN (lo >> 16) & 65535 WHEN 2 THEN hi & 65535
       |    ELSE (hi >> 16) & 65535 END AS band_val
       |  FROM a2ph, range(4) t(band_idx)),
       |apr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  a.seg AS sa, b.seg AS sb
       |  FROM abd a JOIN abd b ON a.band_idx = b.band_idx
       |    AND a.band_val = b.band_val AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
       |amt AS (SELECT id_a, id_b, count(DISTINCT sa) AS n_matched_a,
       |  count(DISTINCT sb) AS n_matched_b FROM apr GROUP BY id_a, id_b),
       |aedge AS (SELECT mt.id_a AS a, mt.id_b AS b
       |  FROM amt mt JOIN a2nseg na ON na.doc_id = mt.id_a
       |    JOIN a2nseg nb ON nb.doc_id = mt.id_b
       |  WHERE mt.n_matched_a * 100 >= 60 * na.n_segs
       |    AND mt.n_matched_b * 100 >= 60 * nb.n_segs),
       |vfbr AS (SELECT fb.* FROM vfb fb
       |  JOIN vgrp r ON fb.doc_id = r.rep_id),
       |${videoKfPhashCtes("v2", "vfbr")},
       |vbd AS (SELECT doc_id, shot_idx, hi, lo, t.band_idx,
       |  CASE t.band_idx WHEN 0 THEN lo & 65535
       |    WHEN 1 THEN (lo >> 16) & 65535 WHEN 2 THEN hi & 65535
       |    ELSE (hi >> 16) & 65535 END AS band_val
       |  FROM v2ph, range(4) t(band_idx)),
       |vpr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  a.shot_idx AS sa, b.shot_idx AS sb
       |  FROM vbd a JOIN vbd b ON a.band_idx = b.band_idx
       |    AND a.band_val = b.band_val AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
       |vmt AS (SELECT id_a, id_b, count(DISTINCT sa) AS n_matched_a,
       |  count(DISTINCT sb) AS n_matched_b FROM vpr GROUP BY id_a, id_b),
       |vedge AS (SELECT mt.id_a AS a, mt.id_b AS b
       |  FROM vmt mt JOIN v2ns na ON na.doc_id = mt.id_a
       |    JOIN v2ns nb ON nb.doc_id = mt.id_b
       |  WHERE mt.n_matched_a * 100 >= 60 * na.n_shots
       |    AND mt.n_matched_b * 100 >= 60 * nb.n_shots),
       |e0 AS (SELECT a, b FROM vedge UNION SELECT a, b FROM aedge
       |  UNION SELECT a, b FROM icross UNION SELECT a, b FROM isedge),
       |e AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
       |reach AS (
       |  SELECT rep_id AS src, rep_id AS dst FROM grp
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
       |lab AS (SELECT src AS rep_id, min(dst) AS cluster_id
       |  FROM reach GROUP BY src)
       |SELECT g.modality, l.cluster_id,
       |  CAST(count(*) AS BIGINT) AS n_reps,
       |  CAST(sum(g.n_docs) AS BIGINT) AS n_docs
       |FROM grp g JOIN lab l USING (rep_id)
       |GROUP BY 1, 2""".stripMargin
  }

  /** End-to-end media near-dup pipeline ([[graft.pipeline.Multimodal
    * .mediaNearDupPipeline]]) — the production-order composition the
    * per-operator scaladocs prescribe: exact cross-modality dedup FIRST
    * (mediaDedup), only each content group's representative re-enters
    * decode, per-modality near-dup folds over representatives only
    * (keyframe pHash / Haitsma–Kalker / dHash), connected-component
    * cluster roll-up with absorbed exact-group sizes. The mixed fixture
    * dispatches (doc_id div 10) % 3 — whole 10-id content groups per
    * modality, so each arm keeps its fixture's WITHIN-group variant
    * diversity (delta/gain key on doc_id % 3, which a doc_id % 3
    * dispatch would freeze): image (the decodable PNG/JPEG arms), audio
    * (the gain-lift near-dup WAVs), video (the brightness-shift
    * near-dup AVIs) — every arm carrying both exact-dup cliques and
    * near-dup variants, so both pipeline stages do real work. */
  // the production-order e2e pipeline: exact groups -> reps-only
  // near-dup hash chains -> recursive-CTE component roll-up
  spec("q_media_neardup_e2e", mediaNearDupE2eSql) { (s, dir) =>
    val ids = docIdsSpread(s, dir)
    val arm = expr("(doc_id div 10) % 3")
    val img = Multimodal.synthesizeDecodablePayload(
      ids.filter(arm === 0 && col("doc_id") % 4 <= 1), "doc_id")
    val wav = Multimodal.synthesizeWavNearDupPayload(
      ids.filter(arm === 1), "doc_id")
    val avi = graft.pipeline.Video.synthesizeAviNearDupPayload(
      ids.filter(arm === 2), "doc_id")
    Multimodal.mediaNearDupPipeline(img.union(wav).union(avi),
      "doc_id", "payload")
  }

  /** Streaming media dedup — q_media_dedup's groups maintained at the
    * ingest boundary: ARRIVING payloads are signature-dispatched,
    * decoded, and fingerprinted statelessly ([[graft.pipeline
    * .Multimodal.mediaFingerprints]] runs unchanged on the stream), the
    * first-owner state gate ([[graft.streaming.StreamingTSDF
    * .fingerprintOwnership]] — one long per distinct content group)
    * flags owners, and the sink folds to the batch output (owner =
    * rep). stream == batch under id-ordered ingestion — the
    * q_stream_novelty contract; shares q_media_dedup's replay
    * verbatim. */
  spec("q_stream_media_dedup", mediaDedupSql) { (s0, dir) =>
    val s = streamSession(s0)
    val fps = Multimodal.mediaFingerprints(
      Multimodal.synthesizeMediaDedupPayload(
        docsStream(s, dir).select(col("doc_id")), "doc_id"),
      "doc_id", "payload")
    val sink = runStream(s,
      graft.streaming.StreamingTSDF.fingerprintOwnership(fps, "doc_id"))
    sink.groupBy(col("modality"), col("fp"), col("n_units"))
      .agg(min(when(col("novel"), col("doc_id"))).alias("rep_id"),
        count(lit(1)).alias("n_docs"))
  }

  /** Exact video dedup by decoded-content fingerprint
    * ([[graft.pipeline.Video.videoDedup]]): every clip decoded for real,
    * fingerprinted by its per-frame exact moment sequence, grouped to a
    * min-id representative. The fixture folds the pixel base to
    * doc_id % 13 so content classes recur every 195 ids (fps still
    * varies with id % 4 — same content at different frame rates
    * collapses, the CONTENT-dedup semantics) and groups are non-vacuous
    * at correctness scale. */
  // Video-dedup replay: the dedup fixture's folded base (id % 13 · 19),
  // per-frame exact moments (flat blocks: Σv = 64·Σ_block v, Σv² =
  // 64·Σ_block v²), the same "w:h:ch:s1:s2" sequence string (ch = 1,
  // the grayscale MJPEG decode), DuckDB md5.
  spec("q_video_dedup", """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n,
        |  8 * (1 + doc_id % 3) AS w, 8 * (1 + (doc_id * 2) % 3) AS h,
        |  (doc_id % 13) * 19 AS base FROM documents),
        |fb AS (SELECT doc_id, w, h, f.f AS fi,
        |  (base + 29 * f.f + 17 * by.by + 23 * bx.bx) % 256 AS v
        |  FROM d, range(8) f(f), range(3) by(by), range(3) bx(bx)
        |  WHERE f.f < n AND by.by < h // 8 AND bx.bx < w // 8),
        |fr AS (SELECT doc_id, fi,
        |  CAST(min(w) AS VARCHAR) || ':' || CAST(min(h) AS VARCHAR)
        |  || ':1:' || CAST(sum(v) * 64 AS VARCHAR)
        |  || ':' || CAST(sum(v * v) * 64 AS VARCHAR) AS fs
        |  FROM fb GROUP BY doc_id, fi),
        |fp AS (SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
        |  md5(string_agg(fs, '|' ORDER BY fi)) AS fp
        |  FROM fr GROUP BY doc_id)
        |SELECT fp, n_frames, min(doc_id) AS rep_id,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM fp GROUP BY fp, n_frames""".stripMargin) { (s, dir) =>
    graft.pipeline.Video.videoDedup(
      graft.pipeline.Video.synthesizeAviDedupPayload(
        docIdsSpread(s, dir),
        "doc_id"),
      "doc_id", "payload")
  }

  /** Video NEAR-dup pairs ([[graft.pipeline.Video.videoNearDupPairs]]):
    * per-shot keyframe pHashes, 4×16-bit band bucketing (pigeonhole-exact
    * recall at the default Hamming ≤ 3), popcount verify, matched-shot
    * threshold per clip pair. The fixture's brightness-shifted variants
    * (the deterministic re-encode stand-in) collapse — measured keyframe
    * Hamming 0 across variants — while exact fingerprints separate them;
    * scrambled per-class block patterns keep distinct content apart (a
    * smooth-ramp fixture measured cross-class Hamming 0: pHash is
    * brightness- AND contrast-invariant, so only structure separates). */
  // Video near-dup replay: the synthesizeAviNearDupPayload arithmetic
  // (scrambled per-class quadratic + shot lifts + variant delta), SAD
  // re-segmentation, per-keyframe pHash via the embedded PhashCos table
  // (the q_image_phash replay keyed by (doc, shot)), then the EXACT
  // pair semantics — Hamming ≤ 3 (pigeonhole-complete over the engine's
  // 4 bands) and the 60% matched-shot threshold on both sides.
  spec("q_video_neardup", videoNearDupSql) { (s, dir) =>
    graft.pipeline.Video.videoNearDupPairs(
      graft.pipeline.Video.synthesizeAviNearDupPayload(
        docIdsSpread(s, dir),
        "doc_id"),
      "doc_id", "payload")
  }

  /** Shot-keyframe replay (q_shot_keyframes + its stateless streaming
    * twin): re-segment at the replayed SAD flags, keyframe stats via
    * arg_min on the unique frame index. */
  private lazy val shotKeyframesSql: String =
      """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n,
        |  8 * (1 + doc_id % 3) AS w, 8 * (1 + (doc_id * 2) % 3) AS h
        |  FROM documents),
        |fb AS (SELECT doc_id, f.f AS fi, by.by AS by, bx.bx AS bx,
        |  (doc_id % 251 + 29 * f.f + 17 * by.by + 23 * bx.bx) % 256 AS v
        |  FROM d, range(8) f(f), range(3) by(by), range(3) bx(bx)
        |  WHERE f.f < n AND by.by < h // 8 AND bx.bx < w // 8),
        |fsum AS (SELECT doc_id, fi, CAST(sum(v) * 64 AS BIGINT) AS fs,
        |  CAST(count(*) * 64 AS BIGINT) AS ns
        |  FROM fb GROUP BY doc_id, fi),
        |tr AS (SELECT a.doc_id, b.fi AS fi,
        |  sum(abs(b.v - a.v)) * 64 >= 64 * count(*) * 64 AS cut
        |  FROM fb a JOIN fb b ON a.doc_id = b.doc_id AND a.by = b.by
        |    AND a.bx = b.bx AND b.fi = a.fi + 1
        |  GROUP BY a.doc_id, b.fi),
        |sh AS (SELECT f.doc_id, f.fi, f.fs, f.ns,
        |  sum(CASE WHEN coalesce(t.cut, FALSE) THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY f.doc_id ORDER BY f.fi) AS shot
        |  FROM fsum f LEFT JOIN tr t
        |    ON f.doc_id = t.doc_id AND f.fi = t.fi)
        |SELECT doc_id, CAST(shot AS INT) AS shot_idx,
        |  CAST(min(fi) AS INT) AS start_frame,
        |  CAST(count(*) AS INT) AS n_frames,
        |  arg_min(ns, fi) AS n_samples,
        |  arg_min(fs, fi) AS keyframe_sum
        |FROM sh GROUP BY doc_id, shot""".stripMargin

  /** Keyframe-per-shot selection ([[graft.pipeline.Video.shotKeyframes]]):
    * q_scene_cuts' segmentation taken to the curation artifact — one
    * keyframe row per detected shot, first frame of the shot decoded for
    * real. The oracle re-segments from the replayed SAD flags and reads
    * the keyframe sums off the frame arithmetic. */
  // Shot-keyframe replay: re-segment at the q_scene_cuts SAD flags
  // (running cut count = shot id), keyframe stats read off the first
  // frame of each shot via arg_min on the unique frame index. Shared
  // verbatim by the stateless streaming twin (q_stream_keyframes —
  // per-clip decode maps commute with any micro-batching).
  spec("q_shot_keyframes", shotKeyframesSql) { (s, dir) =>
    graft.pipeline.Video.shotKeyframes(
      graft.pipeline.Video.synthesizeAviPayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload", threshold = 64)
  }

  /** Streaming shot-keyframe gate — arriving clips segment and emit
    * keyframe rows at the ingest boundary (the q_stream_dhash
    * convention: the whole operator is a stateless per-clip decode map,
    * so any micro-batching emits identical rows); shares
    * q_shot_keyframes' replay verbatim and completes the multimodal
    * streaming matrix the media-dedup gate started. */
  spec("q_stream_keyframes", shotKeyframesSql) { (s0, dir) =>
    val s = streamSession(s0)
    val out = graft.pipeline.Video.shotKeyframes(
      graft.pipeline.Video.synthesizeAviPayload(
        docsStream(s, dir).select(col("doc_id")), "doc_id"),
      "doc_id", "payload", threshold = 64)
    runStream(s, out)
  }

  private lazy val pixelHistSql: String =
    """WITH png AS (SELECT d.doc_id,
        |  (d.doc_id % 251 + 5 * r.r + 3 * c.c + 11 * ch.ch) % 256 // 16 AS bin
        |  FROM (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id * 3) % 24 AS h,
        |        CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END AS nch
        |        FROM documents WHERE doc_id % 4 = 0) d,
        |    range(31) r(r), range(31) c(c), range(3) ch(ch)
        |  WHERE r.r < d.h AND c.c < d.w AND ch.ch < d.nch),
        |jpg AS (SELECT d.doc_id,
        |  (d.doc_id % 251 + 17 * by.by + 23 * bx.bx) % 256 // 16 AS bin,
        |  64 AS cnt
        |  FROM (SELECT doc_id, 8 * (1 + doc_id % 4) AS w,
        |        8 * (1 + (doc_id * 3) % 4) AS h
        |        FROM documents WHERE doc_id % 4 = 1) d,
        |    range(4) by(by), range(4) bx(bx)
        |  WHERE by.by < d.h // 8 AND bx.bx < d.w // 8),
        |wav AS (SELECT d.doc_id,
        |  ((d.doc_id % 251) * 7 + 11 * i.i) % 65536 // 4096 AS bin
        |  FROM (SELECT doc_id, 100 + doc_id % 400 AS n
        |        FROM documents WHERE doc_id % 4 = 2) d,
        |    range(500) i(i) WHERE i.i < d.n),
        |avi AS (SELECT d.doc_id,
        |  (d.doc_id % 251 + 29 * f.f + 17 * by.by + 23 * bx.bx) % 256 // 16
        |    AS bin, 64 AS cnt
        |  FROM (SELECT doc_id, 3 + doc_id % 5 AS n, 8 * (1 + doc_id % 3) AS w,
        |        8 * (1 + (doc_id * 2) % 3) AS h
        |        FROM documents WHERE doc_id % 4 = 3) d,
        |    range(8) f(f), range(3) by(by), range(3) bx(bx)
        |  WHERE f.f < d.n AND by.by < d.h // 8 AND bx.bx < d.w // 8),
        |u AS (SELECT doc_id, bin, 1 AS cnt FROM png
        |  UNION ALL SELECT doc_id, bin, cnt FROM jpg
        |  UNION ALL SELECT doc_id, bin, 1 FROM wav
        |  UNION ALL SELECT doc_id, bin, cnt FROM avi)
        |SELECT doc_id, CAST(bin AS INT) AS bin, CAST(sum(cnt) AS BIGINT) AS cnt
        |FROM u GROUP BY doc_id, bin""".stripMargin

  /** REAL decoded-sample histograms over the full codec dispatch: one
    * mixed corpus (PNG / baseline JPEG / PCM WAV / MJPEG AVI by id % 4,
    * every payload carrying real content), every bin count restated by the
    * oracle from the generating arithmetic — the engine must inflate,
    * huffman-decode, sign-extend, and walk RIFF lists to match. */
  // Full-dispatch histogram replay: one branch per codec arm of the
  // id%4 mixed corpus, every per-bin count restated from the fixture
  // arithmetic (16 bins; images v//16, wav (s+32768)//4096).
  spec("q_pixel_hist", pixelHistSql) { (s, dir) =>
    Multimodal.pixelHistogram(
      Multimodal.synthesizeDecodablePayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload", nBins = 16)
  }

  /** Histogram-equalization LUT over the real decode dispatch
    * ([[graft.pipeline.Multimodal.histEqualization]] on the q_pixel_hist
    * table): per payload, the contrast-normalization map — exact
    * cumulative counts and the floor-division target level. */
  // Equalization replay: the histogram replay + per-doc prefix sums and
  // the same non-negative floor division.
  spec("q_hist_equalize", s"""WITH hh AS ($pixelHistSql),
         |t AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n FROM hh GROUP BY 1),
         |c AS (SELECT doc_id, bin, cnt,
         |  CAST(sum(cnt) OVER (PARTITION BY doc_id ORDER BY bin) AS BIGINT) AS cdf
         |  FROM hh)
         |SELECT c.doc_id, c.bin, c.cnt, c.cdf,
         |  CAST((15 * c.cdf) // t.n AS BIGINT) AS lut
         |FROM c JOIN t USING (doc_id)""".stripMargin) { (s, dir) =>
    Multimodal.histEqualization(
      Multimodal.pixelHistogram(
        Multimodal.synthesizeDecodablePayload(docIdsSpread(s, dir), "doc_id"),
        "doc_id", "payload", nBins = 16),
      "doc_id", nBins = 16)
  }

  /** REAL image resize end to end: decode (PNG or JPEG) → nearest-neighbor
    * resample to 16×16 → re-encode as a genuine PNG → decode THAT back
    * through [[graft.pipeline.Multimodal.pngPixelStats]]. The oracle
    * restates every resized pixel from the source arithmetic and the
    * nearest-neighbor index map; non-image payloads pass through and fall
    * out of the PNG stats, by construction. */
  // Real-resize replay: nearest-neighbor index map sy = y·srcH//16,
  // sx = x·srcW//16 over the two image arms of the mixed corpus (PNG
  // pixel arithmetic; JPEG = flat-block constant at (sy//8, sx//8)).
  // WAV/AVI arms pass through un-resized and fall out of the PNG stats.
  spec("q_resize_real", """WITH p0 AS (SELECT d.doc_id, d.nch,
        |  (d.doc_id % 251 + 5 * (y.y * d.h // 16) + 3 * (x.x * d.w // 16)
        |    + 11 * ch.ch) % 256 AS v
        |  FROM (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id * 3) % 24 AS h,
        |        CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END AS nch
        |        FROM documents WHERE doc_id % 4 = 0) d,
        |    range(16) y(y), range(16) x(x), range(3) ch(ch)
        |  WHERE ch.ch < d.nch),
        |p1 AS (SELECT d.doc_id, 1 AS nch,
        |  (d.doc_id % 251 + 17 * (y.y * d.h // 16 // 8)
        |    + 23 * (x.x * d.w // 16 // 8)) % 256 AS v
        |  FROM (SELECT doc_id, 8 * (1 + doc_id % 4) AS w,
        |        8 * (1 + (doc_id * 3) % 4) AS h
        |        FROM documents WHERE doc_id % 4 = 1) d,
        |    range(16) y(y), range(16) x(x)),
        |u AS (SELECT doc_id, nch, v FROM p0
        |  UNION ALL SELECT doc_id, nch, v FROM p1)
        |SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |  CAST(nch AS INT) AS channels, count(*) AS n_samples,
        |  CAST(sum(v) AS BIGINT) AS sample_sum,
        |  CAST(sum(v) AS DOUBLE) / count(*) AS mean_sample
        |FROM u GROUP BY doc_id, nch""".stripMargin) { (s, dir) =>
    val pay = Multimodal.synthesizeDecodablePayload(
      docIdsSpread(s, dir),
      "doc_id")
    val meta = Multimodal.withMediaMeta(pay, "payload")
    val resized = Multimodal.resizeImages(meta, "doc_id", "payload",
      "media_meta", targetW = 16, targetH = 16)
    Multimodal.pngPixelStats(resized, "doc_id", "payload")
  }

  private lazy val imageArmsSql: String = "WITH " + imageArmsCtes("", "")

  private lazy val imageDhashSql: String =
    s"$imageArmsSql,\n${imageDhashCtes("", "imgs")}"

  /** Perceptual dHash over REAL decoded pixels
    * ([[graft.pipeline.Multimodal.imageDHash]]) for the image arms of the
    * mixed decodable corpus — WAV/AVI payloads fall out of decodeImage by
    * contract. */
  private def qImageDhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageDHash(
      Multimodal.synthesizeDecodablePayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")

  // dHash replay: grayscale + NN-to-9×8 restated from the generating
  // pixel arithmetic (integer channel mean; sy = y·h//8, sx = x·w//9 —
  // the resize operator's index map), bits accumulated into the same
  // unsigned 32-bit halves and 16-bit bands via exact integer shifts.
  spec("q_image_dhash", (imageDhashSql + "\nSELECT * FROM acc"))(qImageDhash)

  /** pHash replay: the same 32x32 NN-resized gray raster, the same
    * fixed-point DCT basis (embedded verbatim from Multimodal.PhashCos —
    * shared integers, never re-derived floats), two list-lambda passes,
    * exact 32nd-smallest median, bits packed like the engine. */
  private lazy val imagePhashSql: String = {
    val ct = graft.pipeline.Multimodal.PhashCos.mkString("[", ", ", "]")
    s"""$imageArmsSql,
       |gx AS (SELECT doc_id, list(g ORDER BY k) AS xs FROM (
       |  SELECT doc_id, k.k AS k,
       |    CAST((${imageGraySql("(k.k // 32) * h // 32", "(k.k % 32) * w // 32")})
       |      AS BIGINT) AS g
       |  FROM imgs, range(1024) k(k)) GROUP BY doc_id),
       |tt AS (SELECT doc_id, list_transform(range(256), kk ->
       |    list_sum(list_transform(range(32), yy ->
       |      xs[yy * 32 + (kk % 32) + 1] * $ct[(kk // 32) * 32 + yy + 1])))
       |    AS t
       |  FROM gx),
       |ff AS (SELECT doc_id, list_transform(range(64), kk ->
       |    list_sum(list_transform(range(32), xx ->
       |      t[(kk // 8) * 32 + xx + 1] * $ct[(kk % 8) * 32 + xx + 1])))
       |    AS f
       |  FROM tt),
       |md AS (SELECT doc_id, f, list_sort(f[2:64])[32] AS med FROM ff),
       |pb AS (SELECT doc_id, k.k AS k,
       |  CASE WHEN f[k.k + 2] > med THEN 1 ELSE 0 END AS b
       |  FROM md, range(63) k(k))
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN k >= 32 THEN b * (CAST(1 AS BIGINT) << (k - 32))
       |    ELSE 0 END) AS BIGINT) AS phash_hi,
       |  CAST(sum(CASE WHEN k < 32 THEN b * (CAST(1 AS BIGINT) << k)
       |    ELSE 0 END) AS BIGINT) AS phash_lo
       |FROM pb GROUP BY doc_id""".stripMargin
  }

  /** Perceptual DCT hash (pHash) over the same decodable payload set —
    * the blur-robust companion to q_image_dhash, exercising the
    * fixed-point 32-point DCT and exact median selection. */
  spec("q_image_phash", imagePhashSql) { (s, dir) =>
    Multimodal.imagePHash(
      Multimodal.synthesizeDecodablePayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }

  /** aHash replay shared by the batch query and its stateless streaming
    * twin: 8x8 NN gray, integer mean (floor), strict threshold, the
    * dHash bit-packing convention. */
  private lazy val imageAhashSql: String =
    s"""$imageArmsSql,
       |px AS (SELECT doc_id, y.y AS y, x.x AS x,
       |  CAST((${imageGraySql("y.y * h // 8", "x.x * w // 8")}) AS BIGINT) AS g
       |  FROM imgs, range(8) y(y), range(8) x(x)),
       |mn AS (SELECT doc_id, CAST(sum(g) // 64 AS BIGINT) AS m
       |  FROM px GROUP BY doc_id),
       |bits AS (SELECT px.doc_id, y, x,
       |  CASE WHEN g > m THEN 1 ELSE 0 END AS b
       |  FROM px JOIN mn USING (doc_id))
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN y * 8 + x >= 32
       |    THEN b * (CAST(1 AS BIGINT) << (y * 8 + x - 32))
       |    ELSE 0 END) AS BIGINT) AS ahash_hi,
       |  CAST(sum(CASE WHEN y * 8 + x < 32
       |    THEN b * (CAST(1 AS BIGINT) << (y * 8 + x))
       |    ELSE 0 END) AS BIGINT) AS ahash_lo
       |FROM bits GROUP BY doc_id""".stripMargin

  /** Perceptual average hash (aHash) over the same decodable payload set
    * — the triad's cheapest member ([[graft.pipeline.Multimodal
    * .imageAHash]]): 8×8 integer-mean threshold, brightness-shift
    * invariant by construction. */
  // aHash replay: same 8x8 NN gray raster, integer mean (floor), strict
  // threshold, dHash bit-packing convention
  spec("q_image_ahash", imageAhashSql) { (s, dir) =>
    Multimodal.imageAHash(
      Multimodal.synthesizeDecodablePayload(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }

  /** Streaming twin of q_image_dhash — the first streaming DECODE
    * operator: synthesize + decode + hash are all stateless per-row
    * mapPartitions, so any micro-batch slicing gives identical
    * signatures and an ingest stream can be pixel-fingerprinted before
    * it ever lands. Shares q_image_dhash's oracle verbatim. */
  // the streaming twin emits identical per-doc signatures
  spec("q_stream_dhash", (imageDhashSql + "\nSELECT * FROM acc")) { (s0, dir) =>
    val s = streamSession(s0)
    val out = Multimodal.imageDHash(
      Multimodal.synthesizeDecodablePayload(
        docsStream(s, dir).select(col("doc_id")), "doc_id"),
      "doc_id", "payload")
    runStream(s, out)
  }

  /** Streaming aHash — stateless decode gate like q_stream_dhash:
    * synthesize + decode + hash are per-row, so any micro-batching gives
    * identical signatures; shares q_image_ahash's oracle verbatim. */
  // streaming aHash: stateless decode gate, shares the batch replay
  spec("q_stream_ahash", imageAhashSql) { (s0, dir) =>
    val s = streamSession(s0)
    val out = Multimodal.imageAHash(
      Multimodal.synthesizeDecodablePayload(
        docsStream(s, dir).select(col("doc_id")), "doc_id"),
      "doc_id", "payload")
    runStream(s, out)
  }

  /** Banded near-dup join over the dHash signatures — pixel-space LSH
    * dedup with exact Hamming verification at radius 3. */
  // near-dup replay: distinct signatures → min-id representative →
  // band-bucket join → exact popcount Hamming at radius 3, DISTINCT
  // over the same five output columns the engine deduplicates on.
  spec("q_image_neardup", (imageDhashSql +
      """,
        |sig AS (SELECT dhash_hi, dhash_lo, band0, band1, band2, band3,
        |  min(doc_id) AS rep_id, count(*) AS n_docs
        |  FROM acc GROUP BY 1, 2, 3, 4, 5, 6),
        |bands AS (SELECT s.*, t.band_idx,
        |  CASE t.band_idx WHEN 0 THEN band0 WHEN 1 THEN band1
        |    WHEN 2 THEN band2 ELSE band3 END AS band_val
        |  FROM sig s, range(4) t(band_idx))
        |SELECT DISTINCT a.rep_id AS doc_a, b.rep_id AS doc_b,
        |  a.n_docs AS n_docs_a, b.n_docs AS n_docs_b,
        |  CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
        |    + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS INT) AS hamming
        |FROM bands a JOIN bands b
        |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        |  AND a.rep_id < b.rep_id
        |WHERE bit_count(xor(a.dhash_hi, b.dhash_hi))
        |  + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 3""".stripMargin)) { (s, dir) =>
    Multimodal.dhashNearDupPairs(qImageDhash(s, dir), "doc_id",
      maxHamming = 3)
  }

  /** Decoder drop-rate report over a corpus that exercises every coverage
    * class: decodable media, header-only containers (including MP4, whose
    * sample decode the engine deliberately lacks), and non-media bytes.
    * The oracle restates the (format, status) counts from the id-derived
    * synthesis plan. */
  // Coverage replay: the (format, status) of every id%9 class is known
  // by construction — decodable media (incl. progressive JPEG) decode,
  // header-only shells parse but don't decode, non-media bytes drop.
  spec("q_media_coverage", """WITH c AS (SELECT doc_id,
        |  CASE doc_id % 10 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    WHEN 2 THEN 'wav' WHEN 3 THEN 'avi' WHEN 4 THEN 'jpeg'
        |    WHEN 5 THEN 'mp4' WHEN 6 THEN 'png' WHEN 7 THEN 'jpeg'
        |    WHEN 8 THEN 'mp4' ELSE 'unknown' END AS format,
        |  CASE WHEN doc_id % 10 IN (0, 1, 2, 3, 4, 5) THEN 'decoded'
        |       WHEN doc_id % 10 = 9 THEN 'dropped'
        |       ELSE 'header_only' END AS status
        |  FROM documents)
        |SELECT format, status, count(*) AS n_docs
        |FROM c GROUP BY format, status""".stripMargin) { (s, dir) =>
    Multimodal.mediaCoverage(
      Multimodal.synthesizeCoverageCorpus(docIdsSpread(s, dir), "doc_id"),
      "doc_id", "payload")
  }
}

package graft

import graft.pipeline.{Dedup, Hashing, Profile, Similarity, TextAnalysis}

/** DuckDB oracle SQL, one entry per SQL-expressible query in
  * [[SparkEntry.queries]]. Each statement is written to be *value-identical*
  * to the Spark query: float aggregations run on exact integer-scaled inputs
  * (order-independent sums), scalar float expressions replicate the Spark
  * operation order, timestamps compare as integer epoch-µs.
  * Rows-only queries (hash/FFT/LSH internals not expressible in DuckDB) are
  * intentionally absent.
  */
object OracleSql {

  private val norm =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** Spectrogram replay shared by q_audio_spectrogram and
    * q_audio_descriptors: synthesized WAV samples, per-64-sample-frame
    * O(n²) DFT, the q_fourier +0.25-bias quantization at a 256-unit
    * quantum, 8 bands × 8 two-sided bins of exact integer energies.
    * Ends at CTE `be(doc_id, frame_idx, band, band_energy_q)`. */
  private val audioSpectroCte: String =
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

  /** Winnowing replay (k=16, w=4 — k chosen by measurement: the
    * synthetic corpus has a tiny word vocabulary, so k=5 grams collapse
    * to ~1000 distinct fingerprints corpus-wide and the min-hash
    * selection marks them all boilerplate; k=16 grams span 2-3 words
    * and the distinct-fp count grows with the corpus, 25k at sf0.01)
    * shared by q_winnow / q_winnow_pairs / q_stream_winnow. The k-gram
    * polyHash replays as a Horner list_reduce INSIDE list_transform —
    * safe from the r12 nested-list_reduce hazard because the inner list
    * length is the constant k; the window rightmost-min is a least +
    * CASE chain; consecutive-dedup uses lag() over the window index
    * (deterministic — j is a total order per doc). Short docs
    * (1 <= m < 4) take one top-level list_reduce over fixed-length
    * [hash, pos] pairs. Ends at CTE `fps(doc_id, pos, fp)`. */
  private val winnowCte: String = {
    val k = 16
    s"""WITH d AS (SELECT doc_id, $norm AS nt FROM documents),
       |g AS (SELECT doc_id, nt, greatest(length(nt) - ${k - 1}, 0) AS m
       |  FROM d),
       |hh AS (SELECT doc_id, m, list_transform(generate_series(1, m),
       |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(generate_series(0, ${k - 1}),
       |          t -> CAST(ascii(substr(nt, i + t, 1)) AS BIGINT))),
       |      (acc, c) -> (acc * 131 + c) % 1000000007)) AS hs
       |  FROM g WHERE m >= 1),
       |wsel AS (SELECT doc_id, hs, j,
       |    least(hs[j+1], hs[j+2], hs[j+3], hs[j+4]) AS mv
       |  FROM hh, unnest(generate_series(0, m - 4)) AS t(j) WHERE m >= 4),
       |wpos AS (SELECT doc_id, hs, j,
       |    CASE WHEN hs[j+4] = mv THEN j+4 WHEN hs[j+3] = mv THEN j+3
       |         WHEN hs[j+2] = mv THEN j+2 ELSE j+1 END AS pos
       |  FROM wsel),
       |wkeep AS (SELECT doc_id, hs, pos FROM (
       |    SELECT doc_id, hs, pos,
       |      lag(pos) OVER (PARTITION BY doc_id ORDER BY j) AS prev
       |    FROM wpos) WHERE prev IS NULL OR prev <> pos),
       |spos AS (SELECT doc_id, hs, list_reduce(
       |    list_prepend([CAST(9223372036854775807 AS BIGINT),
       |                  CAST(0 AS BIGINT)],
       |      list_transform(generate_series(1, m),
       |        i -> [hs[i], CAST(i AS BIGINT)])),
       |    (acc, x) -> CASE WHEN x[1] <= acc[1] THEN x ELSE acc END)[2]
       |    AS pos
       |  FROM hh WHERE m < 4),
       |fps AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |    hs[CAST(pos AS INT)] AS fp
       |  FROM (SELECT doc_id, hs, pos FROM wkeep
       |        UNION ALL SELECT doc_id, hs, pos FROM spos))""".stripMargin
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

  private val imageArmsSql: String = "WITH " + imageArmsCtes("", "")

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

  private val imageDhashSql: String =
    s"$imageArmsSql,\n${imageDhashCtes("", "imgs")}"

  /** pHash replay: the same 32x32 NN-resized gray raster, the same
    * fixed-point DCT basis (embedded verbatim from Multimodal.PhashCos —
    * shared integers, never re-derived floats), two list-lambda passes,
    * exact 32nd-smallest median, bits packed like the engine. */
  private val imagePhashSql: String = {
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

  /** aHash replay shared by the batch query and its stateless streaming
    * twin: 8x8 NN gray, integer mean (floor), strict threshold, the
    * dHash bit-packing convention. */
  private val imageAhashSql: String =
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

  /** 256 width-2 bins over [0, 512) per event_type, p50/90/99 as first
    * cumulative-rank bin upper edges — shared by q_hist_quantile and
    * q_stream_hist (both reconstruct the identical histogram). */
  private val histQuantileSql =
    """WITH h AS (SELECT event_type,
      |    least(255, greatest(0, CAST(floor((value - 0.0) / 2.0) AS BIGINT))) AS bin,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |c AS (SELECT event_type, bin,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM h),
      |p AS (SELECT event_type, q, bin, n
      |  FROM c CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS q)
      |  WHERE cum >= CAST(ceil(q * n) AS BIGINT))
      |SELECT event_type, q, min(bin) AS bin, max(n) AS n,
      |  0.0 + CAST(min(bin) + 1 AS DOUBLE) * 2.0 AS q_est
      |FROM p GROUP BY event_type, q""".stripMargin

  /** occurrences of a marker in padded lowercase text */
  // multi-query BM25 replay - shared by q_bm25_multi (one-pass) and
  /** makeDisjoint replay shared by the batch query and its streaming
    * latest-rev-snapshot twin: boundary grid, per-segment winner under
    * the kernel's full max(struct(start, end, value)) total order,
    * adjacent equal-value coalesce. */
  private val intervalsDisjointSql: String =
    """WITH iv AS (SELECT user_id, ts AS s, ts + INTERVAL 2 HOUR AS e, value FROM events),
      |b AS (SELECT user_id, s AS p FROM iv UNION SELECT user_id, e AS p FROM iv),
      |seg AS (SELECT user_id, p, lead(p) OVER (PARTITION BY user_id ORDER BY p) AS p2 FROM b),
      |sg AS (SELECT user_id, p, p2 FROM seg WHERE p2 IS NOT NULL),
      |m AS (SELECT g.user_id, g.p, g.p2,
      |  (max({'s': i.s, 'e': i.e, 'v': i.value})).v AS value
      |  FROM sg g JOIN iv i ON g.user_id = i.user_id AND g.p < i.e AND g.p2 > i.s
      |  GROUP BY g.user_id, g.p, g.p2),
      |fl AS (SELECT *, CASE WHEN p IS NOT DISTINCT FROM lag(p2) OVER w
      |    AND value IS NOT DISTINCT FROM lag(value) OVER w THEN 0 ELSE 1 END AS brk
      |  FROM m WINDOW w AS (PARTITION BY user_id ORDER BY p)),
      |g2 AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY p
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM fl)
      |SELECT user_id, epoch_us(min(p)) AS start_us, epoch_us(max(p2)) AS end_us,
      |  max(value) AS value
      |FROM g2 GROUP BY user_id, grp""".stripMargin

  /** Two-metric makeDisjoint replay (q_stream_intervals2): per-metric
    * winners resolved INDEPENDENTLY — the kernel's FULL
    * max(struct(start, end, value)) total order over each metric's
    * non-null carriers (DuckDB struct max is the same lexicographic
    * compare, so the replay no longer leans on the per-user-unique-ts
    * fixture premise) — and the coalesce break tests BOTH values
    * null-safely. */
  private val intervalsDisjoint2Sql: String =
    """WITH iv AS (SELECT user_id, ts AS s, ts + INTERVAL 2 HOUR AS e,
      |  CASE WHEN event_id % 5 <> 0 THEN value END AS v1,
      |  CASE WHEN event_id % 3 <> 0 THEN CAST(event_id % 100 AS DOUBLE) END AS v2
      |  FROM events),
      |b AS (SELECT user_id, s AS p FROM iv UNION SELECT user_id, e AS p FROM iv),
      |seg AS (SELECT user_id, p, lead(p) OVER (PARTITION BY user_id ORDER BY p) AS p2 FROM b),
      |sg AS (SELECT user_id, p, p2 FROM seg WHERE p2 IS NOT NULL),
      |m AS (SELECT g.user_id, g.p, g.p2,
      |  (max({'s': i.s, 'e': i.e, 'v': i.v1}) FILTER (WHERE i.v1 IS NOT NULL)).v AS value,
      |  (max({'s': i.s, 'e': i.e, 'v': i.v2}) FILTER (WHERE i.v2 IS NOT NULL)).v AS score
      |  FROM sg g JOIN iv i ON g.user_id = i.user_id AND g.p < i.e AND g.p2 > i.s
      |  GROUP BY g.user_id, g.p, g.p2),
      |fl AS (SELECT *, CASE WHEN p IS NOT DISTINCT FROM lag(p2) OVER w
      |    AND value IS NOT DISTINCT FROM lag(value) OVER w
      |    AND score IS NOT DISTINCT FROM lag(score) OVER w THEN 0 ELSE 1 END AS brk
      |  FROM m WINDOW w AS (PARTITION BY user_id ORDER BY p)),
      |g2 AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY p
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM fl)
      |SELECT user_id, epoch_us(min(p)) AS start_us, epoch_us(max(p2)) AS end_us,
      |  max(value) AS value, max(score) AS score
      |FROM g2 GROUP BY user_id, grp""".stripMargin

  // q_bm25_indexed (postings-index path): the index form is an exact
  // integer identity of the one-pass stats, so one oracle covers both
  private val bm25MultiSql: String = {
      val qvals = SparkEntry.Bm25Queries
        .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
        .mkString(", ")
      val k = 10
      val avgdl = "(CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))"
      val idf = "ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))"
      val contrib =
        s"($idf * (tf * 2.2)) / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / $avgdl))"
      s"""WITH q(query_id, term) AS (SELECT * FROM (VALUES $qvals)),
         |d AS (SELECT doc_id, $norm AS nrm FROM documents),
         |tok AS (SELECT doc_id, len(string_split(nrm, ' ')) AS dl,
         |  unnest(string_split(nrm, ' ')) AS term FROM d),
         |qt AS (SELECT * FROM tok WHERE term IN (SELECT DISTINCT term FROM q)),
         |tf AS (SELECT doc_id, term, max(dl) AS dl, count(*) AS tf
         |  FROM qt GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |stats AS (SELECT count(*) AS n,
         |  CAST(sum(len(string_split(nrm, ' '))) AS BIGINT) AS tot FROM d),
         |ct AS (SELECT tf.doc_id, tf.term,
         |  CAST(floor(($contrib) * 1000000.0 + 0.5) AS BIGINT) AS cs
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
         |sc AS (SELECT q.query_id, ct.doc_id, sum(ct.cs) AS s
         |  FROM ct JOIN q USING (term) GROUP BY q.query_id, ct.doc_id),
         |r AS (SELECT query_id, doc_id,
         |  floor((CAST(s AS DOUBLE) / 1000000.0) * 10000.0 + 0.5) / 10000.0 AS score
         |  FROM sc),
         |t AS (SELECT query_id, doc_id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk FROM r)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |  CAST(rnk AS BIGINT) AS "rank", score FROM t WHERE rnk <= $k""".stripMargin
    }

  /** TF-IDF replay over the same query batch: log-tf · smooth-idf, same
    * micro-unit quantization + fixed rounding as the BM25 tail. */
  private val tfidfSql: String = {
    val qvals = SparkEntry.Bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")
    val contrib = "((1.0 + ln(CAST(tf AS DOUBLE))) * ln(1.0 + CAST(n AS DOUBLE) / df))"
    s"""WITH q(query_id, term) AS (SELECT * FROM (VALUES $qvals)),
       |d AS (SELECT doc_id, $norm AS nrm FROM documents),
       |tok AS (SELECT doc_id, unnest(string_split(nrm, ' ')) AS term FROM d),
       |qt AS (SELECT * FROM tok WHERE term IN (SELECT DISTINCT term FROM q)),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM qt GROUP BY doc_id, term),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |stats AS (SELECT count(*) AS n FROM d),
       |ct AS (SELECT tf.doc_id, tf.term,
       |  CAST(floor(($contrib) * 1000000.0 + 0.5) AS BIGINT) AS cs
       |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
       |sc AS (SELECT q.query_id, ct.doc_id, sum(ct.cs) AS s
       |  FROM ct JOIN q USING (term) GROUP BY q.query_id, ct.doc_id),
       |r AS (SELECT query_id, doc_id,
       |  floor((CAST(s AS DOUBLE) / 1000000.0) * 10000.0 + 0.5) / 10000.0 AS score
       |  FROM sc),
       |t AS (SELECT query_id, doc_id, score, row_number() OVER (
       |  PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk FROM r)
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       |  CAST(rnk AS BIGINT) AS "rank", score FROM t WHERE rnk <= 10""".stripMargin
  }

  /** SQ8 replay: per-dimension bounds, 0..255 codes, integer squared-L2. */
  private val annSq8Sql: String = {
    val dim = 64
    val bounds = (1 to dim)
      .map(i => s"min(v[$i]) AS mn$i, max(v[$i]) AS mx$i").mkString(", ")
    val codes = (1 to dim).map { i =>
      s"CASE WHEN mx$i > mn$i THEN least(255, greatest(0, " +
        s"floor((v[$i] - mn$i) / (mx$i - mn$i) * 255.0 + 0.5))) " +
        s"ELSE 0 END AS c$i"
    }.mkString(",\n  ")
    val dist = (1 to dim)
      .map(i => s"(q.c$i - c.c$i) * (q.c$i - c.c$i)").mkString(" + ")
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |b AS (SELECT $bounds FROM e),
       |coded AS (SELECT vec_id,
       |  $codes
       |  FROM e CROSS JOIN b),
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  CAST($dist AS BIGINT) AS code_dist
       |  FROM coded q JOIN coded c
       |    ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY code_dist, neighbor_id) AS rnk FROM p)
       |SELECT query_id, CAST(rnk AS BIGINT) AS "rank", neighbor_id,
       |  code_dist FROM r WHERE rnk <= 3""".stripMargin
  }

  private def occ(hay: String, needle: String): String = {
    val n = needle.replace("'", "''")
    s"CAST((length($hay) - length(replace($hay, '$n', ''))) / ${needle.length} AS BIGINT)"
  }

  private def langScore(markers: Seq[String]): String =
    markers.map(m => occ("t", m)).mkString(" + ")

  private val asofBase =
    """FROM (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click') l
      |ASOF %s JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
      |ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin

  private val interpCommon =
    """WITH agg AS (
      |  SELECT user_id, date_trunc('hour', ts) AS h, avg(round(value * 100)) AS v
      |  FROM events GROUP BY 1, 2),
      |nx AS (SELECT user_id, h, v, lead(h) OVER (PARTITION BY user_id ORDER BY h) AS nh FROM agg),
      |spine AS (SELECT user_id, h, v,
      |  unnest(generate_series(h, CASE WHEN nh IS NULL THEN h ELSE nh - INTERVAL 1 HOUR END,
      |                         INTERVAL 1 HOUR)) AS t FROM nx),
      |vals AS (SELECT user_id, t, CASE WHEN t = h THEN v END AS v,
      |  (t <> h) AS is_ts_interpolated FROM spine),
      |ctx AS (SELECT user_id, t, v, is_ts_interpolated,
      |  last_value(v IGNORE NULLS) OVER wa AS pv,
      |  last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER wa AS pt,
      |  last_value(v IGNORE NULLS) OVER wd AS nv,
      |  last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER wd AS nt
      |  FROM vals
      |  WINDOW wa AS (PARTITION BY user_id ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wd AS (PARTITION BY user_id ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id, epoch_us(t) AS ts_us, (%s) / 100.0 AS value,
      |  is_ts_interpolated, (v IS NULL) AS is_interpolated_value
      |FROM ctx""".stripMargin

  // moments cast to double BEFORE any product — mirrors Stats.momentStddev
  // exactly so neither engine can BIGINT-overflow on s1*s1 at large |Σx|
  private val momentSd =
    "CASE WHEN cnt > 1 THEN sqrt((CAST(cnt AS DOUBLE) * CAST(s2 AS DOUBLE) " +
      "- CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) " +
      "/ (CAST(cnt AS DOUBLE) * (CAST(cnt AS DOUBLE) - 1.0))) END"

  /** MinHash-LSH candidate CTE chain (shingle → polyhash → signature →
    * band hashes → sub-bucketed self-join), ending with CTE
    * `pairs(doc_id_a, doc_id_b)` — shared by every query that verifies the
    * same candidate set with a different metric. Same constants as
    * Dedup.minhashCandidates(shingleWidth=2, b=6, r=3, clamp=50);
    * oversized buckets split, not dropped. */
  private def minhashCandCtes: String = {
    val bands = 6; val rpb = 3; val k = bands * rpb; val clamp = 50
    val shingleExpr =
      "CASE WHEN len(toks) >= 2 THEN list_distinct(list_transform(" +
        "generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])) " +
        "ELSE [array_to_string(toks, ' ')] END"
    val sigList = (0 until k + 2)
      .map(s => s"list_min(list_transform(hs, h -> ${Hashing.mixSql("h", s)}))")
      .mkString("[", ",\n    ", "]")
    val xh = Hashing.foldHashesSql(Seq(s"sig[${k + 1}]", s"sig[${k + 2}]"))
    val bandSelects = (0 until bands).map { b =>
      val bh = Hashing.foldHashesSql((0 until rpb).map(i => s"sig[${b * rpb + i + 1}]"))
      s"SELECT doc_id, $xh AS xh, $b AS band, $bh AS bhash FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
       |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
       |shg AS (SELECT doc_id, $shingleExpr AS sh FROM t),
       |hsh AS (SELECT doc_id, list_transform(sh, x -> ${Hashing.polyHashSql("x")}) AS hs FROM shg),
       |sig AS (SELECT doc_id, $sigList AS sig FROM hsh),
       |banded AS (
       |  $bandSelects),
       |cnt AS (SELECT *, count(*) OVER (PARTITION BY band, bhash) AS m FROM banded),
       |sb AS (SELECT *, xh % greatest(1, CAST(ceil(m / $clamp.0) AS BIGINT)) AS s FROM cnt),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY band, bhash, s ORDER BY doc_id) AS r FROM sb),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
       |  FROM rk a JOIN rk b
       |  ON a.band = b.band AND a.bhash = b.bhash AND a.s = b.s
       |  AND a.doc_id < b.doc_id AND a.r <= $clamp)""".stripMargin
  }

  /** Threshold-crossing events (shared by the batch query and its
    * streaming twin). */
  private val thresholdCrossSql =
    """WITH w AS (SELECT user_id, ts, event_id, value,
      |  lag(value) OVER wd AS pv, lag(ts) OVER wd AS pts
      |  FROM events WINDOW wd AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, epoch_us(ts) AS ts_us, epoch_us(pts) AS prev_ts_us,
      |  pv AS prev_value, value,
      |  CASE WHEN pv < 50.0 AND value >= 50.0 THEN 'up'
      |       ELSE 'down' END AS direction
      |FROM w WHERE pv IS NOT NULL AND
      |  ((pv < 50.0 AND value >= 50.0) OR (pv >= 50.0 AND value < 50.0))""".stripMargin

  /** Stochastic %K/%D replay (shared by the batch query and its streaming
    * twin). */
  private val stochasticSql =
    """WITH t AS (
      |SELECT user_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS x
      |FROM events),
      |m AS (
      |SELECT user_id, ts_us, x,
      |min(x) OVER w AS ll, max(x) OVER w AS hh
      |FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
      |  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
      |k AS (
      |SELECT user_id, ts_us, x,
      |CASE WHEN hh <> ll THEN 100.0 * (x - ll) / (hh - ll) END AS pct_k
      |FROM m)
      |SELECT user_id, ts_us, x AS value, pct_k,
      |(lag(pct_k, 2) OVER (PARTITION BY user_id ORDER BY ts_us)
      | + lag(pct_k, 1) OVER (PARTITION BY user_id ORDER BY ts_us)
      | + pct_k) / 3.0 AS pct_d
      |FROM k""".stripMargin

  /** Donchian(20) channel replay (shared by the batch query and its
    * streaming twin). */
  private val donchianSql =
    """WITH t AS (
      |SELECT user_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS x
      |FROM events)
      |SELECT user_id, ts_us, x AS value,
      |max(x) OVER w AS dc_upper, min(x) OVER w AS dc_lower,
      |(max(x) OVER w + min(x) OVER w) / 2.0 AS dc_mid
      |FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
      |  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin

  /** 30-min session assignment + item extraction (shared by q_cooccur and
    * q_pagerank): the same gaps-and-islands CTE as q_session_stats, item =
    * the digit run of the props JSON. */
  private def basketCtes: String =
    """WITH l AS (SELECT user_id, ts, props, epoch_us(ts) AS ts_us,
      |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      |  FROM events),
      |a AS (SELECT user_id, props,
      |  CAST(sum(CASE WHEN prev IS NULL OR ts_us - prev > 1800000000
      |    THEN 1 ELSE 0 END)
      |  OVER (PARTITION BY user_id ORDER BY ts
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
      |    AS BIGINT) AS session_id
      |  FROM l),
      |bask AS (SELECT DISTINCT user_id, session_id,
      |  CAST(NULLIF(regexp_extract(props, '[0-9]+'), '') AS BIGINT) AS item
      |  FROM a)""".stripMargin

  /** Exact-integer PageRank replay: the 10 iterations unroll into chained
    * CTE pairs (inbound contribution sum, then rank refresh over the full
    * node set). */
  private def pagerankSql: String = {
    val scale = 1000000000000L
    val iters = (1 to 10).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
         |  CAST(sum(((r.rank * 85) // 100) // e.deg) AS BIGINT) AS s
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node GROUP BY 1),
         |r$i AS (SELECT nd.node,
         |  (SELECT base FROM bs) + coalesce(c.s, CAST(0 AS BIGINT)) AS rank
         |  FROM nodes nd LEFT JOIN c$i c ON nd.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""$basketCtes,
       |edges0 AS (SELECT DISTINCT x.item AS src, y.item AS dst
       |  FROM bask x JOIN bask y ON x.user_id = y.user_id
       |  AND x.session_id = y.session_id AND x.item <> y.item),
       |deg AS (SELECT src, count(*) AS deg FROM edges0 GROUP BY 1),
       |edges AS (SELECT e.src, e.dst, d.deg FROM edges0 e
       |  JOIN deg d ON e.src = d.src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges0
       |  UNION SELECT DISTINCT dst AS node FROM edges0),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |bs AS (SELECT (($scale * 15) // 100) // n AS base FROM nn),
       |r0 AS (SELECT node, $scale // (SELECT n FROM nn) AS rank FROM nodes),
       |$iters
       |SELECT node, rank FROM r10""".stripMargin
  }

  /** MACD triple-EMA recursion (shared by the batch query and its
    * streaming twin). */
  private val macdSql =
    """WITH RECURSIVE t AS (
      |SELECT user_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS x,
      |row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn FROM events),
      |r AS (
      |SELECT user_id, ts_us, x, rn, x AS f, x AS s, x - x AS sig
      |FROM t WHERE rn = 1
      |UNION ALL
      |SELECT t.user_id, t.ts_us, t.x, t.rn,
      |(2.0/13) * t.x + (1 - 2.0/13) * r.f AS f,
      |(2.0/27) * t.x + (1 - 2.0/27) * r.s AS s,
      |(2.0/10) * (((2.0/13) * t.x + (1 - 2.0/13) * r.f)
      |  - ((2.0/27) * t.x + (1 - 2.0/27) * r.s)) + (1 - 2.0/10) * r.sig AS sig
      |FROM r JOIN t ON t.user_id = r.user_id AND t.rn = r.rn + 1)
      |SELECT user_id, ts_us, x AS value, f - s AS macd_value,
      |sig AS macd_signal_value, (f - s) - sig AS macd_hist_value
      |FROM r""".stripMargin

  /** Wilder RSI recursion (shared by the batch query and its streaming
    * twin — same IEEE steps, same output columns). */
  private val rsiSql =
    """WITH RECURSIVE t AS (
      |SELECT user_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS x,
      |row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn FROM events),
      |d AS (
      |SELECT user_id, ts_us, x, rn,
      |x - lag(x) OVER (PARTITION BY user_id ORDER BY rn) AS dl FROM t),
      |r AS (
      |SELECT user_id, ts_us, x, rn,
      |greatest(dl, 0.0) AS ag, greatest(-dl, 0.0) AS al
      |FROM d WHERE rn = 2
      |UNION ALL
      |SELECT d.user_id, d.ts_us, d.x, d.rn,
      |(1.0/14) * greatest(d.dl, 0.0) + (1 - 1.0/14) * r.ag AS ag,
      |(1.0/14) * greatest(-d.dl, 0.0) + (1 - 1.0/14) * r.al AS al
      |FROM r JOIN d ON d.user_id = r.user_id AND d.rn = r.rn + 1)
      |SELECT user_id, ts_us, x AS value, CAST(NULL AS DOUBLE) AS rsi_value
      |FROM t WHERE rn = 1
      |UNION ALL
      |SELECT user_id, ts_us, x AS value,
      |CASE WHEN ag + al <> 0 THEN 100.0 * ag / (ag + al) END AS rsi_value
      |FROM r""".stripMargin

  /** EW mean/variance recursion (shared by the batch query and its
    * streaming twin). */
  private val ewmVarSql =
    """WITH RECURSIVE t AS (
      |SELECT user_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS x,
      |row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn FROM events),
      |r AS (
      |SELECT user_id, ts_us, x, rn, x AS m, CAST(0 AS DOUBLE) AS v
      |FROM t WHERE rn = 1
      |UNION ALL
      |SELECT t.user_id, t.ts_us, t.x, t.rn,
      |0.25 * t.x + (1 - 0.25) * r.m AS m,
      |(1 - 0.25) * r.v + 0.25 * (t.x - r.m) * (t.x - r.m) * (1 - 0.25) AS v
      |FROM r JOIN t ON t.user_id = r.user_id AND t.rn = r.rn + 1)
      |SELECT user_id, ts_us, x AS value, m AS ewm_mean_value,
      |v AS ewm_var_value FROM r""".stripMargin

  private val qv = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))"

  private lazy val dsirReplaySql: String = {
    val h = Hashing.mixSql(Hashing.polyHashSql("gram"), 23)
    s"""WITH t AS (SELECT doc_id, lang, string_split($norm, ' ') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id, lang, unnest(toks ||
       |  CASE WHEN len(toks) >= 2 THEN list_transform(
       |    generate_series(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i + 1])
       |  ELSE CAST([] AS VARCHAR[]) END) AS gram FROM t),
       |bk AS (SELECT doc_id, lang, ($h) % 4096 AS b FROM g),
       |ct AS (SELECT b, count(*) AS ct FROM bk WHERE lang = 'en' GROUP BY b),
       |cr AS (SELECT b, count(*) AS cr FROM bk GROUP BY b),
       |tot AS (SELECT (SELECT sum(ct) FROM ct) AS tt,
       |  (SELECT sum(cr) FROM cr) AS tr),
       |rt AS (SELECT cr.b,
       |  (1000 * ((1000000 * (COALESCE(ct.ct, 0) + 1)) // (tot.tt + 4096)))
       |    // greatest((1000000 * (cr.cr + 1)) // (tot.tr + 4096), 1)
       |    AS ratio_milli
       |  FROM cr LEFT JOIN ct USING (b), tot)
       |SELECT bk.doc_id, count(*) AS n_grams,
       |  CAST(sum(rt.ratio_milli) AS BIGINT) AS sum_ratio_milli,
       |  CAST(sum(rt.ratio_milli) AS DOUBLE) / count(*) AS dsir_weight
       |FROM bk JOIN rt USING (b) GROUP BY bk.doc_id""".stripMargin
  }

  private lazy val ivfReplaySql: String = {
    val d2 = "list_dot_product(a.q, a.q) - 2 * list_dot_product(a.q, c.cv) + " +
      "list_dot_product(c.cv, c.cv)"
    s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
       |cent AS (SELECT vec_id AS cell, q AS cv FROM q WHERE vec_id < 16),
       |ca AS (SELECT a.vec_id, a.q, c.cell, $d2 AS dist FROM q a CROSS JOIN cent c),
       |arg AS (SELECT vec_id, q, cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r FROM ca) t
       |  WHERE r = 1),
       |qp AS (SELECT vec_id, q, cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r
       |   FROM ca WHERE vec_id < 20) t
       |  WHERE r <= 4),
       |s AS (SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
       |  ${cosSql("p.q", "b.q")} AS cosine
       |  FROM qp p JOIN arg b ON p.cell = b.cell AND p.vec_id <> b.vec_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
       |  FROM s)
       |SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id, cosine
       |FROM r WHERE rn <= 3""".stripMargin
  }
  /** KMV distinct-token replay (rank over distinct hashes — the k-min
    * set is a pure function of the value set, so the batch build, the
    * streaming changelog fold, and this replay all agree). */
  private lazy val kmvReplaySql: String = {
    val h = Hashing.mixSql(Hashing.polyHashSql("tok"), 17)
    val scale = 255.0 * Hashing.P // exact integer-valued double
    s"""WITH t AS (SELECT source,
       |  unnest(string_split($norm, ' ')) AS tok FROM documents),
       |h AS (SELECT DISTINCT source, ($h) AS hh FROM t),
       |r AS (SELECT source, hh, row_number() OVER (PARTITION BY source
       |  ORDER BY hh) AS rn FROM h),
       |k AS (SELECT source, count(*) AS n_kept,
       |  CAST(max(hh) AS BIGINT) AS kth_hash
       |  FROM r WHERE rn <= 256 GROUP BY source)
       |SELECT source, n_kept, kth_hash,
       |  CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
       |       ELSE $scale / greatest(kth_hash, 1) END AS distinct_est
       |FROM k""".stripMargin
  }

  /** Wide-family KMV replay: CRT legs under both primes, mixed per leg,
    * packed as leg1·P2+leg2 — the same fold the engine runs. The scale
    * constant is the JVM's 255.0·PW double, embedded textually so DuckDB
    * uses the identical IEEE value (the q_pca_project discipline). */
  /** Wide HLL register file + estimate (60-bit words, m = 64, seed 29):
    * hh's two CRT legs computed directly (the kmvWideReplaySql spelling),
    * rho = 55 − bitlen(hh // 64) via the unrolled chain, harmonic sum in
    * exact BIGINT. */
  private lazy val hllWideReplaySql: String = {
    val a1 = Hashing.aCoef(29); val b1 = Hashing.bCoef(29)
    val a2 = Hashing.aCoef2(29); val b2 = Hashing.bCoef2(29)
    val bl = (54 to 1 by -1)
      .map(k => s"WHEN w >= ${1L << (k - 1)} THEN $k").mkString(" ")
    val r2 = 1L << 55
    s"""WITH t AS (SELECT source,
       |  unnest(string_split($norm, ' ')) AS tok FROM documents),
       |l AS (SELECT source, ${Hashing.polyHashSql("tok")} AS l1,
       |  ${Hashing.polyHash2Sql("tok")} AS l2 FROM t),
       |h AS (SELECT source,
       |  (l1 * $a1 + $b1) % ${Hashing.P} * ${Hashing.P2}
       |    + (l2 * $a2 + $b2) % ${Hashing.P2} AS hh FROM l),
       |b AS (SELECT source, hh % 64 AS bucket, hh // 64 AS w FROM h),
       |reg AS (SELECT source, bucket,
       |  max(55 - (CASE $bl ELSE 0 END)) AS register
       |  FROM b GROUP BY source, bucket),
       |g AS (SELECT source, count(*) AS n_set,
       |  CAST(sum((CAST(1 AS BIGINT) << (55 - register))) AS BIGINT) AS s_set
       |  FROM reg GROUP BY source)
       |SELECT source, 64 - n_set AS n_zero,
       |  s_set + (64 - n_set) * $r2 AS s_int,
       |  (709.0 * ${64.0 * 64.0 * r2}) /
       |    (1000.0 * CAST(s_set + (64 - n_set) * $r2 AS DOUBLE)) AS hll_est
       |FROM g""".stripMargin
  }

  private lazy val kmvWideReplaySql: String = {
    val a1 = Hashing.aCoef(17); val b1 = Hashing.bCoef(17)
    val a2 = Hashing.aCoef2(17); val b2 = Hashing.bCoef2(17)
    val scale = s"CAST('${(255.0 * Hashing.PW).toString}' AS DOUBLE)"
    s"""WITH t AS (SELECT source,
       |  unnest(string_split($norm, ' ')) AS tok FROM documents),
       |l AS (SELECT source, ${Hashing.polyHashSql("tok")} AS l1,
       |  ${Hashing.polyHash2Sql("tok")} AS l2 FROM t),
       |h AS (SELECT DISTINCT source,
       |  (l1 * $a1 + $b1) % ${Hashing.P} * ${Hashing.P2}
       |    + (l2 * $a2 + $b2) % ${Hashing.P2} AS hh FROM l),
       |r AS (SELECT source, hh, row_number() OVER (PARTITION BY source
       |  ORDER BY hh) AS rn FROM h),
       |k AS (SELECT source, count(*) AS n_kept,
       |  CAST(max(hh) AS BIGINT) AS kth_hash
       |  FROM r WHERE rn <= 256 GROUP BY source)
       |SELECT source, n_kept, kth_hash,
       |  CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
       |       ELSE $scale / greatest(kth_hash, 1) END AS distinct_est
       |FROM k""".stripMargin
  }

  /** Trailing-7-day KMV WAU replay — shared by the batch build and the
    * streaming changelog fold. */
  private lazy val wauKmvReplaySql: String = {
    val h = Hashing.mixSql(
      Hashing.polyHashSql("CAST(user_id AS VARCHAR)"), 17)
    val scale = 63.0 * Hashing.P
    s"""WITH d AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS b,
       |  ($h) AS h FROM events),
       |pb AS (SELECT b, h FROM (SELECT b, h,
       |  row_number() OVER (PARTITION BY b ORDER BY h) AS rn FROM d)
       |  WHERE rn <= 64),
       |sp AS (SELECT max(b) AS hi FROM pb),
       |m AS (SELECT DISTINCT pb.b + r AS bucket, h
       |  FROM pb, range(7) t(r), sp WHERE pb.b + r <= sp.hi),
       |f AS (SELECT bucket, h,
       |  row_number() OVER (PARTITION BY bucket ORDER BY h) AS rn FROM m),
       |k AS (SELECT bucket, count(*) AS n_kept,
       |  CAST(max(h) AS BIGINT) AS kth_hash
       |  FROM f WHERE rn <= 64 GROUP BY 1)
       |SELECT bucket, n_kept, kth_hash,
       |  CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
       |       ELSE $scale / greatest(kth_hash, 1) END AS distinct_est
       |FROM k""".stripMargin
  }

  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** Strict left-to-right squared-L2 replay of
    * [[graft.functions.L2SqDistance]]'s loop: per-element squares first,
    * then a sequential fold — the same IEEE op order, so doubles match. */
  private def l2sqSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(1, len($a)+1), i -> ($a[i]-$b[i])*($a[i]-$b[i]))), " +
      s"(acc, x) -> acc + x)"

  /** CTE chain replaying [[Similarity.trainIvfCodebook]]: hash-deterministic
    * seeding, then `iters` unrolled Lloyd iterations (argmin assignment with
    * ties to the lowest cell, per-(cell, dim) means, empty cells keep the
    * previous centroid). Ends with CTE `c$iters(cell, cv)`. */
  private def ivfTrainCtes(nlist: Int, iters: Int): String = {
    val seedHash = Hashing.mixSql(Hashing.polyHashSql("CAST(vec_id AS VARCHAR)"), 0)
    val sb = new StringBuilder
    sb ++= s"""q AS (SELECT vec_id, $qv AS q FROM embeddings),
       |h AS (SELECT vec_id, q, $seedHash AS h FROM q),
       |c0 AS (SELECT cell, q AS cv FROM (SELECT q, row_number()
       |  OVER (ORDER BY h, CAST(vec_id AS VARCHAR)) - 1 AS cell FROM h)
       |  WHERE cell < $nlist),
       |""".stripMargin
    for (k <- 1 to iters) {
      val prev = s"c${k - 1}"
      sb ++= s"""a$k AS (SELECT vec_id, q, cell FROM (
         |  SELECT h.vec_id, h.q, c.cell, row_number() OVER (
         |    PARTITION BY h.vec_id ORDER BY ${l2sqSql("h.q", "c.cv")}, c.cell) AS rk
         |  FROM q h, $prev c) WHERE rk = 1),
         |m$k AS (SELECT cell, pos, avg(x) AS m FROM (
         |  SELECT cell, unnest(q) AS x, unnest(range(1, len(q)+1)) AS pos FROM a$k)
         |  GROUP BY cell, pos),
         |c$k AS (SELECT c.cell AS cell, list(COALESCE(m.m, c.cv[c.p]) ORDER BY c.p) AS cv
         |  FROM (SELECT cell, cv, unnest(range(1, len(cv)+1)) AS p FROM $prev) c
         |  LEFT JOIN m$k m ON m.cell = c.cell AND m.pos = c.p
         |  GROUP BY c.cell),
         |""".stripMargin
    }
    sb.toString.stripSuffix(",\n")
  }

  /** sign-LSH bucket id from the shared integer plane matrix (dim 64) */
  private def lshBucketSql(vec: String, dim: Int, nBits: Int): String =
    (0 until nBits).map { p =>
      val plane = (0 until dim).map(i => s"${Similarity.planeComponent(p, i)}.0")
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($vec, $plane) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  /** CTE chain replaying [[Similarity.bucketEntries]] + the sub-bucket split
    * of [[Similarity.subBucketPairs]] over the quantized embeddings CTE `q`:
    * primary bucket = low `nBits` sign bits, sub-key xh = the next
    * [[Similarity.SubBucketBits]] bits, s = xh % ceil(m/clamp), r = id rank
    * within (bucket, s). Ends with CTE `rk`. */
  private def lshSubBucketSql(nBits: Int, clamp: Int): String = {
    val full = lshBucketSql("q", 64, nBits + Similarity.SubBucketBits)
    s"""bk AS (SELECT vec_id, q, ($full) % ${1L << nBits} AS bucket,
       |  ($full) // ${1L << nBits} AS xh FROM q),
       |cnt AS (SELECT *, count(*) OVER (PARTITION BY bucket) AS m FROM bk),
       |sb AS (SELECT *, xh % greatest(1, CAST(ceil(m / $clamp.0) AS BIGINT)) AS s FROM cnt),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY bucket, s ORDER BY vec_id) AS r FROM sb)""".stripMargin
  }

  /** CTE chain computing the 61-bit SimHash per doc, ending with
    * `sh(doc_id, simhash)` — shared by q_simhash and q_simhash_pairs. */
  private val simhashCte: String = {
    val nb = Dedup.SimhashBits
    val h = Hashing.combineSql(Hashing.mixSql("ph", 0), Hashing.mixSql("ph", 1))
    val bitSums = (0 until nb)
      .map(j => s"sum((h >> $j) & 1) AS b$j")
      .mkString(",\n  ")
    val packed = (0 until nb)
      .map(j => s"(CASE WHEN b$j * 2 > n THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
       |tok AS (SELECT doc_id, unnest(string_split(nrm, ' ')) AS t FROM d),
       |ph AS (SELECT doc_id, ${Hashing.polyHashSql("t")} AS ph FROM tok),
       |h AS (SELECT doc_id, $h AS h FROM ph),
       |bits AS (SELECT doc_id, count(*) AS n,
       |  $bitSums
       |  FROM h GROUP BY doc_id),
       |sh AS (SELECT doc_id, $packed AS simhash FROM bits)""".stripMargin
  }

  /** [[simhashCte]] extended with the banded near-dup pair replay of
    * [[Dedup.simhashPairs]] (maxHamming=3): ends with CTE
    * `spairs(doc_id_a, doc_id_b, hamming)` — shared by q_simhash_pairs and
    * the q_dedup_clusters component oracle. */
  private val simhashPairsCtes: String = {
    val d = 3; val b = d + 1; val clamp = 4096
    val nb = Dedup.SimhashBits
    val w = (nb + b - 1) / b
    val bandSelects = (0 until b).map { i =>
      val width = math.min(w, nb - i * w)
      s"SELECT doc_id, simhash, $i AS band, " +
        s"(simhash >> ${i * w}) & ${(1L << width) - 1} AS bval FROM sh"
    }.mkString("\n  UNION ALL\n  ")
    s"""$simhashCte,
       |banded AS (
       |  $bandSelects),
       |cnt AS (SELECT *, count(*) OVER (PARTITION BY band, bval) AS m FROM banded),
       |sb AS (SELECT *, simhash % greatest(1, CAST(ceil(m / $clamp.0) AS BIGINT)) AS s FROM cnt),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY band, bval, s ORDER BY doc_id) AS r FROM sb),
       |prs AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       |  a.simhash AS ha, b.simhash AS hb
       |  FROM rk a JOIN rk b ON a.band = b.band AND a.bval = b.bval AND a.s = b.s
       |  AND a.doc_id < b.doc_id AND a.r <= $clamp),
       |spairs AS (SELECT doc_id_a, doc_id_b,
       |  CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |  FROM prs WHERE bit_count(xor(ha, hb)) <= $d)""".stripMargin
  }

  /** Full DuckDB replay of [[Similarity.ivfPqTopK]] with the q_ann_ivfpq
    * parameter convention (coarse cells + PQ codes + ADC sum) — shared by
    * the batch query and its single-batch streaming twin. */
  private val ivfPqSql: String =
    s"""$ivfPqCtes
       |SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id, adc_dist
       |FROM r WHERE rn <= 3""".stripMargin

  /** The shared IVF-PQ CTE chain, ending at `r` = per-query ADC ranking
    * (also reused by the re-rank oracle, which reads a deeper shortlist). */
  private lazy val ivfPqCtes: String = {
    val d2 = "list_dot_product(a.q, a.q) - 2 * list_dot_product(a.q, c.cv) + " +
      "list_dot_product(c.cv, c.cv)"
    def sub(e: String, m: String) = s"list_slice($e, ($m)*16+1, ($m)*16+16)"
    val qs = sub("p.q", "cd.m")
    s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
       |cent AS (SELECT vec_id AS cell, q AS cv FROM q WHERE vec_id < 16),
       |scb AS (SELECT ms.m, cell AS j, ${sub("cv", "ms.m")} AS scv
       |  FROM cent, (SELECT unnest([0, 1, 2, 3]) AS m) ms),
       |ca AS (SELECT a.vec_id, a.q, c.cell, $d2 AS dist FROM q a CROSS JOIN cent c),
       |arg AS (SELECT vec_id, q, cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r FROM ca) t
       |  WHERE r = 1),
       |qp AS (SELECT vec_id, q, cell FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r
       |   FROM ca WHERE vec_id < 20) t
       |  WHERE r <= 4),
       |cdist AS (SELECT a.vec_id, s.m, s.j,
       |  list_dot_product(${sub("a.q", "s.m")}, ${sub("a.q", "s.m")})
       |  - 2 * list_dot_product(${sub("a.q", "s.m")}, s.scv)
       |  + list_dot_product(s.scv, s.scv) AS d
       |  FROM q a CROSS JOIN scb s),
       |codes AS (SELECT vec_id, m, j AS code FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS r
       |   FROM cdist) t WHERE r = 1),
       |s1 AS (SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
       |  sum(list_dot_product($qs, $qs) - 2 * list_dot_product($qs, sc.scv)
       |      + list_dot_product(sc.scv, sc.scv)) AS adc_dist
       |  FROM qp p JOIN arg b ON p.cell = b.cell AND p.vec_id <> b.vec_id
       |  JOIN codes cd ON cd.vec_id = b.vec_id
       |  JOIN scb sc ON sc.m = cd.m AND sc.j = cd.code
       |  GROUP BY p.vec_id, b.vec_id),
       |r AS (SELECT query_id, neighbor_id, adc_dist,
       |  row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
       |  FROM s1)""".stripMargin
  }

  /** Replay of [[Similarity.ivfPqTopKRerank]] (q_ann_rerank convention):
    * the ADC shortlist at rn <= k·refine = 9, re-ranked by exact cosine
    * over the true (quantized) vectors — same operand order as the Spark
    * side (`dot / (qn * cn)`), so the doubles match bit-for-bit. */
  private val ivfPqRerankSql: String =
    s"""$ivfPqCtes,
       |short AS (SELECT query_id, neighbor_id FROM r WHERE rn <= 9),
       |rr AS (SELECT s.query_id, s.neighbor_id,
       |  list_dot_product(a.q, b.q) /
       |    (sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))) AS cosine
       |  FROM short s JOIN q a ON a.vec_id = s.query_id
       |  JOIN q b ON b.vec_id = s.neighbor_id),
       |rk AS (SELECT query_id, neighbor_id, cosine,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
       |  FROM rr)
       |SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id, cosine
       |FROM rk WHERE rn <= 3""".stripMargin

  private val holtSql: String =
      """WITH RECURSIVE t AS (
        |SELECT user_id, epoch_us(ts) AS ts_us, value,
        |row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn FROM events),
        |r AS (
        |SELECT user_id, ts_us, value, rn,
        |CAST(value AS DOUBLE) AS holt_level_value,
        |CAST(0.0 AS DOUBLE) AS holt_trend_value
        |FROM t WHERE rn = 1
        |UNION ALL
        |SELECT t.user_id, t.ts_us, t.value, t.rn,
        |0.5 * t.value + 0.5 * (r.holt_level_value + r.holt_trend_value)
        |  AS holt_level_value,
        |0.25 * ((0.5 * t.value + 0.5 * (r.holt_level_value + r.holt_trend_value))
        |  - r.holt_level_value) + 0.75 * r.holt_trend_value AS holt_trend_value
        |FROM r JOIN t ON t.user_id = r.user_id AND t.rn = r.rn + 1)
        |SELECT user_id, ts_us, value, holt_level_value, holt_trend_value FROM r""".stripMargin

  /** Recursive-CTE replay of the exact additive Holt-Winters triple
    * recursion (α=0.5, β=0.25, γ=0.5, m=24) over hourly mean-cents bars:
    * the seasonal ring rides as a rotated LIST column (head = next factor
    * to consume, `sl[2:] || [s_new]` per step — the same representation
    * the Spark aggregate uses), the warm-up mean accumulates
    * left-to-right, and every level/trend/seasonal expression is
    * re-stated textually so both engines evaluate identical fixed-order
    * IEEE arithmetic. */
  private def holtWintersRec(sourceCtes: String): String = {
    val lvlNew = "(0.5 * (b.x - r.sl[1]) + 0.5 * (r.lvl + r.trd))"
    val sNew = s"(0.5 * (b.x - $lvlNew) + 0.5 * r.sl[1])"
    s"""WITH RECURSIVE $sourceCtes,
       |r AS (
       |SELECT user_id, ts_us, x, rn,
       |[x] AS wl, x AS ws,
       |CAST(NULL AS DOUBLE) AS lvl, CAST(NULL AS DOUBLE) AS trd,
       |CAST(NULL AS DOUBLE[]) AS sl, CAST(NULL AS DOUBLE) AS hw_seasonal
       |FROM b WHERE rn = 1
       |UNION ALL
       |SELECT b.user_id, b.ts_us, b.x, b.rn,
       |CASE WHEN b.rn < 24 THEN r.wl || [b.x] END AS wl,
       |CASE WHEN b.rn <= 24 THEN r.ws + b.x END AS ws,
       |CASE WHEN b.rn < 24 THEN CAST(NULL AS DOUBLE)
       |     WHEN b.rn = 24 THEN (r.ws + b.x) / 24.0
       |     ELSE $lvlNew END AS lvl,
       |CASE WHEN b.rn < 24 THEN CAST(NULL AS DOUBLE)
       |     WHEN b.rn = 24 THEN 0.0
       |     ELSE (0.25 * ($lvlNew - r.lvl) + 0.75 * r.trd) END AS trd,
       |CASE WHEN b.rn < 24 THEN CAST(NULL AS DOUBLE[])
       |     WHEN b.rn = 24 THEN list_transform(r.wl || [b.x],
       |       v -> v - (r.ws + b.x) / 24.0)
       |     ELSE r.sl[2:] || [$sNew] END AS sl,
       |CASE WHEN b.rn > 24 THEN $sNew END AS hw_seasonal
       |FROM r JOIN b ON b.user_id = r.user_id AND b.rn = r.rn + 1)
       |SELECT user_id, ts_us, x,
       |CASE WHEN rn > 24 THEN lvl END AS hw_level,
       |CASE WHEN rn > 24 THEN trd END AS hw_trend,
       |hw_seasonal FROM r""".stripMargin
  }

  private val holtWintersSql: String = holtWintersRec(
    """b0 AS (
      |SELECT user_id, date_trunc('hour', ts) AS h,
      |avg(round(value * 100)) AS x FROM events GROUP BY 1, 2),
      |b AS (SELECT user_id, epoch_us(h) AS ts_us, x,
      |row_number() OVER (PARTITION BY user_id ORDER BY h) AS rn
      |FROM b0)""".stripMargin)

  /** The same Holt-Winters recursion over the RAW per-user event series
    * (the streaming twin's input — no bar aggregation upstream of the
    * stateful operator). */
  private val holtWintersRawSql: String = holtWintersRec(
    """b AS (
      |SELECT user_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS x,
      |row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      |FROM events)""".stripMargin)

  /** Recursive-CTE replay of the exact Kalman predict/update double
    * recursion (q=0.25, r=4.0, p0=4.0), shared by the batch window query
    * and its single-batch streaming twin; per step pp = p+q,
    * k = pp/(pp+r), m += k*(y-m), p = (1-k)*pp. */
  private val kalmanSql: String = {
    val pp = "(r.kalman_var_value + 0.25)"
    val k = s"($pp / ($pp + 4.0))"
    s"""WITH RECURSIVE t AS (
       |SELECT user_id, epoch_us(ts) AS ts_us, value,
       |row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn FROM events),
       |r AS (
       |SELECT user_id, ts_us, value, rn,
       |CAST(value AS DOUBLE) AS kalman_level_value,
       |CAST(4.0 AS DOUBLE) AS kalman_var_value,
       |CAST(1.0 AS DOUBLE) AS kalman_gain_value
       |FROM t WHERE rn = 1
       |UNION ALL
       |SELECT t.user_id, t.ts_us, t.value, t.rn,
       |r.kalman_level_value + $k * (t.value - r.kalman_level_value)
       |  AS kalman_level_value,
       |(1.0 - $k) * $pp AS kalman_var_value,
       |$k AS kalman_gain_value
       |FROM r JOIN t ON t.user_id = r.user_id AND t.rn = r.rn + 1)
       |SELECT user_id, ts_us, value, kalman_level_value, kalman_var_value,
       |  kalman_gain_value FROM r""".stripMargin
  }

  /** Boundary-delta sweep for interval coverage algebra: running per-side
    * depths over sorted (+1/−1) boundary events, keep elementary segments
    * passing `keepCond`, coalesce adjacent survivors via an island sum. */
  private def intervalAlgebraSql(keepCond: String): String =
    s"""WITH a AS (SELECT user_id, epoch_us(ts) AS s,
       |  epoch_us(ts + INTERVAL 2 HOUR) AS e FROM events
       |  WHERE event_type = 'click'),
       |b AS (SELECT user_id, epoch_us(ts) AS s,
       |  epoch_us(ts + INTERVAL 2 HOUR) AS e FROM events
       |  WHERE event_type = 'purchase'),
       |ev AS (
       |  SELECT user_id, s AS t, CAST(1 AS BIGINT) AS da, CAST(0 AS BIGINT) AS db FROM a
       |  UNION ALL SELECT user_id, e, -1, 0 FROM a
       |  UNION ALL SELECT user_id, s, 0, 1 FROM b
       |  UNION ALL SELECT user_id, e, 0, -1 FROM b),
       |r AS (SELECT user_id, t,
       |  sum(da) OVER w AS deptha, sum(db) OVER w AS depthb,
       |  lead(t) OVER (PARTITION BY user_id ORDER BY t, da, db) AS nxt
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, da, db
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |k AS (SELECT user_id, t, nxt FROM r
       |  WHERE nxt > t AND $keepCond),
       |i AS (SELECT user_id, t, nxt,
       |  CASE WHEN t = lag(nxt) OVER (PARTITION BY user_id ORDER BY t)
       |    THEN 0 ELSE 1 END AS nw FROM k),
       |i2 AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY t
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM i)
       |SELECT user_id, min(t) AS start_us, max(nxt) AS end_us
       |FROM i2 GROUP BY user_id, isl""".stripMargin

  /** 5-row rolling median replay, shared by the batch window query and its
    * single-batch streaming twin. */
  private val rollMedSql: String =
    """WITH l AS (SELECT user_id, epoch_us(ts) AS ts_us, value,
      |  list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS fr
      |  FROM events)
      |SELECT user_id, ts_us, value,
      |  fr[CAST(greatest(1, CAST(ceil(len(fr) / 2.0) AS BIGINT)) AS BIGINT)]
      |    AS rolling_median_value
      |FROM l""".stripMargin

  /** Per-method ANN recall report: each approximate method's existing
    * oracle replay is nested as a subquery, LEFT-joined against the exact
    * brute-force top-3, and reduced to one (method, n_possible, n_hits,
    * recall@3) row — exact integer counts, one IEEE division. */
  private def annMethodsSql(m: Map[String, String]): String = {
    val methods = Seq(
      "lsh" -> "q_ann_lsh", "multiprobe" -> "q_ann_multiprobe",
      "ivf" -> "q_ann_ivf", "ivfpq" -> "q_ann_ivfpq",
      "ivfpq_res" -> "q_ann_ivfpq_res", "sq8" -> "q_ann_sq8",
      "rerank" -> "q_ann_rerank")
    val ex = m("q_ann_topk")
    methods.map { case (name, key) =>
      s"""SELECT '$name' AS method,
         |  CAST(count(*) AS BIGINT) AS n_possible,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*) AS recall_at_3
         |FROM ($ex) ex LEFT JOIN (${m(key)}) a
         |  ON a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** DTW replay: the identical nested fold — outer list_reduce over a's
    * elements carrying the previous DP row (init row prepended as the
    * accumulator seed), inner list_reduce rebuilding each row left to
    * right (growing-list self-reference via cur[-1]). All-integer
    * arithmetic, so the distance is bit-identical to the Spark
    * nested-aggregate HOF. */
  /** Jaro-Winkler replay: the greedy window matching as a single-level
    * list_filter INSIDE a list_reduce (first unused in-window equal char
    * per step). Deliberately NOT a nested list_reduce: DuckDB 1.0's
    * vectorized evaluation of reduce-inside-reduce corrupts rows when the
    * inner list length varies across a batch (measured: 'dixon' vs
    * 'dicksonx' matched [0,1,2,4,6] in a mixed-length batch, [0,1,5,6]
    * solo; the DTW oracle is immune because every profile has length 24).
    * filter-inside-reduce evaluates correctly on mixed-length batches
    * (60-pair randomized differential vs an independent reference).
    * Everything downstream of the fold is exact integers; jw is the same
    * fixed-order IEEE composition the Spark expression computes. */
  private lazy val jaroSql: String = {
    val Off = 1048576L
    val cand =
      s"""list_filter(bjc, xj -> xi[2] >= 0
         |    AND xj[1] >= xi[1] - acc[1] AND xj[1] <= xi[1] + acc[1]
         |    AND NOT list_contains(acc, xj[1] + $Off)
         |    AND xj[2] = xi[2])""".stripMargin
    val fold1 =
      s"""list_transform(list_filter(
         | list_reduce(
         |  list_prepend([w], list_transform(range(0, la), i -> [i, ac[CAST(i+1 AS INTEGER)]])),
         |  (acc, xi) -> list_concat(acc,
         |    CASE WHEN len($cand) > 0 THEN [($cand)[1][1] + $Off] ELSE []::BIGINT[] END)),
         | x -> x >= $Off), x -> x - $Off)""".stripMargin
    s"""WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey < 40),
       |pr AS (SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
       |  a.p_name AS na, b.p_name AS nb
       |  FROM p a JOIN p b ON b.p_partkey = a.p_partkey + 1),
       |c1 AS (SELECT part_a, part_b,
       |  list_transform(range(1, length(na)+1), i -> CAST(ascii(substr(na, CAST(i AS INTEGER), 1)) AS BIGINT)) AS ac,
       |  list_transform(range(1, length(nb)+1), i -> CAST(ascii(substr(nb, CAST(i AS INTEGER), 1)) AS BIGINT)) AS bc
       |  FROM pr),
       |c2 AS (SELECT *, CAST(len(ac) AS BIGINT) AS la, CAST(len(bc) AS BIGINT) AS lb,
       |  greatest(CAST(0 AS BIGINT), CAST(floor(greatest(len(ac), len(bc)) / 2) AS BIGINT) - 1) AS w,
       |  list_transform(range(0, len(bc)), j -> [j, bc[CAST(j+1 AS INTEGER)]]) AS bjc
       |  FROM c1),
       |c3 AS (SELECT *, $fold1 AS used FROM c2),
       |c4 AS (SELECT *, CAST(len(used) AS BIGINT) AS m,
       |  list_transform(used, j -> bc[CAST(j+1 AS INTEGER)]) AS ap,
       |  list_transform(list_sort(used), j -> bc[CAST(j+1 AS INTEGER)]) AS bp
       |  FROM c3),
       |c5 AS (SELECT *,
       |  CAST(len(list_filter(range(1, m+1), k -> ap[CAST(k AS INTEGER)] <> bp[CAST(k AS INTEGER)])) AS BIGINT) AS t2,
       |  list_reduce(list_prepend([CAST(0 AS BIGINT)],
       |    list_transform(range(1, 5), k -> [k])),
       |    (p, xk) -> CASE WHEN p[1] = xk[1] - 1 AND xk[1] <= la AND xk[1] <= lb
       |      AND ac[CAST(xk[1] AS INTEGER)] = bc[CAST(xk[1] AS INTEGER)] THEN xk ELSE p END)[1] AS prefix
       |  FROM c4),
       |c6 AS (SELECT *, CASE WHEN m = 0 THEN CASE WHEN la = 0 AND lb = 0 THEN 1.0 ELSE 0.0 END
       |  ELSE (CAST(m AS DOUBLE)/CAST(la AS DOUBLE) + CAST(m AS DOUBLE)/CAST(lb AS DOUBLE)
       |    + (2.0*CAST(m AS DOUBLE) - CAST(t2 AS DOUBLE))/(2.0*CAST(m AS DOUBLE)))/3.0 END AS j FROM c5)
       |SELECT part_a, part_b, la, lb, m, t2, prefix,
       |  j + CAST(prefix AS DOUBLE)*0.1*(1.0 - j) AS jw
       |FROM c6""".stripMargin
  }

  private lazy val pmiSql: String =
    s"""WITH d AS (SELECT $norm AS nrm FROM documents),
         |t AS (SELECT string_split(nrm, ' ') AS toks FROM d),
         |tt AS (SELECT toks FROM t WHERE len(toks) >= 2),
         |bgr AS (SELECT unnest(toks[1:len(toks)-1]) AS w1,
         |  unnest(toks[2:len(toks)]) AS w2 FROM tt),
         |bg AS (SELECT w1, w2 FROM bgr WHERE w1 <> '' AND w2 <> ''),
         |ab AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY 1, 2),
         |a AS (SELECT w1, count(*) AS n_a FROM bg GROUP BY 1),
         |b AS (SELECT w2, count(*) AS n_b FROM bg GROUP BY 1),
         |n AS (SELECT count(*) AS nn FROM bg)
         |SELECT ab.w1, ab.w2, ab.n_ab, a.n_a, b.n_b,
         |  CAST(floor((ln(CAST(n_ab AS DOUBLE)) + ln(CAST(nn AS DOUBLE))
         |    - ln(CAST(n_a AS DOUBLE)) - ln(CAST(n_b AS DOUBLE)))
         |    * 1000000.0 + 0.5) AS BIGINT) AS pmi_mu
         |FROM ab JOIN a USING (w1) JOIN b USING (w2) CROSS JOIN n
         |WHERE n_ab >= 5""".stripMargin

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

  private lazy val nucleusSql: String =
    s"""WITH d AS (SELECT source, $norm AS nrm FROM documents),
         |tok AS (SELECT source, unnest(string_split(nrm, ' ')) AS t FROM d),
         |c AS (SELECT source, t, count(*) AS c FROM tok
         |  WHERE t <> '' GROUP BY 1, 2),
         |r AS (SELECT source, c,
         |  CAST(sum(c) OVER (PARTITION BY source ORDER BY c DESC, t)
         |    AS BIGINT) AS cdf,
         |  CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n FROM c)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
         |  max(n) AS n_tokens,
         |  CAST(sum(CASE WHEN cdf * 100 < n * 90 THEN 1 ELSE 0 END) + 1
         |    AS BIGINT) AS k_p,
         |  min(CASE WHEN cdf * 100 >= n * 90 THEN cdf END) AS mass_at_k
         |FROM r GROUP BY source""".stripMargin

  private lazy val zipfSql: String =
    s"""WITH d AS (SELECT source, $norm AS nrm FROM documents),
         |tok AS (SELECT source, unnest(string_split(nrm, ' ')) AS t FROM d),
         |c AS (SELECT source, t, count(*) AS c FROM tok
         |  WHERE t <> '' GROUP BY 1, 2),
         |r AS (SELECT source,
         |  CAST(floor(ln(CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY c DESC, t) AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS x,
         |  CAST(floor(ln(CAST(c AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS y
         |  FROM c),
         |m AS (SELECT source, count(*) AS n_types,
         |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx
         |  FROM r GROUP BY source)
         |SELECT source, n_types, sx, sy, sxy, sxx,
         |  CASE WHEN n_types > 1 AND
         |    CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0 THEN
         |    (CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    (CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS zipf_slope
         |FROM m""".stripMargin

  private lazy val keywordsSql: String =
    s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
         |tok AS (SELECT doc_id, unnest(string_split(nrm, ' ')) AS term FROM d),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |stats AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
         |sc AS (SELECT tf.doc_id, tf.term,
         |  CAST(floor(((1.0 + ln(CAST(tf AS DOUBLE))) *
         |    ln(1.0 + CAST(n AS DOUBLE) / df)) * 1000000.0 + 0.5) AS BIGINT)
         |    AS score_mu
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
         |r AS (SELECT doc_id, term, score_mu, row_number() OVER (
         |  PARTITION BY doc_id ORDER BY score_mu DESC, term) AS rnk FROM sc)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS "rank", term, score_mu
         |FROM r WHERE rnk <= 5""".stripMargin

  private lazy val welchSql: String = {
      val split =
        s"(${Hashing.mixSql(Hashing.polyHashSql("CAST(doc_id AS VARCHAR)"), 7)}) % 2"
      val varA = "(CAST(n_a AS DOUBLE) * CAST(s2a AS DOUBLE) - " +
        "CAST(sum_a AS DOUBLE) * CAST(sum_a AS DOUBLE)) / " +
        "(CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))"
      val varB = "(CAST(n_b AS DOUBLE) * CAST(s2b AS DOUBLE) - " +
        "CAST(sum_b AS DOUBLE) * CAST(sum_b AS DOUBLE)) / " +
        "(CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))"
      val va = s"($varA / CAST(n_a AS DOUBLE))"
      val vb = s"($varB / CAST(n_b AS DOUBLE))"
      val se2 = s"($va + $vb)"
      val t = "(CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE) - " +
        s"CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / sqrt($se2)"
      val dfe = s"$se2 * $se2 / ($va * $va / (CAST(n_a AS DOUBLE) - 1.0) + " +
        s"$vb * $vb / (CAST(n_b AS DOUBLE) - 1.0))"
      s"""WITH s AS (SELECT least(20, n_chars // 32) AS bucket,
         |  CASE WHEN $split < 1 THEN 0 ELSE 1 END AS split,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS v FROM documents),
         |ma AS (SELECT bucket, count(*) AS n_a, CAST(sum(v) AS BIGINT) AS sum_a,
         |  CAST(sum(v*v) AS BIGINT) AS s2a FROM s WHERE split = 0 GROUP BY bucket),
         |mb AS (SELECT bucket, count(*) AS n_b, CAST(sum(v) AS BIGINT) AS sum_b,
         |  CAST(sum(v*v) AS BIGINT) AS s2b FROM s WHERE split = 1 GROUP BY bucket),
         |j AS (SELECT * FROM ma JOIN mb USING (bucket))
         |SELECT bucket, n_a, n_b, sum_a, sum_b,
         |  CASE WHEN n_a > 1 AND n_b > 1 AND $se2 > 0.0 THEN $t END AS t_stat,
         |  CASE WHEN n_a > 1 AND n_b > 1 AND $se2 > 0.0 THEN $dfe END AS df
         |FROM j""".stripMargin
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

  /** Split-conformal replay, shared by q_conformal and its streaming
    * gate: the 60/20/20 chronological split, the scaled-integer
    * residuals |y·n_train − sum_train| (train mean kept rational), the
    * k = ⌈(n_cal+1)·900/1000⌉-th smallest calibration residual
    * (k > n_cal ⇒ infinite interval ⇒ all covered, null q), one
    * terminal coverage division. */
  private lazy val conformalSql: String =
    """WITH e AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS y,
      |  ts, event_id FROM events
      |  WHERE ts IS NOT NULL AND value IS NOT NULL),
      |r AS (SELECT user_id, y,
      |  CAST(row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS BIGINT) AS rn,
      |  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
      |  FROM e),
      |m AS (SELECT *, n * 3 // 5 AS ntr, n * 4 // 5 AS nc8 FROM r
      |  WHERE n * 3 // 5 >= 1 AND n * 4 // 5 > n * 3 // 5
      |    AND n > n * 4 // 5),
      |tr AS (SELECT user_id, CAST(sum(y) AS BIGINT) AS sy,
      |  CAST(count(*) AS BIGINT) AS ntrain
      |  FROM m WHERE rn <= ntr GROUP BY 1),
      |cal AS (SELECT m.user_id, abs(m.y * tr.ntrain - tr.sy) AS resid,
      |  m.rn FROM m JOIN tr ON m.user_id = tr.user_id
      |  WHERE m.rn > m.ntr AND m.rn <= m.nc8),
      |calst AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_cal
      |  FROM cal GROUP BY 1),
      |calrk AS (SELECT user_id, resid, CAST(row_number() OVER (
      |  PARTITION BY user_id ORDER BY resid, rn) AS BIGINT) AS rr
      |  FROM cal),
      |q AS (SELECT calrk.user_id, resid AS q_scaled
      |  FROM calrk JOIN calst ON calrk.user_id = calst.user_id
      |  WHERE rr = ((n_cal + 1) * 900 + 999) // 1000),
      |tst AS (SELECT m.user_id, CAST(count(*) AS BIGINT) AS n_test,
      |  CAST(sum(CASE WHEN q.q_scaled IS NULL
      |    OR abs(m.y * tr.ntrain - tr.sy) <= q.q_scaled
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
      |  any_value(q.q_scaled) AS q_scaled,
      |  any_value(tr.ntrain) AS n_train
      |  FROM m JOIN tr ON m.user_id = tr.user_id
      |  LEFT JOIN q ON m.user_id = q.user_id
      |  WHERE m.rn > m.nc8 GROUP BY m.user_id)
      |SELECT t.user_id, n_train + c.n_cal + n_test AS n, n_train,
      |  c.n_cal, n_test, q_scaled, n_covered,
      |  CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE) AS coverage
      |FROM tst t JOIN calst c ON t.user_id = c.user_id""".stripMargin

  private lazy val groupOlsSql: String = {
      def det3(a: String, b: String, c: String, p: String, q: String,
          r: String, u: String, v: String, w: String): String =
        s"($a * ($q * $w - $r * $v) - $b * ($p * $w - $r * $u) + " +
          s"$c * ($p * $v - $q * $u))"
      def d(x: String) = s"CAST($x AS DOUBLE)"
      val (n, s1, s2, sy) = (d("n"), d("sx1"), d("sx2"), d("sy"))
      val (s11, s12, s22) = (d("sx11"), d("sx12"), d("sx22"))
      val (s1y, s2y) = (d("sx1y"), d("sx2y"))
      val detA = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
      val det0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
      val det1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22)
      val det2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y)
      s"""WITH e AS (SELECT user_id, CAST(hour(ts) AS BIGINT) AS x1,
         |  CAST(isodow(ts) - 1 AS BIGINT) AS x2,
         |  CAST(round(value * 100) AS BIGINT) AS y
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         |m AS (SELECT user_id, count(*) AS n,
         |  CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
         |  CAST(sum(y) AS BIGINT) AS sy,
         |  CAST(sum(x1*x1) AS BIGINT) AS sx11,
         |  CAST(sum(x1*x2) AS BIGINT) AS sx12,
         |  CAST(sum(x2*x2) AS BIGINT) AS sx22,
         |  CAST(sum(x1*y) AS BIGINT) AS sx1y,
         |  CAST(sum(x2*y) AS BIGINT) AS sx2y
         |  FROM e GROUP BY user_id)
         |SELECT user_id, n, sx1, sx2, sy, sx11, sx12, sx22, sx1y, sx2y,
         |  CASE WHEN $detA <> 0.0 THEN $det0 / $detA END AS beta0,
         |  CASE WHEN $detA <> 0.0 THEN $det1 / $detA END AS beta1,
         |  CASE WHEN $detA <> 0.0 THEN $det2 / $detA END AS beta2
         |FROM m""".stripMargin
  }

  private lazy val transitionsSql: String =
    """WITH t AS (SELECT user_id, event_type,
      |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS to_type
      |  FROM events),
      |c AS (SELECT event_type AS from_type, to_type, count(*) AS n
      |  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |f AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
      |  FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n, f.n_from,
      |  CAST(c.n AS DOUBLE) / CAST(f.n_from AS DOUBLE) AS p
      |FROM c JOIN f USING (from_type)""".stripMargin

  /** LCS replay: the identical nested fold as the Spark HOF — outer
    * list_reduce over a's padded token hashes carrying the previous DP
    * row, inner rebuilding each row with max/diag+1 cells. Both sides
    * are truncated to 24 tokens and PADDED to exactly 24 with distinct
    * sentinels (−1 / −2): fixed inner lengths keep this outside the
    * DuckDB nested-list_reduce vectorization hazard (the jaroSql note),
    * and non-matching sentinels cannot change the DP corner. */
  private lazy val lcsSql: String = {
    val hs = "list_transform(list_filter(string_split(" + norm +
      ", ' '), x -> x <> '')[1:24], tok -> " +
      Hashing.polyHashSql("tok") + ")"
    s"""WITH d AS (SELECT doc_id, $hs AS hs
       |  FROM documents WHERE doc_id < 40),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  a.hs AS ha, b.hs AS hb
       |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1),
       |q AS (SELECT doc_a, doc_b,
       |  CAST(len(ha) AS BIGINT) AS la, CAST(len(hb) AS BIGINT) AS lb,
       |  list_concat(ha, list_transform(generate_series(1, 24 - len(ha)),
       |    x -> CAST(-1 AS BIGINT))) AS pa,
       |  list_concat(hb, list_transform(generate_series(1, 24 - len(hb)),
       |    x -> CAST(-2 AS BIGINT))) AS pb
       |  FROM p),
       |r AS (SELECT doc_a, doc_b, la, lb,
       |  list_reduce(
       |    list_prepend(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(pb, x -> CAST(0 AS BIGINT))),
       |      list_transform(pa, ai -> [ai])),
       |    (prev, xa) -> list_reduce(
       |      list_prepend([CAST(0 AS BIGINT)],
       |        list_transform(pb, bj -> [bj])),
       |      (cur, xb) -> list_append(cur,
       |        greatest(
       |          CASE WHEN xa[1] = xb[1] THEN prev[len(cur)] + 1
       |            ELSE CAST(0 AS BIGINT) END,
       |          prev[len(cur) + 1], cur[-1]))))[-1] AS lcs_len
       |  FROM q)
       |SELECT doc_a, doc_b, la, lb, lcs_len,
       |  CASE WHEN la + lb > 0
       |    THEN CAST(2 * lcs_len AS DOUBLE) / CAST(la + lb AS DOUBLE)
       |    ELSE 0.0 END AS lcs_sim
       |FROM r""".stripMargin
  }

  /** Kaplan-Meier replay (shared by the batch query and the streaming
    * delta twin): same (group, t) grid, integer window risk sets, and
    * the IDENTICAL left-to-right survival fold (a window product()
    * would tree-reorder float multiplies; the sliced fold recomputes
    * each prefix in the same order the Spark scan walks it). */
  /** Interpolated Kneser-Ney replay, shared by q_lm_kn and its
    * streaming gate (stateless stream-static scoring + sink fold
    * == the batch fold for any micro-batching). */
  private lazy val lmKnSql: String =
    s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
         |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
         |tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
         |bgr AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
         |  unnest(toks[2:len(toks)]) AS w2 FROM tt),
         |bg AS (SELECT doc_id, w1, w2 FROM bgr WHERE w1 <> '' AND w2 <> ''),
         |bm AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
         |lm AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw,
         |  count(*) AS n1r FROM bm GROUP BY 1),
         |cm AS (SELECT w2, count(*) AS n1l FROM bm GROUP BY 1),
         |s AS (SELECT (SELECT count(*) FROM bm) AS n1pp,
         |  (SELECT count(DISTINCT w) FROM
         |    (SELECT unnest(toks) AS w FROM t) u WHERE w <> '') AS vv),
         |sc AS (SELECT bg.doc_id,
         |  CAST(floor(ln(
         |    CASE WHEN lm.cw IS NOT NULL THEN
         |      (greatest(CAST(COALESCE(bm.c, 0) AS DOUBLE) - 0.75, 0.0)
         |        + (0.75 * CAST(lm.n1r AS DOUBLE))
         |          * (CAST(COALESCE(cm.n1l, 0) + 1 AS DOUBLE)
         |             / CAST(s.n1pp + s.vv AS DOUBLE)))
         |      / CAST(lm.cw AS DOUBLE)
         |    ELSE CAST(COALESCE(cm.n1l, 0) + 1 AS DOUBLE)
         |         / CAST(s.n1pp + s.vv AS DOUBLE) END
         |  ) * 1000000.0 + 0.5) AS BIGINT) AS mu
         |  FROM bg LEFT JOIN bm USING (w1, w2) LEFT JOIN lm USING (w1)
         |    LEFT JOIN cm USING (w2) CROSS JOIN s),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(mu) AS BIGINT) AS sum_mu FROM sc GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(agg.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(agg.sum_mu, 0) AS sum_mu,
         |  CASE WHEN agg.n_bigrams > 0 THEN
         |    CAST(agg.sum_mu AS DOUBLE) /
         |      (CAST(agg.n_bigrams AS DOUBLE) * 1000000.0) END AS avg_logp
         |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin

  /** Modified Kneser-Ney replay (q_lm_mkn): the lmKnSql discipline with
    * Chen-Goodman 1999 estimated discounts — count-of-counts n1..n4 and
    * the per-context count-class type counts are aggregates over the
    * same bigram model table; Y/D1/D2/D3 compose in the identical fixed
    * order (guards and [0,k] clamps included) as the Spark expression
    * before the micro-quantized ln. */
  private lazy val lmMknSql: String =
    s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
       |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
       |tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
       |bgr AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
       |  unnest(toks[2:len(toks)]) AS w2 FROM tt),
       |bg AS (SELECT doc_id, w1, w2 FROM bgr WHERE w1 <> '' AND w2 <> ''),
       |bm AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
       |lm AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw,
       |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
       |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
       |  CAST(sum(CASE WHEN c >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS k3
       |  FROM bm GROUP BY 1),
       |cm AS (SELECT w2, count(*) AS n1l FROM bm GROUP BY 1),
       |s AS (SELECT (SELECT count(*) FROM bm) AS n1pp,
       |  (SELECT CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM bm) AS n1,
       |  (SELECT CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM bm) AS n2,
       |  (SELECT CAST(sum(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM bm) AS n3,
       |  (SELECT CAST(sum(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM bm) AS n4,
       |  (SELECT count(DISTINCT w) FROM
       |    (SELECT unnest(toks) AS w FROM t) u WHERE w <> '') AS vv),
       |dy AS (SELECT *, CASE WHEN n1 + 2 * n2 > 0 THEN
       |    CAST(n1 AS DOUBLE) / CAST(n1 + 2 * n2 AS DOUBLE)
       |  ELSE 0.0 END AS y FROM s),
       |dd AS (SELECT *,
       |  least(greatest(CASE WHEN n1 > 0 THEN 1.0 - 2.0 * y *
       |    (CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE)) ELSE 1.0 END,
       |    0.0), 1.0) AS d1,
       |  least(greatest(CASE WHEN n2 > 0 THEN 2.0 - 3.0 * y *
       |    (CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE)) ELSE 2.0 END,
       |    0.0), 2.0) AS d2,
       |  least(greatest(CASE WHEN n3 > 0 THEN 3.0 - 4.0 * y *
       |    (CAST(n4 AS DOUBLE) / CAST(n3 AS DOUBLE)) ELSE 3.0 END,
       |    0.0), 3.0) AS d3
       |  FROM dy),
       |sc AS (SELECT bg.doc_id,
       |  CAST(floor(ln(
       |    CASE WHEN lm.cw IS NOT NULL THEN
       |      (greatest(CAST(COALESCE(bm.c, 0) AS DOUBLE) -
       |        (CASE WHEN COALESCE(bm.c, 0) <= 1 THEN dd.d1
       |          WHEN COALESCE(bm.c, 0) = 2 THEN dd.d2
       |          ELSE dd.d3 END), 0.0)
       |        + (dd.d1 * CAST(lm.k1 AS DOUBLE)
       |           + dd.d2 * CAST(lm.k2 AS DOUBLE)
       |           + dd.d3 * CAST(lm.k3 AS DOUBLE))
       |          * (CAST(COALESCE(cm.n1l, 0) + 1 AS DOUBLE)
       |             / CAST(dd.n1pp + dd.vv AS DOUBLE)))
       |      / CAST(lm.cw AS DOUBLE)
       |    ELSE CAST(COALESCE(cm.n1l, 0) + 1 AS DOUBLE)
       |         / CAST(dd.n1pp + dd.vv AS DOUBLE) END
       |  ) * 1000000.0 + 0.5) AS BIGINT) AS mu
       |  FROM bg LEFT JOIN bm USING (w1, w2) LEFT JOIN lm USING (w1)
       |    LEFT JOIN cm USING (w2) CROSS JOIN dd),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(mu) AS BIGINT) AS sum_mu FROM sc GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(agg.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(agg.sum_mu, 0) AS sum_mu,
       |  CASE WHEN agg.n_bigrams > 0 THEN
       |    CAST(agg.sum_mu AS DOUBLE) /
       |      (CAST(agg.n_bigrams AS DOUBLE) * 1000000.0) END AS avg_logp
       |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin

  /** Trigram interpolated Kneser-Ney replay (q_lm_kn3): the lmKnSql
    * discipline one order deeper — the trigram-type table tm is the one
    * corpus-scale aggregate; left context, continuation pair, middle
    * word, and last word tables are aggregates OF tm; p3/p2/p1 compose
    * in the identical fixed order as the Spark expression before the
    * micro-quantized ln. */
  private lazy val lmKn3Sql: String = {
    val p1 = "(CAST(COALESCE(un.n1u, 0) + 1 AS DOUBLE)" +
      " / CAST(s.n3pp + s.vv AS DOUBLE))"
    val p2 = s"""(CASE WHEN md.m2 IS NOT NULL THEN
         |      (greatest(CAST(COALESCE(c23.n23, 0) AS DOUBLE) - 0.75, 0.0)
         |        + (0.75 * CAST(md.r2 AS DOUBLE)) * $p1)
         |      / CAST(md.m2 AS DOUBLE)
         |    ELSE $p1 END)""".stripMargin
    s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
       |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
       |tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 3),
       |tgr AS (SELECT doc_id, unnest(toks[1:len(toks)-2]) AS w1,
       |  unnest(toks[2:len(toks)-1]) AS w2,
       |  unnest(toks[3:len(toks)]) AS w3 FROM tt),
       |tg AS (SELECT doc_id, w1, w2, w3 FROM tgr
       |  WHERE w1 <> '' AND w2 <> '' AND w3 <> ''),
       |tm AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg GROUP BY 1, 2, 3),
       |l12 AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS cw12,
       |  count(*) AS n1r12 FROM tm GROUP BY 1, 2),
       |c23 AS (SELECT w2, w3, count(*) AS n23 FROM tm GROUP BY 1, 2),
       |md AS (SELECT w2, CAST(sum(n23) AS BIGINT) AS m2,
       |  count(*) AS r2 FROM c23 GROUP BY 1),
       |un AS (SELECT w3, count(*) AS n1u FROM tm GROUP BY 1),
       |s AS (SELECT (SELECT count(*) FROM tm) AS n3pp,
       |  (SELECT count(DISTINCT w) FROM
       |    (SELECT unnest(toks) AS w FROM t) u WHERE w <> '') AS vv),
       |sc AS (SELECT tg.doc_id,
       |  CAST(floor(ln(
       |    CASE WHEN l12.cw12 IS NOT NULL THEN
       |      (greatest(CAST(COALESCE(tm.c3, 0) AS DOUBLE) - 0.75, 0.0)
       |        + (0.75 * CAST(l12.n1r12 AS DOUBLE)) * $p2)
       |      / CAST(l12.cw12 AS DOUBLE)
       |    ELSE $p2 END
       |  ) * 1000000.0 + 0.5) AS BIGINT) AS mu
       |  FROM tg LEFT JOIN tm USING (w1, w2, w3)
       |    LEFT JOIN l12 USING (w1, w2) LEFT JOIN c23 USING (w2, w3)
       |    LEFT JOIN md USING (w2) LEFT JOIN un USING (w3) CROSS JOIN s),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |  CAST(sum(mu) AS BIGINT) AS sum_mu FROM sc GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(agg.n_trigrams, 0) AS n_trigrams,
       |  COALESCE(agg.sum_mu, 0) AS sum_mu,
       |  CASE WHEN agg.n_trigrams > 0 THEN
       |    CAST(agg.sum_mu AS DOUBLE) /
       |      (CAST(agg.n_trigrams AS DOUBLE) * 1000000.0) END AS avg_logp
       |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin
  }

  /** Trigram MODIFIED Kneser-Ney replay (q_lm_mkn3): lmKn3Sql with the
    * per-order Chen-Goodman discount schedules — order 3 estimated from
    * the trigram count-of-counts, order 2 from the continuation-count
    * table's count-of-counts, count-class type counts riding in the
    * context aggregates; identical fixed-order composition as the Spark
    * expression. */
  private lazy val lmMkn3Sql: String = {
    val p1 = "(CAST(COALESCE(un.n1u, 0) + 1 AS DOUBLE)" +
      " / CAST(dd.n3pp + dd.vv AS DOUBLE))"
    val p2 = s"""(CASE WHEN md.m2 IS NOT NULL THEN
         |      (greatest(CAST(COALESCE(c23.n23, 0) AS DOUBLE) -
         |        (CASE WHEN COALESCE(c23.n23, 0) <= 1 THEN dd.d21
         |          WHEN COALESCE(c23.n23, 0) = 2 THEN dd.d22
         |          ELSE dd.d23 END), 0.0)
         |        + (dd.d21 * CAST(md.j1 AS DOUBLE)
         |           + dd.d22 * CAST(md.j2 AS DOUBLE)
         |           + dd.d23 * CAST(md.j3 AS DOUBLE)) * $p1)
         |      / CAST(md.m2 AS DOUBLE)
         |    ELSE $p1 END)""".stripMargin
    def sched(pfx: String, n1: String, n2: String, n3: String, n4: String) =
      s"""  CASE WHEN $n1 + 2 * $n2 > 0 THEN
         |    CAST($n1 AS DOUBLE) / CAST($n1 + 2 * $n2 AS DOUBLE)
         |  ELSE 0.0 END AS ${pfx}y""".stripMargin
    def dk(pfx: String, k: Int, nk: String, nk1: String) =
      s"""  least(greatest(CASE WHEN $nk > 0 THEN $k.0 - ${k + 1}.0 * ${pfx}y *
         |    (CAST($nk1 AS DOUBLE) / CAST($nk AS DOUBLE)) ELSE $k.0 END,
         |    0.0), $k.0) AS ${pfx}$k""".stripMargin
    s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
       |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
       |tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 3),
       |tgr AS (SELECT doc_id, unnest(toks[1:len(toks)-2]) AS w1,
       |  unnest(toks[2:len(toks)-1]) AS w2,
       |  unnest(toks[3:len(toks)]) AS w3 FROM tt),
       |tg AS (SELECT doc_id, w1, w2, w3 FROM tgr
       |  WHERE w1 <> '' AND w2 <> '' AND w3 <> ''),
       |tm AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg GROUP BY 1, 2, 3),
       |l12 AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS cw12,
       |  CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
       |  CAST(sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
       |  CAST(sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS k3
       |  FROM tm GROUP BY 1, 2),
       |c23 AS (SELECT w2, w3, count(*) AS n23 FROM tm GROUP BY 1, 2),
       |md0 AS (SELECT w2, CAST(sum(n23) AS BIGINT) AS m2,
       |  CAST(sum(CASE WHEN n23 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS j1,
       |  CAST(sum(CASE WHEN n23 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS j2,
       |  CAST(sum(CASE WHEN n23 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS j3
       |  FROM c23 GROUP BY 1),
       |un AS (SELECT w3, count(*) AS n1u FROM tm GROUP BY 1),
       |s AS (SELECT (SELECT count(*) FROM tm) AS n3pp,
       |  (SELECT CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM tm) AS a1,
       |  (SELECT CAST(sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM tm) AS a2,
       |  (SELECT CAST(sum(CASE WHEN c3 = 3 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM tm) AS a3,
       |  (SELECT CAST(sum(CASE WHEN c3 = 4 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM tm) AS a4,
       |  (SELECT CAST(sum(CASE WHEN n23 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM c23) AS b1,
       |  (SELECT CAST(sum(CASE WHEN n23 = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM c23) AS b2,
       |  (SELECT CAST(sum(CASE WHEN n23 = 3 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM c23) AS b3,
       |  (SELECT CAST(sum(CASE WHEN n23 = 4 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM c23) AS b4,
       |  (SELECT count(DISTINCT w) FROM
       |    (SELECT unnest(toks) AS w FROM t) u WHERE w <> '') AS vv),
       |dy AS (SELECT *,
       |${sched("d3", "a1", "a2", "a3", "a4")},
       |${sched("d2", "b1", "b2", "b3", "b4")}
       |  FROM s),
       |dd AS (SELECT *,
       |${dk("d3", 1, "a1", "a2")},
       |${dk("d3", 2, "a2", "a3")},
       |${dk("d3", 3, "a3", "a4")},
       |${dk("d2", 1, "b1", "b2")},
       |${dk("d2", 2, "b2", "b3")},
       |${dk("d2", 3, "b3", "b4")}
       |  FROM dy),
       |sc AS (SELECT tg.doc_id,
       |  CAST(floor(ln(
       |    CASE WHEN l12.cw12 IS NOT NULL THEN
       |      (greatest(CAST(COALESCE(tm.c3, 0) AS DOUBLE) -
       |        (CASE WHEN COALESCE(tm.c3, 0) <= 1 THEN dd.d31
       |          WHEN COALESCE(tm.c3, 0) = 2 THEN dd.d32
       |          ELSE dd.d33 END), 0.0)
       |        + (dd.d31 * CAST(l12.k1 AS DOUBLE)
       |           + dd.d32 * CAST(l12.k2 AS DOUBLE)
       |           + dd.d33 * CAST(l12.k3 AS DOUBLE)) * $p2)
       |      / CAST(l12.cw12 AS DOUBLE)
       |    ELSE $p2 END
       |  ) * 1000000.0 + 0.5) AS BIGINT) AS mu
       |  FROM tg LEFT JOIN tm USING (w1, w2, w3)
       |    LEFT JOIN l12 USING (w1, w2) LEFT JOIN c23 USING (w2, w3)
       |    LEFT JOIN md0 md USING (w2) LEFT JOIN un USING (w3)
       |    CROSS JOIN dd),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |  CAST(sum(mu) AS BIGINT) AS sum_mu FROM sc GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(agg.n_trigrams, 0) AS n_trigrams,
       |  COALESCE(agg.sum_mu, 0) AS sum_mu,
       |  CASE WHEN agg.n_trigrams > 0 THEN
       |    CAST(agg.sum_mu AS DOUBLE) /
       |      (CAST(agg.n_trigrams AS DOUBLE) * 1000000.0) END AS avg_logp
       |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin
  }

  /** First-occurrence novelty over the winnow fingerprints, shared by
    * q_novelty (batch) and q_stream_novelty (the ingest-time gate run as
    * one AvailableNow batch, where first-arrival == min-id). */
  private lazy val noveltySql: String =
    s"""$winnowCte,
       |dfp AS (SELECT DISTINCT doc_id, fp FROM fps),
       |fo AS (SELECT fp, min(doc_id) AS first_owner FROM dfp GROUP BY fp)
       |SELECT dfp.doc_id, count(*) AS n_fps,
       |  CAST(sum(CASE WHEN fo.first_owner = dfp.doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_novel,
       |  CAST(sum(CASE WHEN fo.first_owner = dfp.doc_id THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*) AS novelty
       |FROM dfp JOIN fo USING (fp) GROUP BY dfp.doc_id""".stripMargin

  private lazy val kaplanMeierSql: String =
    """WITH base AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS t,
      |  (event_id % 4 <> 0) AS ev FROM events WHERE value IS NOT NULL),
      |byt AS (SELECT event_type, t,
      |  CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |  count(*) AS obs FROM base GROUP BY 1, 2),
      |r AS (SELECT event_type, t, d, obs,
      |  CAST(sum(obs) OVER (PARTITION BY event_type)
      |    - (sum(obs) OVER (PARTITION BY event_type ORDER BY t
      |         ROWS UNBOUNDED PRECEDING) - obs) AS BIGINT) AS n_risk
      |  FROM byt),
      |st AS (SELECT event_type, list([t, d, n_risk] ORDER BY t) AS steps
      |  FROM r WHERE d > 0 GROUP BY event_type),
      |ex AS (SELECT event_type, steps, g.i AS i
      |  FROM st, unnest(generate_series(1, len(steps))) AS g(i))
      |SELECT event_type,
      |  steps[CAST(i AS INT)][1] AS t,
      |  steps[CAST(i AS INT)][2] AS d_events,
      |  steps[CAST(i AS INT)][3] AS n_risk,
      |  list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
      |    list_transform(steps[1:CAST(i AS INT)], x ->
      |      1.0 - CAST(x[2] AS DOUBLE) / CAST(x[3] AS DOUBLE))),
      |    (a, b) -> a * b) AS survival
      |FROM ex""".stripMargin

  private lazy val acfSql: String = {
    def lagAggs(l: Int) =
      s"""count(l$l) AS nl$l, sum(c * l$l) AS sxy$l,
         |  sum(CASE WHEN l$l IS NOT NULL THEN c END) AS sx$l, sum(l$l) AS sy$l""".stripMargin
    def lagRow(l: Int) =
      s"""SELECT user_id, CAST($l AS BIGINT) AS "lag", nl$l AS n_pairs,
         |  CASE WHEN den <> 0 THEN
         |    (CAST(sxy$l AS DOUBLE) - mu * (sx$l + sy$l) + nl$l * mu * mu) / den
         |  END AS acf FROM m2""".stripMargin
    s"""WITH c AS (SELECT user_id, ts, event_id,
       |  CAST(round(value * 100) AS BIGINT) AS c FROM events),
       |l AS (SELECT user_id, c,
       |  lag(c, 1) OVER w AS l1, lag(c, 2) OVER w AS l2, lag(c, 3) OVER w AS l3
       |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |a AS (SELECT user_id, count(*) AS n, sum(c) AS s, sum(c * c) AS s2,
       |  ${lagAggs(1)},
       |  ${lagAggs(2)},
       |  ${lagAggs(3)}
       |  FROM l GROUP BY user_id),
       |m AS (SELECT *, CAST(s AS DOUBLE) / n AS mu FROM a),
       |m2 AS (SELECT *, CAST(s2 AS DOUBLE) - 2.0 * mu * s + n * mu * mu AS den FROM m)
       |${lagRow(1)}
       |UNION ALL
       |${lagRow(2)}
       |UNION ALL
       |${lagRow(3)}""".stripMargin
  }

  private lazy val dtwSql: String =
    """WITH e AS (SELECT user_id, CAST(hour(ts) AS BIGINT) AS h,
      |  CAST(round(value * 100) AS BIGINT) AS v FROM events
      |  WHERE user_id < 40 AND value IS NOT NULL),
      |hs AS (SELECT user_id, h, CAST(sum(v) AS BIGINT) AS s
      |  FROM e GROUP BY user_id, h),
      |u AS (SELECT DISTINCT user_id FROM e),
      |grid AS (SELECT u.user_id, g.h
      |  FROM u CROSS JOIN generate_series(0, 23) g(h)),
      |filled AS (SELECT grid.user_id, grid.h, COALESCE(hs.s, 0) AS s
      |  FROM grid LEFT JOIN hs USING (user_id, h)),
      |prof AS (SELECT user_id, list(s ORDER BY h) AS p
      |  FROM filled GROUP BY user_id),
      |pairs AS (SELECT a.user_id AS user_a, b.user_id AS user_b,
      |  a.p AS pa, b.p AS pb
      |  FROM prof a JOIN prof b ON b.user_id = a.user_id + 1)
      |SELECT user_a, user_b,
      |  list_reduce(
      |    list_prepend(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(pb, x -> CAST(1000000000000000 AS BIGINT))),
      |      list_transform(pa, ai -> [ai])),
      |    (prev, xa) -> list_reduce(
      |      list_prepend([CAST(1000000000000000 AS BIGINT)],
      |        list_transform(pb, bj -> [bj])),
      |      (cur, xb) -> list_append(cur,
      |        abs(xa[1] - xb[1]) +
      |        least(prev[len(cur)+1], prev[len(cur)], cur[-1]))))[-1]
      |  AS dtw
      |FROM pairs""".stripMargin

  private lazy val gramMatrixSql: String =
    s"""WITH v AS (SELECT $qv AS q FROM embeddings),
       |p AS (SELECT i.i, j.j FROM range(64) i(i), range(64) j(j)
       |  WHERE i.i <= j.j)
       |SELECT p.i, p.j, (SELECT count(*) FROM v) AS n,
       |  CAST(sum(CAST(v.q[CAST(p.i + 1 AS INTEGER)] AS BIGINT) *
       |           CAST(v.q[CAST(p.j + 1 AS INTEGER)] AS BIGINT)) AS BIGINT) AS s
       |FROM v, p GROUP BY p.i, p.j""".stripMargin

  private lazy val cmsHeavySql: String = {
    def cell(r: Int) = s"((${Hashing.mixSql("h", 53 + r)}) % 512)"
    s"""WITH t AS (SELECT unnest(string_split($norm, ' ')) AS tok
       |  FROM documents),
       |th AS (SELECT tok, ${Hashing.polyHashSql("tok")} AS h FROM t),
       |ex AS (SELECT tok, count(*) AS true_cnt FROM t GROUP BY tok
       |  HAVING count(*) >= 50),
       |c AS (
       |  SELECT 0 AS rw, ${cell(0)} AS bucket, count(*) AS cnt
       |    FROM th GROUP BY 2
       |  UNION ALL SELECT 1, ${cell(1)}, count(*) FROM th GROUP BY 2
       |  UNION ALL SELECT 2, ${cell(2)}, count(*) FROM th GROUP BY 2),
       |ph AS (SELECT tok, true_cnt, ${Hashing.polyHashSql("tok")} AS h
       |  FROM ex),
       |pa AS (
       |  SELECT tok, true_cnt, 0 AS rw, ${cell(0)} AS bucket FROM ph
       |  UNION ALL SELECT tok, true_cnt, 1, ${cell(1)} FROM ph
       |  UNION ALL SELECT tok, true_cnt, 2, ${cell(2)} FROM ph),
       |e AS (SELECT pa.tok, pa.true_cnt,
       |  min(coalesce(c.cnt, 0)) AS cms_est
       |  FROM pa LEFT JOIN c ON c.rw = pa.rw AND c.bucket = pa.bucket
       |  GROUP BY 1, 2)
       |SELECT tok, true_cnt, cms_est, cms_est - true_cnt AS over_err
       |FROM e""".stripMargin
  }

  private lazy val bloomSql: String = {
    def pos(r: Int) = s"((${Hashing.mixSql("h", 97 + r)}) % ${1 << 15})"
    val addr = (0 until 3).map { r =>
      s"SELECT doc_id, (${pos(r)}) // 31 AS word, " +
        s"(CAST(1 AS BIGINT) << CAST((${pos(r)}) % 31 AS INTEGER)) AS mask FROM dh"
    }.mkString("\n  UNION ALL ")
    s"""WITH d AS (SELECT doc_id, $norm AS item FROM documents),
       |dh AS (SELECT doc_id, ${Hashing.polyHashSql("item")} AS h FROM d),
       |ha AS (
       |  $addr),
       |wb AS (SELECT word, sum(mask) AS word_mask FROM (
       |  SELECT DISTINCT word, mask FROM ha WHERE doc_id % 3 <> 0)
       |  GROUP BY word),
       |pr AS (SELECT ha.doc_id,
       |  CASE WHEN wb.word_mask IS NOT NULL
       |    AND (wb.word_mask & ha.mask) <> 0 THEN 1 ELSE 0 END AS ok
       |  FROM ha LEFT JOIN wb ON wb.word = ha.word)
       |SELECT doc_id, (sum(ok) = count(*)) AS bloom_hit,
       |  (doc_id % 3 <> 0) AS in_history
       |FROM pr GROUP BY doc_id""".stripMargin
  }

  val all: Map[String, String] = {
    val base = baseAll
    base + ("q_ann_methods" -> annMethodsSql(base))
  }

  private def baseAll: Map[String, String] = Map(

    "q_slice_between" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00'""".stripMargin,

    "q_latest_n" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value FROM
        |(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn FROM events) t
        |WHERE rn <= 3""".stripMargin,

    "q_earliest_n" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value FROM
        |(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts ASC) AS rn FROM events) t
        |WHERE rn <= 2""".stripMargin,

    "q_tsdf_projection" ->
      """SELECT 'by_user' AS op, user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM
        |(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn <= 1
        |UNION ALL
        |SELECT 'by_type' AS op, user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM
        |(SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn <= 2""".stripMargin,

    "q_asof" ->
      s"""SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id, l.value,
         |epoch_us(r.ts) AS right_ts_us, r.value AS right_value
         |${asofBase.format("LEFT")}""".stripMargin,

    // forward as-of: DuckDB infers direction from the inequality; picks
    // the smallest r.ts >= l.ts per left row
    "q_asof_next" ->
      """SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id, l.value,
        |epoch_us(r.ts) AS right_ts_us, r.value AS right_value
        |FROM (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        |ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin,

    // nearest as-of: backward + forward ASOF joins, smaller distance wins,
    // backward on ties (exact integer-us distances)
    "q_asof_nearest" ->
      """WITH l AS (SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT l.user_id, l.ts, l.event_id, l.value,
        |    r.ts AS bts, r.value AS bval
        |  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
        |f AS (SELECT l.user_id, l.event_id, f2.ts AS fts, f2.value AS fval
        |  FROM l ASOF LEFT JOIN r f2 ON l.user_id = f2.user_id AND l.ts <= f2.ts),
        |j AS (SELECT b.*, f.fts, f.fval,
        |  (bts IS NOT NULL AND (fts IS NULL OR
        |    epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts)))
        |    AS use_back
        |  FROM b JOIN f ON b.user_id = f.user_id AND b.event_id = f.event_id)
        |SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
        |  epoch_us(CASE WHEN use_back THEN bts ELSE fts END) AS right_ts_us,
        |  CASE WHEN use_back THEN bval ELSE fval END AS right_value
        |FROM j""".stripMargin,

    "q_asof_tolerance" ->
      s"""SELECT user_id, ts_us, event_id, value,
         |CASE WHEN ts_us - right_ts_us > 3600000000 THEN NULL ELSE right_ts_us END AS right_ts_us,
         |CASE WHEN ts_us - right_ts_us > 3600000000 THEN NULL ELSE right_value END AS right_value
         |FROM (SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id, l.value,
         |epoch_us(r.ts) AS right_ts_us, r.value AS right_value
         |${asofBase.format("LEFT")}) t""".stripMargin,

    "q_asof_bcast" ->
      s"""SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id, l.value,
         |epoch_us(r.ts) AS right_ts_us, r.value AS right_value
         |${asofBase.format("INNER")}""".stripMargin,

    "q_asof_skew" ->
      s"""SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id, l.value,
         |CASE WHEN r.ts >= date_trunc('day', l.ts) - INTERVAL 12 HOUR THEN epoch_us(r.ts) END AS right_ts_us,
         |CASE WHEN r.ts >= date_trunc('day', l.ts) - INTERVAL 12 HOUR THEN r.value END AS right_value
         |${asofBase.format("LEFT")}""".stripMargin,

    "q_resample_avg" ->
      """SELECT event_type, epoch_us(date_trunc('hour', ts)) AS ts_us,
        |avg(round(value * 100)) / 100.0 AS avg_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_resample_floor" ->
      """SELECT user_id, epoch_us(date_trunc('day', ts)) AS ts_us,
        |min_by(value, ts) AS value, min_by(event_id, ts) AS event_id
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_resample_ceil" ->
      """SELECT user_id, epoch_us(date_trunc('day', ts)) AS ts_us,
        |max_by(value, ts) AS value, max_by(event_id, ts) AS event_id
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_resample_sum" ->
      """SELECT event_type, epoch_us(date_trunc('hour', ts)) AS ts_us,
        |sum(round(value * 100)) / 100.0 AS sum_value,
        |count(event_id) AS n_rows
        |FROM events GROUP BY 1, 2""".stripMargin,

    // min-max decimation: the min row and max row per (user, hour); ties
    // by (value, ts); UNION (not ALL) collapses single-row buckets
    "q_downsample_minmax" ->
      """WITH b AS (SELECT user_id, date_trunc('hour', ts) AS bucket, ts, value,
        |  event_id FROM events),
        |lo AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id, bucket
        |  ORDER BY value, ts) AS rn FROM b) t WHERE rn = 1),
        |hi AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id, bucket
        |  ORDER BY value DESC, ts DESC) AS rn FROM b) t WHERE rn = 1)
        |SELECT user_id, epoch_us(bucket) AS bucket_us, epoch_us(ts) AS ts_us,
        |  value, event_id FROM lo
        |UNION
        |SELECT user_id, epoch_us(bucket) AS bucket_us, epoch_us(ts) AS ts_us,
        |  value, event_id FROM hi""".stripMargin,

    "q_upsample_fill" ->
      """WITH agg AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |  avg(round(value * 100)) AS c FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(h) AS mn, max(h) AS mx FROM agg GROUP BY 1),
        |spine AS (SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b)
        |SELECT s.event_type, epoch_us(s.h) AS ts_us, coalesce(a.c, 0) / 100.0 AS avg_value
        |FROM spine s LEFT JOIN agg a ON s.event_type = a.event_type AND s.h = a.h""".stripMargin,

    "q_interp_linear" -> interpCommon.format(
      """CASE WHEN v IS NOT NULL THEN v
        |WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv + (nv - pv) *
        |  (CAST(epoch_us(t) - epoch_us(pt) AS DOUBLE) / CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE))
        |END""".stripMargin),

    "q_interp_ffill" -> interpCommon.format("coalesce(v, pv)"),
    "q_interp_bfill" -> interpCommon.format("coalesce(v, nv)"),
    "q_interp_zero" -> interpCommon.format("coalesce(v, 0)"),

    "q_range_stats" ->
      s"""WITH base AS (SELECT event_type, epoch_us(ts) AS tsu, value, round(value * 100) AS c
         |  FROM events),
         |w1 AS (SELECT event_type, tsu, value, c,
         |  avg(c) OVER w AS m, count(c) OVER w AS cnt, min(c) OVER w AS mn, max(c) OVER w AS mx,
         |  sum(c) OVER w AS s1, sum(c * c) OVER w AS s2
         |  FROM base
         |  WINDOW w AS (PARTITION BY event_type ORDER BY tsu RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
         |SELECT event_type, tsu AS ts_us, value, m / 100.0 AS mean_value, cnt AS count_value,
         |  mn / 100.0 AS min_value, mx / 100.0 AS max_value, s1 / 100.0 AS sum_value,
         |  ($momentSd) / 100.0 AS stddev_value,
         |  CASE WHEN ($momentSd) <> 0 THEN (c - m) / ($momentSd) END AS zscore_value
         |FROM w1""".stripMargin,

    "q_grouped_stats" ->
      s"""WITH base AS (SELECT event_type, date_trunc('hour', ts) AS h, round(value * 100) AS c
         |  FROM events),
         |g AS (SELECT event_type, h, avg(c) AS m, count(c) AS cnt, min(c) AS mn, max(c) AS mx,
         |  sum(c) AS s1, sum(c * c) AS s2 FROM base GROUP BY 1, 2)
         |SELECT event_type, epoch_us(h) AS ts_us, m / 100.0 AS mean_value, cnt AS count_value,
         |  mn / 100.0 AS min_value, mx / 100.0 AS max_value, s1 / 100.0 AS sum_value,
         |  ($momentSd) / 100.0 AS stddev_value
         |FROM g""".stripMargin,

    "q_vwap" ->
      """SELECT l_returnflag, epoch_us(date_trunc('day', l_shipdate)) AS ts_us,
        |sum(round(l_extendedprice * 100) * l_quantity) / sum(l_quantity) / 100.0 AS vwap,
        |max(round(l_extendedprice * 100)) / 100.0 AS max_price
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q_ema" -> {
      val terms = (0 until 5).map { i =>
        val coef = "0.2::DOUBLE" + " * 0.8::DOUBLE" * i
        val v = if (i == 0) "value" else s"lag(value, $i) OVER w"
        s"coalesce($v, 0) * ($coef)"
      }.mkString(" + ")
      s"""SELECT user_id, epoch_us(ts) AS ts_us, value, $terms AS ema_value
         |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)""".stripMargin
    },

    // exact rank-arithmetic quantiles: value at rank max(1, ceil(p*n))
    "q_quantiles" ->
      """WITH r AS (SELECT user_id, value,
        |row_number() OVER (PARTITION BY user_id ORDER BY value) AS rn,
        |count(*) OVER (PARTITION BY user_id) AS n FROM events)
        |SELECT user_id,
        |max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT)) THEN value END) AS p50,
        |max(CASE WHEN rn = greatest(1, CAST(ceil(0.9 * n) AS BIGINT)) THEN value END) AS p90,
        |max(CASE WHEN rn = greatest(1, CAST(ceil(0.99 * n) AS BIGINT)) THEN value END) AS p99
        |FROM r GROUP BY user_id""".stripMargin,

    // gaps-and-islands session assignment: break where the integer-us gap
    // from the previous event exceeds 30 minutes, running sum of breaks
    "q_sessionize" ->
      """WITH l AS (SELECT user_id, epoch_us(ts) AS ts_us, ts, value,
        |lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events)
        |SELECT user_id, ts_us, value,
        |CAST(sum(CASE WHEN prev IS NULL OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
        |  AS session_id
        |FROM l""".stripMargin,

    // the exact EMA recursion replayed as a recursive CTE stepping row rank
    // rn -> rn+1 per series: 0.5·x + 0.5·prev is the same IEEE op sequence
    // the Recurrence.ema window aggregate runs, so doubles match bit-for-bit
    // (alpha = 0.5 is exact in binary; no decimal-literal drift)
    "q_ema_exact" ->
      """WITH RECURSIVE t AS (
        |SELECT user_id, epoch_us(ts) AS ts_us, value,
        |row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn FROM events),
        |r AS (
        |SELECT user_id, ts_us, value, rn, CAST(value AS DOUBLE) AS ema_exact_value
        |FROM t WHERE rn = 1
        |UNION ALL
        |SELECT t.user_id, t.ts_us, t.value, t.rn,
        |0.5 * t.value + 0.5 * r.ema_exact_value AS ema_exact_value
        |FROM r JOIN t ON t.user_id = r.user_id AND t.rn = r.rn + 1)
        |SELECT user_id, ts_us, value, ema_exact_value FROM r""".stripMargin,

    // Holt recursion replay: level computed once per step; the trend line
    // re-states the same level expression so both engines evaluate the
    // identical fixed-order IEEE arithmetic (α=0.5, β=0.25 exact binary)
    "q_holt_exact" -> holtSql,

    // 1-D local-level Kalman: recursive-CTE replay (see kalmanSql)
    "q_kalman" -> kalmanSql,

    // additive Holt-Winters over hourly bars: recursive-CTE replay with a
    // rotated LIST seasonal ring (see holtWintersSql); the streaming twin
    // runs the same recursion on the raw per-user series
    "q_holt_winters" -> holtWintersSql,
    "q_stream_hw" -> holtWintersRawSql,

    // running peak + drawdown: max over a running frame is
    // order-independent, so raw doubles replay engine-exact
    "q_drawdown" ->
      """WITH t AS (
        |SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  CAST(value AS DOUBLE) AS x,
        |  max(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |FROM events)
        |SELECT user_id, ts_us, event_id, x AS value, peak AS peak_value,
        |  peak - x AS drawdown_value FROM t""".stripMargin,

    // Wilder RSI (n=14, EMA-seeded): the gain/loss EMA recursions replayed
    // as one recursive CTE; 1.0/14 and (1 - 1.0/14) are the identical IEEE
    // quotient/difference both engines compute, so every step matches
    "q_rsi" -> rsiSql,
    "q_stream_rsi" -> rsiSql,

    // MACD 12/26/9: one recursion carries fast, slow, and signal states;
    // the signal step re-states both EMA lines so the macd input is the
    // same IEEE difference the engine materializes
    "q_macd" -> macdSql,
    "q_stream_macd" -> macdSql,

    // ATR-14 over daily bars: OHLC are selections of raw doubles, the TR
    // CASE replays Spark's fixed IEEE assembly, and the Wilder recursion
    // (alpha = 1/14, seeded from the first TR) steps through a recursive
    // CTE exactly like the RSI/MACD oracles
    "q_atr" ->
      """WITH RECURSIVE b AS (
        |SELECT user_id, epoch_us(date_trunc('day', ts)) AS ts_us,
        |max(value) AS high_value, min(value) AS low_value,
        |max_by(value, ts) AS close_value,
        |row_number() OVER (PARTITION BY user_id
        |  ORDER BY date_trunc('day', ts)) AS rn
        |FROM events GROUP BY user_id, date_trunc('day', ts)),
        |d AS (
        |SELECT *, lag(close_value) OVER (PARTITION BY user_id ORDER BY rn)
        |  AS pc FROM b),
        |t AS (
        |SELECT user_id, ts_us, high_value, low_value, close_value, rn,
        |CASE WHEN pc IS NULL THEN high_value - low_value
        |ELSE greatest(high_value - low_value, abs(high_value - pc),
        |  abs(low_value - pc)) END AS tr
        |FROM d),
        |r AS (
        |SELECT user_id, ts_us, high_value, low_value, close_value, rn, tr,
        |  tr AS atr FROM t WHERE rn = 1
        |UNION ALL
        |SELECT t.user_id, t.ts_us, t.high_value, t.low_value, t.close_value,
        |  t.rn, t.tr, (1.0/14) * t.tr + (1 - 1.0/14) * r.atr AS atr
        |FROM r JOIN t ON t.user_id = r.user_id AND t.rn = r.rn + 1)
        |SELECT user_id, ts_us, high_value, low_value, close_value, tr, atr
        |FROM r""".stripMargin,

    // stochastic %K(14)/%D(3): ll/hh are frame selections, %K one
    // fixed-order expression, %D an explicit left-to-right 3-term sum —
    // null while lags are missing, null %K on flat frames (shared by the
    // streaming twin)
    "q_stochastic" -> stochasticSql,
    "q_stream_stochastic" -> stochasticSql,

    // OBV over daily bars: signed exact-BIGINT volume accumulation; the
    // close comparison runs on raw doubles (selections are engine-exact)
    "q_obv" ->
      """WITH b AS (
        |SELECT user_id, epoch_us(date_trunc('day', ts)) AS ts_us,
        |max_by(value, ts) AS close_value, count(*) AS volume
        |FROM events GROUP BY 1, 2),
        |d AS (
        |SELECT *, lag(close_value) OVER (PARTITION BY user_id ORDER BY ts_us)
        |  AS pc FROM b),
        |s AS (
        |SELECT user_id, ts_us, close_value, volume,
        |CASE WHEN pc IS NULL THEN CAST(0 AS BIGINT)
        |WHEN close_value > pc THEN volume
        |WHEN close_value < pc THEN -volume ELSE CAST(0 AS BIGINT) END AS sv
        |FROM d)
        |SELECT user_id, ts_us, close_value, volume,
        |CAST(sum(sv) OVER (PARTITION BY user_id ORDER BY ts_us
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
        |FROM s""".stripMargin,

    // Donchian(20): upper/lower are frame selections, mid one fixed-order
    // IEEE expression — partial head frames, like the Spark side (shared
    // by the streaming twin)
    "q_donchian" -> donchianSql,
    "q_stream_donchian" -> donchianSql,

    // Williams %R(14): hh/ll selections, %R one fixed-order expression,
    // null on flat frames
    "q_williams_r" ->
      """WITH t AS (
        |SELECT user_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS x
        |FROM events),
        |m AS (
        |SELECT user_id, ts_us, x,
        |min(x) OVER w AS ll, max(x) OVER w AS hh
        |FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, ts_us, x AS value,
        |CASE WHEN hh <> ll THEN -100.0 * (hh - x) / (hh - ll) END AS pct_r
        |FROM m""".stripMargin,

    // SAX(20, 4): exact integer segment sums, moment-sum z-scores, CASE
    // binning at the equiprobable breakpoints; null z/symbol for
    // 1-segment or constant series
    "q_sax" ->
      s"""WITH t AS (
         |SELECT user_id, epoch_us(ts) AS tu,
         |CAST(round(value * 100) AS BIGINT) AS c,
         |row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
         |FROM events),
         |g AS (SELECT user_id, CAST((rn - 1) // 20 AS BIGINT) AS segment,
         |min(tu) AS start_ts_us, count(*) AS n_rows,
         |CAST(sum(c) AS BIGINT) AS seg_sum
         |FROM t GROUP BY 1, 2),
         |m AS (SELECT user_id, segment, start_ts_us, n_rows, seg_sum,
         |count(*) OVER w AS cnt,
         |CAST(sum(seg_sum) OVER w AS BIGINT) AS s1,
         |sum(CAST(seg_sum AS DOUBLE) * CAST(seg_sum AS DOUBLE)) OVER w AS s2
         |FROM g WINDOW w AS (PARTITION BY user_id)),
         |z AS (SELECT user_id, segment, start_ts_us, n_rows, seg_sum,
         |CASE WHEN ($momentSd) <> 0
         |  THEN (CAST(seg_sum AS DOUBLE) - CAST(s1 AS DOUBLE) / cnt)
         |    / ($momentSd)
         |END AS z FROM m)
         |SELECT user_id, segment, start_ts_us, n_rows, seg_sum, z,
         |CASE WHEN z IS NOT NULL THEN
         |  CASE WHEN z < -0.67 THEN 'a' WHEN z < 0.0 THEN 'b'
         |       WHEN z < 0.67 THEN 'c' ELSE 'd' END
         |END AS symbol FROM z""".stripMargin,

    // SAX motif replay: the q_sax chain at (5, 4), 3-symbol words by
    // lead(), the 64-position cap per (user, word), non-overlapping pair
    // join, exact integer dist², best pair under the (dist², p1, p2)
    // total order.
    "q_sax_motifs" ->
      s"""WITH t AS (
         |SELECT user_id, CAST(round(value * 100) AS BIGINT) AS c,
         |row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
         |FROM events),
         |g AS (SELECT user_id, CAST((rn - 1) // 5 AS BIGINT) AS segment,
         |CAST(sum(c) AS BIGINT) AS seg_sum
         |FROM t GROUP BY 1, 2),
         |m AS (SELECT user_id, segment, seg_sum,
         |count(*) OVER w AS cnt,
         |CAST(sum(seg_sum) OVER w AS BIGINT) AS s1,
         |sum(CAST(seg_sum AS DOUBLE) * CAST(seg_sum AS DOUBLE)) OVER w AS s2
         |FROM g WINDOW w AS (PARTITION BY user_id)),
         |z AS (SELECT user_id, segment, seg_sum,
         |CASE WHEN ($momentSd) <> 0
         |  THEN (CAST(seg_sum AS DOUBLE) - CAST(s1 AS DOUBLE) / cnt)
         |    / ($momentSd)
         |END AS z FROM m),
         |sym AS (SELECT user_id, segment, seg_sum,
         |CASE WHEN z IS NOT NULL THEN
         |  CASE WHEN z < -0.67 THEN 'a' WHEN z < 0.0 THEN 'b'
         |       WHEN z < 0.67 THEN 'c' ELSE 'd' END
         |END AS symbol FROM z),
         |wrd AS (SELECT user_id, segment, seg_sum AS a0, symbol AS y0,
         |lead(symbol, 1) OVER o AS y1, lead(symbol, 2) OVER o AS y2,
         |lead(seg_sum, 1) OVER o AS a1, lead(seg_sum, 2) OVER o AS a2
         |FROM sym WINDOW o AS (PARTITION BY user_id ORDER BY segment)),
         |wd AS (SELECT user_id, segment, y0 || y1 || y2 AS word,
         |a0, a1, a2 FROM wrd
         |WHERE y0 IS NOT NULL AND y1 IS NOT NULL AND y2 IS NOT NULL),
         |cap AS (SELECT * FROM (SELECT *, row_number() OVER (
         |  PARTITION BY user_id, word ORDER BY segment) AS wrn FROM wd)
         |WHERE wrn <= 64),
         |pr AS (SELECT a.user_id, a.word, a.segment AS p1,
         |b.segment AS p2,
         |CAST((a.a0 - b.a0) * (a.a0 - b.a0) + (a.a1 - b.a1) * (a.a1 - b.a1)
         |  + (a.a2 - b.a2) * (a.a2 - b.a2) AS BIGINT) AS dist2
         |FROM cap a JOIN cap b ON a.user_id = b.user_id
         |  AND a.word = b.word AND b.segment >= a.segment + 3),
         |best AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |  ORDER BY dist2, p1, p2) AS brn FROM pr)
         |SELECT user_id, word, p1, p2, dist2 FROM best WHERE brn = 1"""
        .stripMargin,

    // 10-row ROC/momentum: raw-double lag subtraction + one fixed-order
    // expression; roc null while the lag is missing or the base is zero
    "q_roc" ->
      """WITH t AS (
        |SELECT user_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS x
        |FROM events),
        |l AS (
        |SELECT user_id, ts_us, x,
        |lag(x, 10) OVER (PARTITION BY user_id ORDER BY ts_us) AS px FROM t)
        |SELECT user_id, ts_us, x AS value, x - px AS momentum,
        |CASE WHEN px <> 0.0 THEN 100.0 * (x - px) / px END AS roc
        |FROM l""".stripMargin,

    // strict local maxima within ±3 rows: bounded max frames are
    // order-independent; endpoints can be peaks (missing side = -inf),
    // plateaus never qualify, single-row series get a null excess
    "q_peaks" ->
      """WITH t AS (
        |SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  CAST(value AS DOUBLE) AS x FROM events),
        |m AS (
        |SELECT user_id, ts_us, event_id, x,
        |  max(x) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS ml,
        |  max(x) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS mr FROM t)
        |SELECT user_id, ts_us, event_id, x AS value,
        |  CASE WHEN ml IS NOT NULL OR mr IS NOT NULL THEN
        |    x - greatest(coalesce(ml, CAST('-infinity' AS DOUBLE)),
        |                 coalesce(mr, CAST('-infinity' AS DOUBLE))) END AS excess
        |FROM m
        |WHERE x > coalesce(ml, CAST('-infinity' AS DOUBLE))
        |  AND x > coalesce(mr, CAST('-infinity' AS DOUBLE))""".stripMargin,

    // hour-of-day seasonal decomposition: hourly cent totals (exact
    // BIGINT), phase mean = one sum/count division, deseasonalized = one
    // further subtraction — both fixed IEEE ops
    "q_seasonal" ->
      """WITH b AS (SELECT user_id, date_trunc('hour', ts) AS bts,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total
        |  FROM events GROUP BY 1, 2),
        |bp AS (SELECT user_id, bts, total,
        |  (epoch_us(bts) // 3600000000) % 24 AS phase FROM b),
        |p AS (SELECT user_id, phase,
        |  CAST(sum(total) AS BIGINT) AS ps, count(*) AS pn
        |  FROM bp GROUP BY 1, 2)
        |SELECT bp.user_id, epoch_us(bp.bts) AS bucket_ts_us, bp.phase,
        |  bp.total, CAST(p.ps AS DOUBLE) / p.pn AS phase_mean,
        |  CAST(bp.total AS DOUBLE) - CAST(p.ps AS DOUBLE) / p.pn
        |    AS deseasonalized
        |FROM bp JOIN p ON p.user_id = bp.user_id AND p.phase = bp.phase""".stripMargin,

    // robust scaling: median/quartiles are SELECTED multiset members
    // (lower rank convention), the scale expression two fixed IEEE ops
    "q_robust_scale" ->
      """WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  CAST(value AS DOUBLE) AS x,
        |  row_number() OVER (PARTITION BY user_id ORDER BY value) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
        |q AS (SELECT user_id,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.25 * n) AS BIGINT))
        |    THEN x END) AS q1,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
        |    THEN x END) AS med,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.75 * n) AS BIGINT))
        |    THEN x END) AS q3
        |  FROM t GROUP BY user_id)
        |SELECT t.user_id, t.ts_us, t.event_id, t.x AS value,
        |  CASE WHEN (q.q3 - q.q1) <> 0 THEN (t.x - q.med) / (q.q3 - q.q1) END
        |    AS value_robust
        |FROM t JOIN q ON q.user_id = t.user_id""".stripMargin,

    // CCF at lags -2..2 between hourly cent totals (x) and hourly row
    // counts (y) per user: exact BIGINT sums, acf-style fixed assembly
    "q_ccf" -> {
      def nm(l: Int) = s"$l".replace("-", "m")
      def shifted(l: Int) =
        if (l == 0) "yn"
        else if (l > 0) s"lag(yn, $l) OVER w"
        else s"lead(yn, ${-l}) OVER w"
      val lags = -2 to 2
      val lagCols = lags.map(l => s"${shifted(l)} AS y_${nm(l)}").mkString(",\n  ")
      val lagAggs = lags.map { l =>
        val s = nm(l)
        s"""count(y_$s) AS nl$s, sum(xc * y_$s) AS sxy$s,
           |  sum(CASE WHEN y_$s IS NOT NULL THEN xc END) AS sxl$s,
           |  sum(y_$s) AS syl$s""".stripMargin
      }.mkString(",\n  ")
      def lagRow(l: Int) = {
        val s = nm(l)
        s"""SELECT user_id, CAST($l AS BIGINT) AS "lag",
           |  CAST(nl$s AS BIGINT) AS n_pairs,
           |  CASE WHEN denx > 0 AND deny > 0 THEN
           |    (CAST(sxy$s AS DOUBLE) - muy * sxl$s - mux * syl$s
           |      + nl$s * mux * muy) / (sqrt(denx) * sqrt(deny))
           |  END AS ccf FROM m2""".stripMargin
      }
      s"""WITH h AS (SELECT user_id, date_trunc('hour', ts) AS ts,
         |  sum(CAST(round(value * 100) AS BIGINT)) AS xc, count(*) AS yn
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT user_id, xc, yn,
         |  $lagCols
         |  FROM h WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |a AS (SELECT user_id, count(*) AS n, sum(xc) AS sx,
         |  sum(xc * xc) AS sx2, sum(yn) AS sy, sum(yn * yn) AS sy2,
         |  $lagAggs
         |  FROM l GROUP BY user_id),
         |m AS (SELECT *, CAST(sx AS DOUBLE) / n AS mux,
         |  CAST(sy AS DOUBLE) / n AS muy FROM a),
         |m2 AS (SELECT *,
         |  CAST(sx2 AS DOUBLE) - 2.0 * mux * sx + n * mux * mux AS denx,
         |  CAST(sy2 AS DOUBLE) - 2.0 * muy * sy + n * muy * muy AS deny
         |  FROM m)
         |${lags.map(lagRow).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // single-batch streaming Holt: bit-identical to the batch window
    // aggregate, same recursive-CTE replay
    "q_stream_holt" -> holtSql,

    // single-batch streaming Kalman: bit-identical to the batch window
    // aggregate, same recursive-CTE replay
    "q_stream_kalman" -> kalmanSql,

    // interval overlap join (half-open): plain theta join is the oracle for
    // the bin-decomposed equi-join
    "q_interval_join" ->
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS s,
        |  epoch_us(ts + INTERVAL 2 HOUR) AS e FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS right_event_id, epoch_us(ts) AS rs,
        |  epoch_us(ts + INTERVAL 2 HOUR) AS re FROM events
        |  WHERE event_type = 'purchase')
        |SELECT c.user_id, c.event_id, c.s AS start_us,
        |  p.right_event_id, p.rs AS right_start_us,
        |  greatest(c.s, p.rs) AS ov_start_us, least(c.e, p.re) AS ov_end_us
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND c.s < p.re AND p.rs < c.e""".stripMargin,

    // coverage set algebra: the same boundary-delta sweep replayed in SQL
    // (ties at equal t break on (da, db) in both engines; see
    // IntervalsDF.coverageAlgebra)
    "q_interval_intersect" -> intervalAlgebraSql("deptha > 0 AND depthb > 0"),
    "q_interval_subtract" -> intervalAlgebraSql("deptha > 0 AND depthb = 0"),

    // point-in-interval join (half-open containment): plain theta join is
    // the oracle for the bin-decomposed equi-join
    "q_point_in_interval" ->
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'click'),
        |i AS (SELECT user_id, event_id AS interval_iv_id, epoch_us(ts) AS s,
        |  epoch_us(ts + INTERVAL 2 HOUR) AS e FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id, p.t AS ts_us, i.interval_iv_id,
        |  i.s AS iv_start_us, i.e AS iv_end_us
        |FROM p JOIN i ON p.user_id = i.user_id
        |  AND i.s <= p.t AND p.t < i.e""".stripMargin,

    // 5-row rolling median: frame multiset -> sort -> lower-median rank
    "q_rolling_median" -> rollMedSql,

    // exact lower-median per (user, day) on cent values — same rank
    // convention as rollMedSql
    "q_resample_median" ->
      """WITH c AS (SELECT user_id, date_trunc('day', ts) AS d,
        |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |g AS (SELECT user_id, d, list_sort(list(vc)) AS fr
        |  FROM c GROUP BY user_id, d)
        |SELECT user_id, epoch_us(d) AS ts_us,
        |  fr[CAST(ceil(len(fr) / 2.0) AS BIGINT)] AS median_vc
        |FROM g""".stripMargin,

    // step-function TWAP per (user, 6h): weight = µs to next obs in the
    // bucket (last obs until bucket end); exact HUGEINT weighted sum,
    // one double division
    "q_twap" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS tu, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |b AS (SELECT *, tu - tu % 21600000000 AS bu FROM c),
        |w AS (SELECT *, coalesce(lead(tu) OVER (PARTITION BY user_id, bu
        |    ORDER BY tu, event_id), bu + 21600000000) - tu AS wt FROM b)
        |SELECT user_id, bu AS bucket_us, count(*) AS n_obs,
        |  CAST(sum(wt) AS BIGINT) AS span_us,
        |  CASE WHEN sum(wt) > 0 THEN
        |    CAST(sum(CAST(vc AS HUGEINT) * wt) AS DOUBLE) /
        |      CAST(sum(wt) AS DOUBLE) END AS twap
        |FROM w GROUP BY user_id, bu""".stripMargin,

    // level-50 crossings: pure comparisons on the raw doubles
    "q_threshold_cross" -> thresholdCrossSql,
    "q_stream_threshold" -> thresholdCrossSql,

    // Bollinger: exact BIGINT frame sums, fixed assembly
    // mid = sx/n, dev = sqrt(n*sx2 - sx^2)/n, band = mid +- 2*dev
    "q_bollinger" ->
      """WITH c AS (SELECT user_id, ts, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |r AS (SELECT *, count(*) OVER f AS n,
        |  sum(vc) OVER f AS sx, sum(vc * vc) OVER f AS sx2
        |  FROM c WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT user_id, epoch_us(ts) AS ts_us, event_id, vc,
        |  CAST(sx AS DOUBLE) / n AS bb_mid,
        |  CAST(sx AS DOUBLE) / n +
        |    2.0 * (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)) / n) AS bb_upper,
        |  CAST(sx AS DOUBLE) / n -
        |    2.0 * (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)) / n) AS bb_lower
        |FROM r""".stripMargin,

    // single-batch streaming rolling median: same frame multiset + rank
    "q_stream_rollmed" -> rollMedSql,

    // gaps > 6h between consecutive observations; exact integer-us filter
    "q_gaps" ->
      """WITH l AS (SELECT user_id, ts, epoch_us(ts) AS us,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        |  FROM events)
        |SELECT user_id, epoch_us(pts) AS gap_start_us, us AS gap_end_us,
        |  CAST(us - epoch_us(pts) AS DOUBLE) / 1000000 AS gap_seconds
        |FROM l WHERE pts IS NOT NULL AND us - epoch_us(pts) > 21600000000""".stripMargin,

    "q_state_intervals" ->
      """WITH x AS (SELECT user_id, ts, (value >= 10.0) AS high FROM events),
        |y AS (SELECT user_id, ts, high, lag(ts) OVER w AS pts, lag(high) OVER w AS ph
        |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |z AS (SELECT user_id, ts, pts, NOT (high = ph) AS chg FROM y WHERE pts IS NOT NULL),
        |i AS (SELECT user_id, ts, pts, chg, sum(CASE WHEN chg THEN 1 ELSE 0 END) OVER
        |  (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM z)
        |SELECT user_id, epoch_us(min(pts)) AS start_us, epoch_us(max(ts)) AS end_us
        |FROM i WHERE NOT chg GROUP BY user_id, sid""".stripMargin,

    "q_bars" ->
      """SELECT user_id, epoch_us(date_trunc('day', ts)) AS ts_us,
        |min_by(value, ts) AS open_value, max(value) AS high_value,
        |min(value) AS low_value, max_by(value, ts) AS close_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_intervals_pivot" ->
      """SELECT user_id, epoch_us(date_trunc('hour', ts)) AS start_us,
        |epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS end_us,
        |max(value) FILTER (WHERE event_type = 'click') AS click,
        |max(value) FILTER (WHERE event_type = 'error') AS error,
        |max(value) FILTER (WHERE event_type = 'purchase') AS purchase,
        |max(value) FILTER (WHERE event_type = 'signup') AS signup,
        |max(value) FILTER (WHERE event_type = 'view') AS "view"
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q_intervals_stack" -> {
      val one = (m: String) =>
        s"""SELECT l_orderkey, l_linenumber, epoch_us(l_shipdate) AS start_us,
           |epoch_us(l_shipdate + INTERVAL 1 DAY) AS end_us,
           |'$m' AS metric_name, CAST($m AS DOUBLE) AS metric_value
           |FROM lineitem WHERE $m IS NOT NULL""".stripMargin
      Seq("l_quantity", "l_discount", "l_tax").map(one).mkString(" UNION ALL ")
    },

    "q_intervals_disjoint" -> intervalsDisjointSql,

    // the streaming maintainer's latest-rev snapshot IS the batch
    // makeDisjoint of everything ingested — the oracle is shared verbatim
    "q_stream_intervals" -> intervalsDisjointSql,
    "q_stream_intervals2" -> intervalsDisjoint2Sql,

    "q_slice_ops" -> {
      val pivot = "TIMESTAMP '2024-01-15 00:00:00'"
      def top(op: String, cond: String, dir: String, n: Int) =
        s"""SELECT '$op' AS op, user_id, epoch_us(ts) AS ts_us, event_id FROM
           |(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts $dir) AS rn
           | FROM events WHERE $cond) t WHERE rn <= $n""".stripMargin
      s"""SELECT 'at_min' AS op, user_id, epoch_us(ts) AS ts_us, event_id
         |FROM events WHERE ts = (SELECT min(ts) FROM events)
         |UNION ALL ${top("prior_to", s"ts <= $pivot", "DESC", 2)}
         |UNION ALL ${top("subsequent_to", s"ts >= $pivot", "ASC", 2)}
         |UNION ALL ${top("last_before", s"ts < $pivot", "DESC", 1)}
         |UNION ALL ${top("first_after", s"ts > $pivot", "ASC", 1)}""".stripMargin
    },

    "q_intervals_union" -> {
      def iv(t: String) =
        s"""SELECT user_id, epoch_us(ts) AS start_us,
           |epoch_us(ts + INTERVAL 1 HOUR) AS end_us, value
           |FROM events WHERE event_type = '$t'""".stripMargin
      // positional union of clicks + purchases, then by-name union of the
      // purchases again (column order is irrelevant to the value multiset)
      s"${iv("click")} UNION ALL ${iv("purchase")} UNION ALL ${iv("purchase")}"
    },

    // replays what the sink derives and persists: event_dt partition (epoch
    // days) and the HHmmss-as-double event_time; value/ts round-trip exactly
    // bucketed-table round-trip is value-faithful (layout-independent)
    "q_write_bucketed" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, value FROM events""",

    "q_write_roundtrip" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, value,
        |CAST(CAST(strftime(ts, '%H%M%S') AS BIGINT) AS DOUBLE) AS event_time,
        |CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS event_dt_days
        |FROM events""".stripMargin,

    // the trained codebook replayed via two unrolled Lloyd iterations
    "q_ivf_train" ->
      s"""WITH ${ivfTrainCtes(4, 2)}
         |SELECT cell, unnest(range(1, len(cv)+1)) AS pos,
         |unnest(cv) AS mean_value FROM c2""".stripMargin,

    // same multiset as q_write_roundtrip: the z-curve changes only layout
    "q_write_zorder" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, value,
        |CAST(CAST(strftime(ts, '%H%M%S') AS BIGINT) AS DOUBLE) AS event_time,
        |CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS event_dt_days
        |FROM events""".stripMargin,

    // Hilbert index replay: the identical per-level rotate-and-reflect
    // arithmetic as graft.functions.HilbertIndex.hilbert2, run as a
    // recursive CTE over (x, y, s, d) — pure integer ops, s halves from
    // 2^(bits-1) to 0, rows finish when s = 0.
    "q_hilbert" ->
      """WITH RECURSIVE pts AS (
        |  SELECT o_orderkey, CAST(o_orderkey % 256 AS BIGINT) AS x0,
        |         CAST(o_custkey % 256 AS BIGINT) AS y0
        |  FROM orders WHERE o_orderkey < 4000),
        |walk AS (
        |  SELECT o_orderkey, x0, y0, x0 AS x, y0 AS y,
        |         CAST(128 AS BIGINT) AS s, CAST(0 AS BIGINT) AS d
        |  FROM pts
        |  UNION ALL
        |  SELECT o_orderkey, x0, y0,
        |    CASE WHEN (y // s) % 2 = 1 THEN x
        |         WHEN (x // s) % 2 = 1 THEN 255 - y ELSE y END,
        |    CASE WHEN (y // s) % 2 = 1 THEN y
        |         WHEN (x // s) % 2 = 1 THEN 255 - x ELSE x END,
        |    s // 2,
        |    d + s * s * xor(3 * ((x // s) % 2), (y // s) % 2)
        |  FROM walk WHERE s >= 1)
        |SELECT o_orderkey, x0 AS x, y0 AS y, d AS hilbert_d
        |FROM walk WHERE s = 0""".stripMargin,

    "q_cv_folds" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |CAST(ntile(6) OVER (PARTITION BY user_id ORDER BY ts) - 1 AS BIGINT) AS split_idx
        |FROM events""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |sum(l_quantity) AS sum_qty,
        |sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
        |sum(CAST(round(l_extendedprice * 100) * (100 - round(l_discount * 100)) AS BIGINT)) / 10000.0 AS sum_disc_price,
        |sum(CAST(round(l_extendedprice * 100) * (100 - round(l_discount * 100)) * (100 + round(l_tax * 100)) AS BIGINT)) / 1000000.0 AS sum_charge,
        |avg(l_quantity) AS avg_qty,
        |avg(round(l_extendedprice * 100)) / 100.0 AS avg_price,
        |avg(round(l_discount * 100)) / 100.0 AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_revenue_nation" ->
      """SELECT r_name, n_name,
        |sum(round(l_extendedprice * 100) * (100 - round(l_discount * 100))) / 10000.0 AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,

    "q_top_orders" ->
      """SELECT o_custkey, CAST(rn AS BIGINT) AS "rank", o_orderkey, o_totalprice FROM
        |(SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        | FROM orders) t
        |WHERE rn <= 3""".stripMargin,

    "q_dedup_exact" ->
      s"""SELECT md5($norm) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
         |FROM documents GROUP BY 1""".stripMargin,

    "q_dup_stats" ->
      s"""WITH g AS (SELECT md5($norm) AS fp, count(*) AS n
         |  FROM documents GROUP BY 1)
         |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |  count(*) AS n_distinct,
         |  CAST(sum(n - 1) AS BIGINT) AS n_dup_docs,
         |  CAST(sum(n - 1) AS DOUBLE) / sum(n) AS dup_rate
         |FROM g""".stripMargin,

    "q_jaccard_pairs" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |  list_transform(list_distinct(string_split($norm, ' ')), x -> ${Hashing.polyHashSql("x")}) AS toks
         |  FROM documents),
         |p AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
         |  ((len(a.toks) + len(b.toks)) - CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)) AS jaccard
         |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id)
         |SELECT doc_id_a, doc_id_b, jaccard FROM p WHERE jaccard >= 0.5""".stripMargin,

    "q_embed_neardup" ->
      s"""WITH q AS (SELECT vec_id, label, $qv AS q FROM embeddings),
         |p AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
         |  ${cosSql("a.q", "b.q")} AS cosine
         |  FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT vec_id_a, vec_id_b, cosine FROM p WHERE cosine >= 0.3""".stripMargin,

    "q_ann_topk" ->
      s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
         |s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  ${cosSql("a.q", "b.q")} AS cosine
         |  FROM (SELECT * FROM q WHERE vec_id < 20) a CROSS JOIN q b
         |  WHERE a.vec_id <> b.vec_id),
         |r AS (SELECT query_id, neighbor_id, cosine,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
         |  FROM s)
         |SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id, cosine FROM r WHERE rn <= 3""".stripMargin,

    // Hard-negative replay: the q_ann_topk chain with the anchor-vs-
    // candidate label inequality applied before the per-anchor rank window.
    "q_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id, label, $qv AS q FROM embeddings),
         |s AS (SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
         |  ${cosSql("a.q", "b.q")} AS cosine
         |  FROM (SELECT * FROM q WHERE vec_id < 20) a CROSS JOIN q b
         |  WHERE a.label <> b.label),
         |r AS (SELECT anchor_id, negative_id, cosine,
         |  row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, negative_id ASC) AS rn
         |  FROM s)
         |SELECT anchor_id, CAST(rn AS BIGINT) AS "rank", negative_id, cosine FROM r WHERE rn <= 3""".stripMargin,

    // Per-label centroid replay: exact per-dimension integer sums + one
    // division per cell.
    "q_embed_centroids" ->
      s"""WITH v AS (SELECT vec_id, label, $qv AS q FROM embeddings),
         |e AS (SELECT label, unnest(q) AS x,
         |  generate_subscripts(q, 1) - 1 AS dim FROM v),
         |a AS (SELECT label, CAST(dim AS BIGINT) AS dim,
         |  CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
         |  FROM e GROUP BY 1, 2)
         |SELECT label, dim, n, s,
         |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean FROM a""".stripMargin,

    // Centroid-cosine drift matrix: cosine(sum_a, sum_b) on the exact
    // integer sum vectors (scaling cancels), one fixed composition of
    // correctly-rounded sqrt/mul/div.
    "q_centroid_cosine" ->
      s"""WITH v AS (SELECT vec_id, label, $qv AS q FROM embeddings),
         |e AS (SELECT label, unnest(q) AS x,
         |  generate_subscripts(q, 1) - 1 AS dim FROM v),
         |a AS (SELECT label, dim, CAST(sum(x) AS BIGINT) AS s
         |  FROM e GROUP BY 1, 2),
         |nq AS (SELECT label, CAST(sum(s * s) AS BIGINT) AS q
         |  FROM a GROUP BY label),
         |p AS (SELECT x.label AS label_a, y.label AS label_b,
         |  CAST(sum(x.s * y.s) AS BIGINT) AS dot
         |  FROM a x JOIN a y ON x.dim = y.dim AND x.label < y.label
         |  GROUP BY 1, 2)
         |SELECT label_a, label_b, dot, na.q AS qa, nb.q AS qb,
         |  CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(na.q AS DOUBLE)) * sqrt(CAST(nb.q AS DOUBLE)))
         |    AS cosine
         |FROM p JOIN nq na ON na.label = p.label_a
         |JOIN nq nb ON nb.label = p.label_b""".stripMargin,

    // Embedding-QA replay: same quantized vectors, exact fold arithmetic.
    "q_embed_qa" ->
      s"""WITH v AS (SELECT vec_id, $qv AS q FROM embeddings)
         |SELECT vec_id,
         |  CAST(list_sum(list_transform(q,
         |    x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT)
         |    AS norm_sq,
         |  CAST(len(list_filter(q, x -> x = 0)) AS BIGINT) AS n_zero,
         |  CAST(list_max(list_transform(q,
         |    x -> abs(CAST(x AS BIGINT)))) AS BIGINT) AS max_abs,
         |  list_sum(list_transform(q,
         |    x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) > 0
         |    AND list_max(list_transform(q, x -> abs(CAST(x AS BIGINT))))
         |      <= 1000000 AS embed_ok
         |FROM v""".stripMargin,

    // Embedding-contamination replay: eval (vec_id < 20) vs the rest,
    // same cosine arithmetic, exact hit counts at tau = 0.999.
    "q_embed_contamination" ->
      s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
         |p AS (SELECT a.vec_id AS eval_id,
         |  ${cosSql("a.q", "b.q")} AS c
         |  FROM (SELECT * FROM q WHERE vec_id < 20) a
         |  CROSS JOIN (SELECT * FROM q WHERE vec_id >= 20) b
         |  WHERE a.vec_id <> b.vec_id)
         |SELECT eval_id,
         |  CAST(sum(CASE WHEN c >= 0.999 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  max(c) AS max_cosine,
         |  sum(CASE WHEN c >= 0.999 THEN 1 ELSE 0 END) > 0 AS contaminated
         |FROM p GROUP BY eval_id""".stripMargin,

    // Positive-pair replay: same chain with label EQUALITY (self excluded).
    "q_positive_pairs" ->
      s"""WITH q AS (SELECT vec_id, label, $qv AS q FROM embeddings),
         |s AS (SELECT a.vec_id AS anchor_id, b.vec_id AS positive_id,
         |  ${cosSql("a.q", "b.q")} AS cosine
         |  FROM (SELECT * FROM q WHERE vec_id < 20) a CROSS JOIN q b
         |  WHERE a.label = b.label AND a.vec_id <> b.vec_id),
         |r AS (SELECT anchor_id, positive_id, cosine,
         |  row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, positive_id ASC) AS rn
         |  FROM s)
         |SELECT anchor_id, CAST(rn AS BIGINT) AS "rank", positive_id, cosine FROM r WHERE rn <= 3""".stripMargin,

    "q_lang_id" -> {
      val markers = graft.pipeline.TextAnalysis.LangMarkers
      val scores = markers.map { case (l, ms) => s"${langScore(ms)} AS ${l}_score" }
        .mkString(",\n  ")
      """WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
        |sc AS (SELECT doc_id,
        |  SCORES
        |  FROM p)
        |SELECT doc_id, en_score, de_score, fr_score, es_score, zh_score,
        |CASE WHEN zh_score > greatest(en_score, de_score, fr_score, es_score) THEN 'zh'
        |     WHEN es_score > greatest(en_score, de_score, fr_score) THEN 'es'
        |     WHEN fr_score > greatest(en_score, de_score) THEN 'fr'
        |     WHEN de_score > en_score THEN 'de'
        |     ELSE 'en' END AS pred_lang
        |FROM sc""".stripMargin.replace("SCORES", scores)
    },

    "q_quality" -> {
      val nt = "CASE WHEN length(tt) = 0 THEN 0 ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END"
      val punct = Seq(".", ",", "!", "?", ";", ":")
        .map(p => occ("text", p)).mkString(" + ")
      val stop = Seq(" the ", " a ", " and ", " of ", " to ", " in ")
        .map(sw => occ("pt", sw)).mkString(" + ")
      s"""WITH x AS (SELECT doc_id, text, length(text) AS nc,
         |  trim(regexp_replace(text, ' +', ' ', 'g')) AS tt,
         |  ' ' || lower(text) || ' ' AS pt FROM documents),
         |y AS (SELECT doc_id, text, nc, pt, $nt AS nt FROM x),
         |z AS (SELECT doc_id, nc, nt,
         |  CAST(nc AS DOUBLE) / nt AS mwl,
         |  CAST(($punct) AS DOUBLE) / nc AS pr,
         |  CAST(($stop) AS DOUBLE) / nt AS sr
         |  FROM y),
         |f AS (SELECT doc_id, nc, nt, mwl, pr, sr,
         |  least(CAST(nc AS DOUBLE) / 500.0, 1.0) AS ls,
         |  CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END AS wls,
         |  least(sr * 5.0, 1.0) AS ss
         |  FROM z)
         |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
         |  floor(mwl * 10000 + 0.5) / 10000.0 AS mean_word_len,
         |  floor(pr * 1000000 + 0.5) / 1000000.0 AS punct_ratio,
         |  floor(sr * 1000000 + 0.5) / 1000000.0 AS stopword_ratio,
         |  floor((ls * 0.4 + wls * 0.3 + ss * 0.3) * 10000 + 0.5) / 10000.0 AS quality_score
         |FROM f""".stripMargin
    },

    // HTML strip: same RE2-subset patterns as TextAnalysis.stripHtml, with
    // DuckDB's 'g' flag standing in for Java's replace-all default
    "q_strip_html" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><head><style type="text/css">body { color: #fff; }</style></head><body><h1 class="t">Doc '
        |  || CAST(doc_id AS VARCHAR)
        |  || '</h1><script>var x = 1 < 2 && 3 > 2;</script><p id="b">'
        |  || text
        |  || '</p><br/><div>tail &amp;amp; &lt;b&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div></body></html>'
        |  AS html FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(regexp_replace(html,
        |  '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
        |  '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS x FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(x, '<[^>]*>', ' ', 'g') AS x FROM s1),
        |s3 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(x,
        |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', ''''), '&amp;', '&') AS x FROM s2),
        |f AS (SELECT doc_id, trim(regexp_replace(x, '\s+', ' ', 'g')) AS x FROM s3)
        |SELECT doc_id, md5(x) AS stripped_md5,
        |  CAST(length(x) AS BIGINT) AS n_chars_stripped FROM f""".stripMargin,

    // URL canonicalization + dedup: same RE2-subset rules as
    // TextAnalysis.normalizeUrl; query params filtered via list ops (order-
    // preserving, robust to adjacent tracking params)
    "q_url_dedup" ->
      """WITH u0 AS (SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INTEGER)
        |    WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Docs/' || CAST(doc_id // 4 AS VARCHAR) || '/?utm_source=x&utm_medium=y'
        |    WHEN 1 THEN 'http://example.com/Docs/' || CAST(doc_id // 4 AS VARCHAR)
        |    WHEN 2 THEN 'https://Sub.Example.com:443/p/' || CAST(doc_id // 4 AS VARCHAR) || '?a=1&utm_campaign=z&fbclid=abc#frag'
        |    ELSE 'https://sub.example.com/p/' || CAST(doc_id // 4 AS VARCHAR) || '?a=1' END AS url
        |  FROM documents),
        |t1 AS (SELECT doc_id, url, trim(url) AS t FROM u0),
        |t2 AS (SELECT *, lower(regexp_extract(t, '^([^/?#]*//[^/?#]*)', 1))
        |  || regexp_replace(t, '^[^/?#]*//[^/?#]*', '') AS h FROM t1),
        |t3 AS (SELECT *, regexp_replace(h, '^(https?://)www\.', '\1') AS h2 FROM t2),
        |t4 AS (SELECT *, regexp_replace(regexp_replace(h2,
        |  '^(http://[^/?#:]*):80([/?#]|$)', '\1\2'),
        |  '^(https://[^/?#:]*):443([/?#]|$)', '\1\2') AS h3 FROM t3),
        |t5 AS (SELECT *, regexp_replace(h3, '#.*$', '') AS nf FROM t4),
        |t6 AS (SELECT *,
        |  regexp_replace(regexp_extract(nf, '^([^?]*)', 1), '/+$', '') AS base,
        |  regexp_extract(nf, '^[^?]*\?(.*)$', 1) AS qs FROM t5),
        |t7 AS (SELECT *, coalesce(array_to_string(list_filter(string_split(qs, '&'),
        |  p -> p <> '' AND NOT regexp_matches(p,
        |    '^(utm_[^=&]*|fbclid|gclid|ref)(=.*)?$')), '&'), '') AS kept FROM t6),
        |u AS (SELECT doc_id, url, base ||
        |  CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canonical_url
        |  FROM t7),
        |w AS (SELECT canonical_url, min(doc_id) AS win FROM u GROUP BY canonical_url)
        |SELECT u.doc_id, u.url, u.canonical_url, u.doc_id = w.win AS is_kept
        |FROM u JOIN w ON u.canonical_url = w.canonical_url""".stripMargin,

    // quality-weighted sampling: q_quality's score CTEs + the deterministic
    // hash-threshold filter of Splits.weightedSample (seed 19, 1e6 buckets)
    "q_weighted_sample" -> {
      val nt = "CASE WHEN length(tt) = 0 THEN 0 ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END"
      val stop = Seq(" the ", " a ", " and ", " of ", " to ", " in ")
        .map(sw => occ("pt", sw)).mkString(" + ")
      val h = s"(${Hashing.mixSql(Hashing.polyHashSql("CAST(doc_id AS VARCHAR)"), 19)}) % 1000000"
      s"""WITH x AS (SELECT doc_id, text, length(text) AS nc,
         |  trim(regexp_replace(text, ' +', ' ', 'g')) AS tt,
         |  ' ' || lower(text) || ' ' AS pt FROM documents),
         |y AS (SELECT doc_id, text, nc, pt, $nt AS nt FROM x),
         |z AS (SELECT doc_id, nc, nt,
         |  CAST(nc AS DOUBLE) / nt AS mwl,
         |  CAST(($stop) AS DOUBLE) / nt AS sr
         |  FROM y),
         |f AS (SELECT doc_id,
         |  least(CAST(nc AS DOUBLE) / 500.0, 1.0) AS ls,
         |  CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END AS wls,
         |  least(sr * 5.0, 1.0) AS ss
         |  FROM z),
         |q AS (SELECT doc_id,
         |  floor((ls * 0.4 + wls * 0.3 + ss * 0.3) * 10000 + 0.5) / 10000.0 AS quality_score
         |  FROM f)
         |SELECT doc_id, quality_score FROM q
         |WHERE ($h) < CAST(floor(quality_score * 1000000) AS BIGINT)""".stripMargin
    },

    "q_quality_v2" -> {
      def top(g: String) =
        s"""CASE WHEN len($g) >= 1 THEN
           |  CAST(list_max(list_transform(list_distinct($g),
           |    g -> len(list_filter($g, x -> x = g)))) AS DOUBLE) / len($g)
           |  ELSE 0.0 END""".stripMargin
      def r6(e: String) = s"floor(($e) * 1000000 + 0.5) / 1000000.0"
      // newlines become spaces before normalization (see
      // TextAnalysis.joinLines) so words never merge across line breaks
      val norm2 = norm.replace("lower(text)",
        "lower(replace(text, chr(10), ' '))")
      s"""WITH x AS (SELECT doc_id,
         |  string_split(text, chr(10)) AS lines,
         |  string_split($norm2, ' ') AS toks FROM documents),
         |g AS (SELECT doc_id, lines, toks,
         |  CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i+1]) ELSE [] END AS g2,
         |  CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) ELSE [] END AS g3
         |  FROM x),
         |f AS (SELECT doc_id,
         |  CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines) AS dl,
         |  CAST(len(list_filter(lines, l -> ends_with(trim(l), '...'))) AS DOUBLE)
         |    / len(lines) AS el,
         |  CAST(len(list_filter(lines, l -> starts_with(trim(l), '-')
         |    OR starts_with(trim(l), '*'))) AS DOUBLE) / len(lines) AS bl,
         |  CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dt,
         |  ${top("g2")} AS t2,
         |  ${top("g3")} AS t3
         |  FROM g)
         |SELECT doc_id,
         |  ${r6("dl")} AS dup_line_frac,
         |  ${r6("el")} AS ellipsis_line_frac,
         |  ${r6("bl")} AS bullet_line_frac,
         |  ${r6("dt")} AS dup_token_frac,
         |  ${r6("t2")} AS top2gram_frac,
         |  ${r6("t3")} AS top3gram_frac
         |FROM f""".stripMargin
    },

    // Char-weighted Gopher repetition replay: same token/line char-mass
    // conventions as TextAnalysis.charRepetitionSignals, whose Spark side
    // is the one-pass TextKernels.repetition kernel (gram mass = len
    // minus joining spaces; coverage counts a token once under any
    // duplicated window; zero denominators -> 0.0), same roundDet.
    "q_repetition" -> {
      def r6(e: String) = s"floor(($e) * 1000000 + 0.5) / 1000000.0"
      val norm2 = norm.replace("lower(text)",
        "lower(replace(text, chr(10), ' '))")
      def gramDef(n: Int) =
        s"CASE WHEN len(toks) >= $n THEN list_transform(range(1, " +
          s"len(toks) - ${n - 2}), i -> array_to_string(toks[i:i+${n - 1}], " +
          s"' ')) ELSE [] END AS g$n"
      def topExpr(n: Int) = {
        val mc = s"list_max(list_transform(list_distinct(g$n), " +
          s"g -> len(list_filter(g$n, x -> x = g))))"
        s"""CASE WHEN ttot > 0 AND len(g$n) >= 1 THEN
           |  CAST($mc * list_max(list_transform(
           |    list_filter(list_distinct(g$n),
           |      gq -> len(list_filter(g$n, xq -> xq = gq)) = $mc),
           |    gm -> len(gm) - ${n - 1})) AS DOUBLE) / ttot
           |  ELSE 0.0 END""".stripMargin
      }
      def flagsDef(n: Int) =
        s"list_transform(g$n, g -> len(list_filter(g$n, x -> x = g)) >= 2) " +
          s"AS f$n"
      def covExpr(n: Int) =
        s"""CASE WHEN ttot > 0 AND len(g$n) >= 1 THEN
           |  CAST(coalesce(list_sum(list_transform(range(1, len(toks) + 1),
           |    i -> CASE WHEN len(list_filter(
           |        range(greatest(1, i - ${n - 1}), least(i, len(g$n)) + 1),
           |        s -> f$n[s])) > 0 THEN len(toks[i]) ELSE 0 END)), 0)
           |    AS DOUBLE) / ttot ELSE 0.0 END""".stripMargin
      val dl =
        """CASE WHEN ltot > 0 THEN
          |  CAST(coalesce(list_sum(list_transform(lines,
          |    l -> CASE WHEN len(list_filter(lines, x -> x = l)) >= 2
          |      THEN len(l) ELSE 0 END)), 0) AS DOUBLE) / ltot
          |  ELSE 0.0 END""".stripMargin
      s"""WITH x AS (SELECT doc_id,
         |  string_split(text, chr(10)) AS lines,
         |  string_split($norm2, ' ') AS toks FROM documents),
         |b AS (SELECT doc_id, lines, toks,
         |  coalesce(list_sum(list_transform(lines, l -> len(l))), 0) AS ltot,
         |  coalesce(list_sum(list_transform(toks, t -> len(t))), 0) AS ttot
         |  FROM x),
         |g AS (SELECT *, ${Seq(2, 3, 4, 5, 10).map(gramDef).mkString(",\n  ")}
         |  FROM b),
         |f AS (SELECT *, ${Seq(5, 10).map(flagsDef).mkString(",\n  ")} FROM g)
         |SELECT doc_id,
         |  ${r6(dl)} AS dup_line_char_frac,
         |  ${r6(topExpr(2))} AS top2gram_char_frac,
         |  ${r6(topExpr(3))} AS top3gram_char_frac,
         |  ${r6(topExpr(4))} AS top4gram_char_frac,
         |  ${r6(covExpr(5))} AS dup5gram_char_frac,
         |  ${r6(covExpr(10))} AS dup10gram_char_frac
         |FROM f""".stripMargin
    },

    // PII detection/redaction replay: identical injected text, identical
    // Java-regex∩RE2 patterns (generated from Pii.Patterns — single source
    // of truth), DuckDB's 'g' flag matching Spark's replace-all default.
    "q_pii" -> {
      val inj = "text || ' Contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || " +
        "'.7 call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || " +
        "'-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
        "' ssn 123-45-6789'"
      val counts = graft.pipeline.Pii.Patterns.map { case (name, pat, _) =>
        s"CAST(len(regexp_extract_all(t, '$pat')) AS BIGINT) AS n_$name"
      }.mkString(",\n  ")
      val redacted = graft.pipeline.Pii.Patterns.foldLeft("t") {
        case (e, (_, pat, repl)) => s"regexp_replace($e, '$pat', '$repl', 'g')"
      }
      s"""WITH x AS (SELECT doc_id, $inj AS t FROM documents)
         |SELECT doc_id,
         |  $counts,
         |  md5($redacted) AS redacted_md5
         |FROM x""".stripMargin
    },

    // BM25 replay: same Lucene-form idf, same fixed-term-order pivot sum
    // (float addition order matters), same deterministic rounding + tiebreak.
    "q_bm25" -> {
      val terms = SparkEntry.Bm25Terms
      val k = 20
      val termList = terms.map(t => s"'$t'").mkString(", ")
      val avgdl = "(CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))"
      val idf = "ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))"
      val contrib =
        s"($idf * (tf * 2.2)) / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / $avgdl))"
      val pivots = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN c END) AS c$i"
      }.mkString(",\n  ")
      val score = terms.indices.map(i => s"coalesce(c$i, 0.0)").mkString(" + ")
      s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
         |tok AS (SELECT doc_id, len(string_split(nrm, ' ')) AS dl,
         |  unnest(string_split(nrm, ' ')) AS term FROM d),
         |qt AS (SELECT * FROM tok WHERE term IN ($termList)),
         |tf AS (SELECT doc_id, term, max(dl) AS dl, count(*) AS tf
         |  FROM qt GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM qt GROUP BY term),
         |stats AS (SELECT count(*) AS n,
         |  CAST(sum(len(string_split(nrm, ' '))) AS BIGINT) AS tot FROM d),
         |ct AS (SELECT tf.doc_id, tf.term, $contrib AS c
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
         |sc AS (SELECT doc_id,
         |  $pivots
         |  FROM ct GROUP BY doc_id),
         |r AS (SELECT doc_id, floor(($score) * 10000.0 + 0.5) / 10000.0 AS score FROM sc),
         |t AS (SELECT doc_id, score,
         |  row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM r)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS "rank", score FROM t
         |WHERE rnk <= $k""".stripMargin
    },

    // multi-query BM25: per-term contributions quantized to exact BIGINT
    // micro-units (floor(c*1e6 + 0.5); positive, so half-up in any engine)
    // and integer-summed per (query, doc) — order-independent, replayable
    "q_bm25_multi" -> bm25MultiSql,

    "q_bm25_indexed" -> bm25MultiSql,

    // TF-IDF over the same postings index + query batch
    "q_tfidf" -> tfidfSql,

    // RRF replay: both ranking replays nested verbatim as subqueries, the
    // same fixed-order 1/(60 + rank) sum, per-query re-rank with id ties.
    "q_rrf" ->
      s"""WITH ab AS (SELECT query_id, doc_id, "rank" AS ra FROM ($bm25MultiSql)),
         |tb AS (SELECT query_id, doc_id, "rank" AS rb FROM ($tfidfSql)),
         |j AS (SELECT COALESCE(ab.query_id, tb.query_id) AS query_id,
         |  COALESCE(ab.doc_id, tb.doc_id) AS doc_id, ra, rb
         |  FROM ab FULL OUTER JOIN tb
         |    ON ab.query_id = tb.query_id AND ab.doc_id = tb.doc_id),
         |sc AS (SELECT query_id, doc_id,
         |  COALESCE(1.0 / (60.0 + CAST(ra AS DOUBLE)), 0.0) +
         |  COALESCE(1.0 / (60.0 + CAST(rb AS DOUBLE)), 0.0) AS rrf FROM j),
         |t AS (SELECT query_id, doc_id, rrf, row_number() OVER (
         |  PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS fr FROM sc)
         |SELECT query_id, CAST(fr AS BIGINT) AS fused_rank, doc_id, rrf
         |FROM t WHERE fr <= 10""".stripMargin,

    // TRUE hybrid RRF: the BM25 replay fused with the embedding ANN
    // replay (bounded query-doc anchors, q_ann_topk arithmetic at k=10)
    // through the identical fixed-order 1/(60 + rank) tail.
    "q_rrf_hybrid" -> {
      val qids = SparkEntry.Bm25Queries.map(_._1).mkString(", ")
      s"""WITH ab AS (SELECT query_id, doc_id, "rank" AS ra FROM ($bm25MultiSql)),
         |ann AS (SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
         |  ${cosSql("a.q", "b.q")} AS cosine
         |  FROM (SELECT vec_id, $qv AS q FROM embeddings
         |        WHERE vec_id IN ($qids)) a
         |  CROSS JOIN (SELECT vec_id, $qv AS q FROM embeddings) b
         |  WHERE a.vec_id <> b.vec_id),
         |tb AS (SELECT query_id, doc_id, rn AS rb FROM (
         |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, doc_id ASC) AS rn FROM ann)
         |  WHERE rn <= 10),
         |j AS (SELECT COALESCE(ab.query_id, tb.query_id) AS query_id,
         |  COALESCE(ab.doc_id, tb.doc_id) AS doc_id, ra, rb
         |  FROM ab FULL OUTER JOIN tb
         |    ON ab.query_id = tb.query_id AND ab.doc_id = tb.doc_id),
         |sc AS (SELECT query_id, doc_id,
         |  COALESCE(1.0 / (60.0 + CAST(ra AS DOUBLE)), 0.0) +
         |  COALESCE(1.0 / (60.0 + CAST(rb AS DOUBLE)), 0.0) AS rrf FROM j),
         |t AS (SELECT query_id, doc_id, rrf, row_number() OVER (
         |  PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS fr FROM sc)
         |SELECT query_id, CAST(fr AS BIGINT) AS fused_rank, doc_id, rrf
         |FROM t WHERE fr <= 10""".stripMargin
    },

    // SQ8 code-space top-k (integer distances, exact everywhere)
    "q_ann_sq8" -> annSq8Sql,

    // KMV distinct-token sketch per source: k=256 min distinct hashes;
    // (k-1)*P / kth as one double division, exact count under k
    "q_kmv_distinct" -> kmvReplaySql,
    "q_kmv_wide" -> kmvWideReplaySql,

    // KMV set-operation replay (Beyer et al. estimator): per-source k-min
    // lists, union k-min by sort+slice, intersection by membership in
    // both sides' lists — every number a pure function of the value sets,
    // the same single-division double arithmetic as the Spark side.
    "q_kmv_jaccard" -> {
      val h = Hashing.mixSql(Hashing.polyHashSql("tok"), 17)
      val scale = 255.0 * Hashing.P
      val jac = "CASE WHEN len(ku) > 0 THEN CAST(len(ki) AS DOUBLE) / CAST(len(ku) AS DOUBLE) END"
      val uest = s"CASE WHEN len(ku) < 256 THEN CAST(len(ku) AS DOUBLE) ELSE $scale / greatest(ku[256], 1) END"
      s"""WITH t AS (SELECT source,
         |  unnest(string_split($norm, ' ')) AS tok FROM documents),
         |h AS (SELECT DISTINCT source, ($h) AS hh FROM t),
         |r AS (SELECT source, hh, row_number() OVER (PARTITION BY source
         |  ORDER BY hh) AS rn FROM h),
         |s AS (SELECT source, list(hh ORDER BY hh) AS ks FROM r
         |  WHERE rn <= 256 GROUP BY source),
         |p AS (SELECT a.source AS group_a, b.source AS group_b,
         |  a.ks AS ka, b.ks AS kb FROM s a, s b WHERE a.source < b.source),
         |u AS (SELECT *, list_sort(list_distinct(list_concat(ka, kb)))[1:256] AS ku FROM p),
         |i AS (SELECT *, list_filter(ku,
         |  x -> list_contains(ka, x) AND list_contains(kb, x)) AS ki FROM u)
         |SELECT group_a, group_b,
         |  CAST(len(ku) AS BIGINT) AS n_union_kept,
         |  CAST(len(ki) AS BIGINT) AS n_inter,
         |  $jac AS jaccard_est,
         |  $uest AS union_est,
         |  ($jac) * ($uest) AS inter_est
         |FROM i""".stripMargin
    },

    // the streaming changelog sink folds back to the identical k-min set
    // (any final member entered the running set at first sight), so the
    // streaming twin shares the batch replay verbatim
    "q_stream_kmv" -> kmvReplaySql,
    // the wide streaming twin folds to the batch wide KMV exactly
    // (changelog superset invariant), so it shares q_kmv_wide's replay
    "q_stream_kmv_wide" -> kmvWideReplaySql,

    // HyperLogLog replay: 64 registers over the 30-bit polynomial hash,
    // rho via an unrolled bit-length CASE chain, harmonic sum in integer
    // space (s_int), estimate = one division of two exact doubles. The
    // Spark side builds two parity-shard sketches and max-merges them;
    // merge == combined build exactly, so the replay builds once.
    "q_hll_distinct" -> {
      val h = Hashing.mixSql(Hashing.polyHashSql("tok"), 29)
      val bl = (24 to 1 by -1)
        .map(k => s"WHEN w >= ${1L << (k - 1)} THEN $k").mkString(" ")
      val r2 = 1L << 25
      s"""WITH t AS (SELECT source,
         |  unnest(string_split($norm, ' ')) AS tok FROM documents),
         |h AS (SELECT source, ($h) AS hh FROM t),
         |b AS (SELECT source, hh % 64 AS bucket, hh // 64 AS w FROM h),
         |reg AS (SELECT source, bucket,
         |  max(25 - (CASE $bl ELSE 0 END)) AS register
         |  FROM b GROUP BY source, bucket),
         |g AS (SELECT source, count(*) AS n_set,
         |  CAST(sum((CAST(1 AS BIGINT) << (25 - register))) AS BIGINT) AS s_set
         |  FROM reg GROUP BY source)
         |SELECT source, 64 - n_set AS n_zero,
         |  s_set + (64 - n_set) * $r2 AS s_int,
         |  (709.0 * ${64.0 * 64.0 * r2}) /
         |    (1000.0 * CAST(s_set + (64 - n_set) * $r2 AS DOUBLE)) AS hll_est
         |FROM g""".stripMargin
    },

    // Wide-family HLL replay: the q_hll_distinct arithmetic through the
    // ~60-bit CRT-pair space — rho out of 55 (wBits = 60 - 6), harmonic
    // sum still an exact BIGINT (<= 64 * 2^55), the estimate the same
    // single IEEE division of exactly-representable doubles. Shard split
    // is irrelevant to the replay (register merge == union build), so
    // the streaming twin shares this SQL verbatim.
    "q_hll_wide" -> hllWideReplaySql,
    "q_stream_hll_wide" -> hllWideReplaySql,

    // Pairwise-correlation replay: identical fixed-point moments (BIGINT
    // sums of scaled longs) and the identical IEEE op sequence for the
    // Pearson formula (mult/sub/sqrt are correctly rounded — bit-equal).
    "q_corr" -> {
      val scales = Seq("l_quantity" -> 100L, "l_extendedprice" -> 1L,
        "l_discount" -> 10000L, "l_tax" -> 10000L)
      val scaledSel = scales.map { case (c, s) =>
        s"CAST(floor($c * $s.0 + 0.5) AS BIGINT) AS s_$c" }.mkString(", ")
      val pairs = for {
        i <- scales.indices; j <- scales.indices if i < j
      } yield (scales(i)._1, scales(j)._1)
      val pairSqls = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_x, '$b' AS col_y, count(*) AS n,
           |CAST(sum(s_$a) AS BIGINT) AS sx, CAST(sum(s_$b) AS BIGINT) AS sy,
           |CAST(sum(s_$a * s_$a) AS BIGINT) AS sxx,
           |CAST(sum(s_$b * s_$b) AS BIGINT) AS syy,
           |CAST(sum(s_$a * s_$b) AS BIGINT) AS sxy FROM sc""".stripMargin
      }
      val dn = "CAST(n AS DOUBLE)"
      val den = s"(sqrt($dn * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
        s"sqrt($dn * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
      s"""WITH sc AS (SELECT $scaledSel FROM lineitem),
         |m AS (${pairSqls.mkString("\nUNION ALL\n")})
         |SELECT col_x, col_y, n,
         |  CASE WHEN $den > 0.0
         |    THEN ($dn * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / $den
         |  END AS corr
         |FROM m""".stripMargin
    },

    // LTTB replay: the per-bucket argmax is sequential (each kept point
    // feeds the next bucket's triangle areas), so the CTE scans ONE
    // candidate per recursion step carrying (prev kept point, best-so-far
    // of the current bucket); a bucket boundary commits the best as the
    // new kept point. Identical integer bucket math, exact-integer
    // centroids, fixed-IEEE areas, strict-> tie-keeps-earliest.
    "q_lttb" ->
      """WITH RECURSIVE pts AS (
        |  SELECT user_id, epoch_us(ts) AS x,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1
        |      AS BIGINT) AS i,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |keepall AS (SELECT user_id, x, y FROM pts WHERE n <= 16),
        |big AS (SELECT * FROM pts WHERE n > 16),
        |mid AS (SELECT user_id, x, y, i, ((i - 1) * 14) // (n - 2) AS k
        |  FROM big WHERE i BETWEEN 1 AND n - 2),
        |anch AS (SELECT user_id, k, CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(sum(y) AS BIGINT) AS sy, count(*) AS c
        |  FROM mid GROUP BY 1, 2),
        |lastp AS (SELECT user_id, x, y, i FROM big WHERE i = n - 1),
        |cand AS (
        |  SELECT user_id, x, y, i, k FROM mid
        |  UNION ALL SELECT user_id, x, y, i, CAST(14 AS BIGINT) FROM lastp),
        |walk AS (
        |  SELECT b.user_id, b.i, CAST(-1 AS BIGINT) AS k,
        |    b.x AS selx, b.y AS sely,
        |    CAST(NULL AS BIGINT) AS bx, CAST(NULL AS BIGINT) AS by1,
        |    CAST(NULL AS DOUBLE) AS ba,
        |    CAST(NULL AS BIGINT) AS ex, CAST(NULL AS BIGINT) AS ey
        |  FROM big b WHERE b.i = 0
        |  UNION ALL
        |  SELECT w.user_id, c.i, c.k,
        |    CASE WHEN c.k > w.k AND w.bx IS NOT NULL THEN w.bx
        |         ELSE w.selx END AS nselx,
        |    CASE WHEN c.k > w.k AND w.bx IS NOT NULL THEN w.by1
        |         ELSE w.sely END AS nsely,
        |    CASE WHEN c.k > w.k OR area > w.ba THEN c.x ELSE w.bx END,
        |    CASE WHEN c.k > w.k OR area > w.ba THEN c.y ELSE w.by1 END,
        |    CASE WHEN c.k > w.k OR area > w.ba THEN area ELSE w.ba END,
        |    CASE WHEN c.k > w.k AND w.bx IS NOT NULL THEN w.bx END,
        |    CASE WHEN c.k > w.k AND w.bx IS NOT NULL THEN w.by1 END
        |  FROM walk w
        |  JOIN cand c ON c.user_id = w.user_id AND c.i = w.i + 1
        |  LEFT JOIN anch a ON a.user_id = w.user_id AND a.k = c.k + 1
        |  JOIN lastp l ON l.user_id = w.user_id,
        |  LATERAL (SELECT
        |    CASE WHEN a.c IS NULL THEN CAST(l.x AS DOUBLE)
        |         ELSE CAST(a.sx AS DOUBLE) / CAST(a.c AS DOUBLE) END AS ax,
        |    CASE WHEN a.c IS NULL THEN CAST(l.y AS DOUBLE)
        |         ELSE CAST(a.sy AS DOUBLE) / CAST(a.c AS DOUBLE) END AS ay,
        |    CASE WHEN c.k > w.k AND w.bx IS NOT NULL THEN w.bx
        |         ELSE w.selx END AS px,
        |    CASE WHEN c.k > w.k AND w.bx IS NOT NULL THEN w.by1
        |         ELSE w.sely END AS py) anc,
        |  LATERAL (SELECT
        |    abs((CAST(anc.px AS DOUBLE) - anc.ax) *
        |          (CAST(c.y AS DOUBLE) - CAST(anc.py AS DOUBLE)) -
        |        (CAST(anc.px AS DOUBLE) - CAST(c.x AS DOUBLE)) *
        |          (anc.ay - CAST(anc.py AS DOUBLE))) AS area) ar
        |)
        |SELECT user_id, x, y FROM keepall
        |UNION ALL SELECT user_id, ex AS x, ey AS y FROM walk
        |  WHERE ex IS NOT NULL
        |UNION ALL SELECT user_id, x, y FROM big WHERE i = 0
        |UNION ALL SELECT user_id, x, y FROM lastp""".stripMargin,

    // Table-fingerprint replay: identical canonical row repr (unit-sep
    // concat, chr(1)-marked nulls), same polynomial hash, commutative
    // integer sums — multiset-equal tables fingerprint identically in
    // any engine.
    "q_table_fp" -> {
      val repr = "concat_ws(chr(31), " +
        Seq("CAST(o_orderkey AS VARCHAR)", "CAST(o_custkey AS VARCHAR)",
          "o_orderstatus", "o_orderpriority")
          .map(c => s"coalesce($c, chr(1) || 'null')").mkString(", ") + ")"
      val h = Hashing.mixSql(Hashing.polyHashSql("repr"), 41)
      s"""WITH r AS (SELECT $repr AS repr FROM orders),
         |h AS (SELECT ($h) AS h FROM r)
         |SELECT count(*) AS n_rows, CAST(sum(h) AS BIGINT) AS hash_sum,
         |  CAST(sum((h * h) % ${Hashing.P}) AS BIGINT) AS hash_sq_sum
         |FROM h""".stripMargin
    },

    // Key-skew replay: exact per-key counts, deterministic top-20 via the
    // (cnt DESC, key ASC) tie-break, one share division.
    "q_key_skew" ->
      """WITH c AS (SELECT CAST(l_suppkey AS VARCHAR) AS key, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
        |SELECT key, cnt, total,
        |  CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM c, t ORDER BY cnt DESC, key ASC LIMIT 20""".stripMargin,

    // Simpson concentration replay: the in-row run-length fold equals the
    // relational (doc, token) pair count — same integers, one division.
    "q_simpson" ->
      s"""WITH t AS (SELECT doc_id,
         |  unnest(string_split($norm, ' ')) AS tok FROM documents),
         |c AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY 1, 2),
         |s AS (SELECT doc_id, CAST(sum(n * (n - 1)) AS BIGINT) AS rep_pairs,
         |  CAST(sum(n) AS BIGINT) AS n_tokens FROM c GROUP BY 1)
         |SELECT doc_id, n_tokens, rep_pairs,
         |  CASE WHEN n_tokens >= 2 THEN CAST(rep_pairs AS DOUBLE) /
         |    (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))
         |  END AS simpson_d
         |FROM s""".stripMargin,

    // Streaming HLL replay: the stream's max-rolled register changelog
    // equals the batch register build over the same rows, so the replay is
    // the q_hll_distinct arithmetic over (event_type, user_id).
    "q_stream_hll" -> {
      val h = Hashing.mixSql(
        Hashing.polyHashSql("CAST(user_id AS VARCHAR)"), 29)
      val bl = (24 to 1 by -1)
        .map(k => s"WHEN w >= ${1L << (k - 1)} THEN $k").mkString(" ")
      val r2 = 1L << 25
      s"""WITH h AS (SELECT event_type, ($h) AS hh FROM events),
         |b AS (SELECT event_type, hh % 64 AS bucket, hh // 64 AS w FROM h),
         |reg AS (SELECT event_type, bucket,
         |  max(25 - (CASE $bl ELSE 0 END)) AS register
         |  FROM b GROUP BY event_type, bucket),
         |g AS (SELECT event_type, count(*) AS n_set,
         |  CAST(sum((CAST(1 AS BIGINT) << (25 - register))) AS BIGINT) AS s_set
         |  FROM reg GROUP BY event_type)
         |SELECT event_type, 64 - n_set AS n_zero,
         |  s_set + (64 - n_set) * $r2 AS s_int,
         |  (709.0 * ${64.0 * 64.0 * r2}) /
         |    (1000.0 * CAST(s_set + (64 - n_set) * $r2 AS DOUBLE)) AS hll_est
         |FROM g""".stripMargin
    },

    // Histogram-quantile replay: 256 exact-count bins of width 2 over
    // [0, 512) per event_type (shard merge == combined build, so the
    // replay bins once), quantile = upper edge of the first bin whose
    // cumulative count reaches ceil(q·n). Shared by q_hist_quantile
    // (batch parity-shard merge) and q_stream_hist (per-batch delta
    // changelog sum-rollup) — both reconstruct the same histogram.
    "q_hist_quantile" -> histQuantileSql,
    "q_stream_hist" -> histQuantileSql,

    // Two-pass exact-quantile replay: the oracle ranks ALL cents values
    // globally — the bin-decomposed two-pass selection must return the
    // identical cents at rank ceil(q·n) (cents order is globally
    // non-decreasing across histogram bins, so the decomposition is a
    // true selection, not an approximation).
    "q_exact_quantile" ->
      """WITH b AS (SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT)
        |    AS cents FROM events),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
        |  count(*) OVER () AS n FROM b),
        |p AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
        |SELECT p.q, CAST(ceil(p.q * r.n) AS BIGINT) AS rank, r.n AS n,
        |  r.cents, CAST(r.cents AS DOUBLE) / 100.0 AS value
        |FROM p JOIN r ON r.rn = CAST(ceil(p.q * r.n) AS BIGINT)""".stripMargin,

    // Tf-cosine pair replay: identical pruned postings self-join —
    // integer dots/norms, stop-term guard at df <= 100, one division by
    // two correctly-rounded sqrts.
    "q_tfcos_pairs" ->
      s"""WITH t AS (SELECT doc_id,
         |  unnest(string_split($norm, ' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |k AS (SELECT term, doc_id, tf FROM (
         |  SELECT *, count(*) OVER (PARTITION BY term) AS dfc FROM tf)
         |  WHERE dfc <= 100),
         |n AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
         |  FROM k GROUP BY 1),
         |d AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |    CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
         |  FROM k a JOIN k b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_id_a, doc_id_b, dot,
         |  CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         |    AS cosine
         |FROM d JOIN n na ON d.doc_id_a = na.doc_id
         |       JOIN n nb ON d.doc_id_b = nb.doc_id
         |WHERE CAST(dot AS DOUBLE) /
         |  (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         |  >= 0.5""".stripMargin,

    // Char-trigram LM replay: model = floor(1e6·cnt3/cnt2) per trigram of
    // the '##'-padded normalized text (trained on even doc_ids), scores =
    // order-independent integer sums + one final division. The Spark
    // floor-div is (x − x mod d)/d with an exact-multiple numerator ==
    // DuckDB's integer `//`.
    // Score-percentile replay: identical 256-bin clamped binning over
    // [0, 512), strictly-lower-bin cumulative counts, exact floor
    // division to milli-units.
    // dirty values mirror Sketch.histBin exactly: null/NaN map to a NULL
    // bin (kept in `b` so the row still reaches the final LEFT JOIN with a
    // null percentile, like the Spark side) and are EXCLUDED from the
    // histogram `h` — without the CASE, a NaN would error DuckDB's BIGINT
    // cast and a NULL would form a phantom bin group inflating the OVER()
    // total; fixtures are clean today, but the replay should not rely on it
    "q_score_calib" ->
      """WITH b AS (SELECT event_id,
        |  CASE WHEN value IS NULL OR isnan(value) THEN NULL
        |       ELSE least(255, greatest(0, CAST(floor(value / 2.0) AS BIGINT)))
        |  END AS bin
        |  FROM events),
        |h AS (SELECT bin, count(*) AS cnt FROM b
        |  WHERE bin IS NOT NULL GROUP BY bin),
        |m AS (SELECT bin,
        |  CAST((1000 * COALESCE(sum(cnt) OVER (ORDER BY bin
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |    // (sum(cnt) OVER ()) AS BIGINT) AS percentile_milli
        |  FROM h)
        |SELECT b.event_id, m.percentile_milli
        |FROM b LEFT JOIN m USING (bin)""".stripMargin,

    // DSIR replay: same hashed unigram+bigram buckets (polyhash + affine
    // mix, mod 4096), same add-one-smoothed micro-unit probabilities via
    // exact integer floor division (// here, (x - x mod d)/d on the Spark
    // side), same milli-unit ratio; the only float is the final mean.
    "q_dsir" -> dsirReplaySql,

    // The streaming gate scores through the map-literal expression over
    // the same trained ratios — output-identical by construction, so it
    // shares the replay verbatim.
    "q_stream_dsir" -> dsirReplaySql,

    "q_lm_score" -> {
      s"""WITH p AS (SELECT doc_id, '##' || $norm || '#' AS pad
         |  FROM documents),
         |tr AS (SELECT doc_id, substr(pad, CAST(i AS INTEGER), 3) AS tri
         |  FROM (SELECT doc_id, pad,
         |    unnest(range(1, len(pad) - 1)) AS i FROM p)),
         |m3 AS (SELECT tri, count(*) AS cnt3 FROM tr
         |  WHERE doc_id % 2 = 0 GROUP BY tri),
         |m2 AS (SELECT substr(tri, 1, 2) AS ctx,
         |  CAST(sum(cnt3) AS BIGINT) AS cnt2 FROM m3 GROUP BY 1),
         |model AS (SELECT tri, (1000000 * cnt3) // cnt2 AS prob_micro
         |  FROM m3 JOIN m2 ON substr(m3.tri, 1, 2) = m2.ctx),
         |s AS (SELECT t.doc_id, count(*) AS n_tri,
         |  CAST(sum(CASE WHEN prob_micro IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS oov_tri,
         |  CAST(sum(coalesce(prob_micro, 0)) AS BIGINT) AS sum_prob_micro
         |  FROM tr t LEFT JOIN model USING (tri) GROUP BY t.doc_id)
         |SELECT doc_id, n_tri, oov_tri, sum_prob_micro,
         |  CAST(sum_prob_micro AS DOUBLE) / CAST(n_tri AS DOUBLE) AS lm_score
         |FROM s""".stripMargin
    },

    // Count-Min sketch replay: the 3×512 grid of exact counters rebuilt
    // with the same polynomial-hash addressing, probes read min over rows.
    // q_stream_cms shares it verbatim: the streaming cell-count deltas
    // sum-roll to the identical grid (counters are additive).
    "q_cms_heavy" -> cmsHeavySql,
    "q_stream_cms" -> cmsHeavySql,

    // Bloom replay: positions from the same hash family, 31-bit words so
    // mask arithmetic stays exact in BIGINTs; the word OR is a
    // distinct-sum of power-of-two masks in both engines. q_stream_bloom
    // shares it verbatim: its bit changelog may carry a bit more than once,
    // so the query folds it with bit_or (idempotent), which lands on the
    // identical word masks.
    "q_bloom" -> bloomSql,
    "q_stream_bloom" -> bloomSql,

    // registered-domain rollup of the synthesized 5-host URL set
    "q_domain_stats" -> {
      val url = """CASE doc_id % 5
        | WHEN 0 THEN 'https://WWW.News.Example.COM/a'
        | WHEN 1 THEN 'http://blog.example.com:8080/p?x=1'
        | WHEN 2 THEN 'https://spam.tracker.net/lp'
        | WHEN 3 THEN 'https://Docs.Example.ORG/ref#top'
        | ELSE 'https://example.com/' END""".stripMargin
      val host = "regexp_replace(regexp_replace(regexp_replace(" +
        "lower(regexp_extract(trim(url), '^[^/?#]*//([^/?#]*)', 1)), " +
        "'^[^@]*@', ''), ':[0-9]+$', ''), '^www\\.', '')"
      s"""WITH u AS (SELECT doc_id, n_chars, ($url) AS url FROM documents),
         |hh AS (SELECT doc_id, n_chars, $host AS host FROM u),
         |d AS (SELECT doc_id, n_chars,
         |  CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) = ''
         |    THEN host ELSE regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
         |  END AS domain FROM hh)
         |SELECT domain, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  domain IN ('tracker.net') AS blocked
         |FROM d GROUP BY domain""".stripMargin
    },

    // histogram-partitioned curriculum shards (4 shards, desc n_chars,
    // ~equal token mass; integer cut arithmetic)
    "q_curriculum" -> {
      val nt = "CASE WHEN length(tt) = 0 THEN 0 ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END"
      s"""WITH t AS (SELECT doc_id, n_chars,
         |  CAST($nt AS BIGINT) AS n_tokens FROM (SELECT doc_id, n_chars,
         |    trim(regexp_replace(text, ' +', ' ', 'g')) AS tt FROM documents)),
         |hist AS (SELECT n_chars AS s, sum(n_tokens) AS bt
         |  FROM t GROUP BY n_chars),
         |w AS (SELECT s, coalesce(sum(bt) OVER (ORDER BY s DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
         |  sum(bt) OVER () AS total FROM hist),
         |m AS (SELECT s, least(3, CAST(floor(CAST(cumb AS DOUBLE) /
         |  floor((total + 3) / 4)) AS BIGINT)) AS shard FROM w)
         |SELECT t.doc_id, t.n_chars, t.n_tokens, m.shard
         |FROM t JOIN m ON t.n_chars = m.s""".stripMargin
    },

    // the postings index rows themselves (doc_id % 17 slice)
    "q_postings_index" ->
      s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents
         |  WHERE doc_id % 17 = 0),
         |tok AS (SELECT doc_id, len(string_split(nrm, ' ')) AS dl,
         |  unnest(string_split(nrm, ' ')) AS term FROM d)
         |SELECT term, doc_id, count(*) AS tf, max(dl) AS dl
         |FROM tok GROUP BY term, doc_id""".stripMargin,

    // deterministic stratified sample: integer hash-bucket threshold per
    // stratum (no floats anywhere in the predicate)
    "q_stratified_sample" -> {
      val buckets = 1000000
      val bucket =
        s"(${Hashing.mixSql(Hashing.polyHashSql("CAST(doc_id AS VARCHAR)"), 11)}) % $buckets"
      val cases = SparkEntry.StratifiedFractions.toSeq.sortBy(_._1)
        .map { case (s, f) => s"WHEN lang = '$s' THEN ${math.round(f * buckets)}" }
        .mkString(" ")
      val default = math.round(0.1 * buckets)
      s"""SELECT doc_id, lang FROM documents
         |WHERE $bucket < (CASE $cases ELSE $default END)""".stripMargin
    },

    // span-level 3-gram decontamination: distinct hashed 3-grams per doc,
    // eval gram set = docs with doc_id % 7 = 0, left-join hit counting —
    // replays Dedup.ngramDecontaminate(w = 3) exactly
    "q_decontam_ngram" -> {
      val shingle3 =
        "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(" +
          "generate_series(1, len(toks) - 2), " +
          "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) " +
          "ELSE [array_to_string(toks, ' ')] END"
      s"""WITH d AS (SELECT doc_id, string_split($norm, ' ') AS toks FROM documents),
         |shg AS (SELECT doc_id, $shingle3 AS sh FROM d),
         |hs AS (SELECT doc_id,
         |  list_distinct(list_transform(sh, x -> ${Hashing.polyHashSql("x")})) AS gs FROM shg),
         |ev AS (SELECT DISTINCT unnest(gs) AS g FROM hs WHERE doc_id % 7 = 0),
         |ex AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM hs),
         |j AS (SELECT ex.doc_id, ex.n_grams,
         |  CASE WHEN ev.g IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM ex LEFT JOIN ev ON ex.g = ev.g)
         |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         |  CAST(sum(hit) AS BIGINT) AS hit_grams,
         |  floor((CAST(sum(hit) AS DOUBLE) / n_grams) * 1000000 + 0.5) / 1000000.0
         |    AS hit_frac
         |FROM j GROUP BY doc_id, n_grams""".stripMargin
    },

    // cross-source gram-overlap replay: distinct (source, hashed 3-gram)
    // pairs, self-join on the gram, exact counts + two divisions
    "q_source_overlap" -> {
      val shingle3 =
        "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(" +
          "generate_series(1, len(toks) - 2), " +
          "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) " +
          "ELSE [array_to_string(toks, ' ')] END"
      s"""WITH d AS (SELECT source, string_split($norm, ' ') AS toks FROM documents),
         |shg AS (SELECT source, $shingle3 AS sh FROM d),
         |g AS (SELECT DISTINCT source, unnest(list_transform(sh,
         |  x -> ${Hashing.polyHashSql("x")})) AS gm FROM shg),
         |tot AS (SELECT source, count(*) AS n FROM g GROUP BY source),
         |sh2 AS (SELECT a.source AS source_a, b.source AS source_b,
         |  count(*) AS n_shared
         |  FROM g a JOIN g b ON a.gm = b.gm AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
         |  CAST(ta.n AS BIGINT) AS n_a, CAST(tb.n AS BIGINT) AS n_b,
         |  CAST(n_shared AS DOUBLE) / CAST(ta.n AS DOUBLE) AS containment_a,
         |  CAST(n_shared AS DOUBLE) / CAST(ta.n + tb.n - n_shared AS DOUBLE)
         |    AS jaccard
         |FROM sh2 JOIN tot ta ON ta.source = source_a
         |JOIN tot tb ON tb.source = source_b""".stripMargin
    },

    // concat-and-chunk packing: running token sum per source in doc_id
    // order; double division is exact below 2^53 tokens per group
    "q_pack_sequences" -> {
      val nt = "CASE WHEN length(tt) = 0 THEN 0 ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END"
      s"""WITH x AS (SELECT source, doc_id, text,
         |  trim(regexp_replace(text, ' +', ' ', 'g')) AS tt FROM documents),
         |t AS (SELECT source, doc_id,
         |  CAST(greatest(CAST(ceil(length(text) / 4.0) AS BIGINT), $nt) AS BIGINT) AS tokens
         |  FROM x),
         |c AS (SELECT source, doc_id, tokens,
         |  sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens AS strt
         |  FROM t)
         |SELECT source, doc_id, tokens,
         |  CAST(floor(strt / 2048.0) AS BIGINT) AS seq_id,
         |  CAST(strt % 2048 AS BIGINT) AS seq_off
         |FROM c""".stripMargin
    },

    // per-sequence fill report: the q_pack_sequences CTE + one groupBy
    "q_seq_fill" -> {
      val nt = "CASE WHEN length(tt) = 0 THEN 0 ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END"
      s"""WITH x AS (SELECT source, doc_id, text,
         |  trim(regexp_replace(text, ' +', ' ', 'g')) AS tt FROM documents),
         |t AS (SELECT source, doc_id,
         |  CAST(greatest(CAST(ceil(length(text) / 4.0) AS BIGINT), $nt) AS BIGINT) AS tokens
         |  FROM x),
         |c AS (SELECT source, doc_id, tokens,
         |  sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens AS strt
         |  FROM t),
         |p AS (SELECT source, doc_id, tokens,
         |  CAST(floor(strt / 2048.0) AS BIGINT) AS seq_id,
         |  CAST(strt % 2048 AS BIGINT) AS seq_off
         |FROM c)
         |SELECT source, seq_id, count(*) AS n_docs,
         |  CAST(sum(tokens) AS BIGINT) AS doc_tokens,
         |  min(seq_off) AS first_off
         |FROM p GROUP BY source, seq_id""".stripMargin
    },

    // boilerplate line removal over the same injected footers as the Spark
    // query; string_agg(ORDER BY i) skips the NULLs the CASE leaves for
    // removed lines, coalesce('') matches Spark's empty array_join
    "q_boilerplate" -> {
      val injected = "text || chr(10) || 'Subscribe to our newsletter' || " +
        "chr(10) || 'Copyright ' || source || " +
        "(CASE WHEN doc_id % 50 = 0 THEN chr(10) || 'Rare footer' ELSE '' END)"
      s"""WITH x AS (SELECT doc_id, $injected AS t FROM documents),
         |l AS (SELECT doc_id, len(string_split(t, chr(10))) AS n_lines,
         |  unnest(string_split(t, chr(10))) AS line,
         |  unnest(range(1, len(string_split(t, chr(10))) + 1)) AS i FROM x),
         |b AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS c
         |  FROM l GROUP BY line) WHERE c >= 20),
         |j AS (SELECT l.doc_id, l.n_lines, l.i, l.line, b.line AS bl
         |  FROM l LEFT JOIN b ON l.line = b.line)
         |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
         |  CAST(sum(CASE WHEN bl IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  md5(coalesce(string_agg(CASE WHEN bl IS NULL THEN line END, chr(10)
         |    ORDER BY i), '')) AS clean_fp
         |FROM j GROUP BY doc_id, n_lines""".stripMargin
    },

    // token-budget mixture at hash-bucket granularity: per-(source, bucket)
    // token sums, prefix over buckets, keep buckets starting inside the
    // budget — replays Splits.tokenBudgetMixture(seed = 13, buckets = 4096)
    "q_mixture_budget" -> {
      val nt = "CASE WHEN length(tt) = 0 THEN 0 ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END"
      val bucket =
        s"(${Hashing.mixSql(Hashing.polyHashSql("CAST(doc_id AS VARCHAR)"), 13)}) % 4096"
      val budget = SparkEntry.MixtureBudgets.toSeq.sortBy(_._1)
        .map { case (s, v) => s"WHEN source = '$s' THEN $v" }
        .mkString("CASE ", " ", " ELSE 200 END")
      s"""WITH x AS (SELECT doc_id, source, text,
         |  trim(regexp_replace(text, ' +', ' ', 'g')) AS tt FROM documents),
         |t AS (SELECT doc_id, source,
         |  CAST(greatest(CAST(ceil(length(text) / 4.0) AS BIGINT), $nt) AS BIGINT) AS tokens,
         |  $bucket AS b FROM x),
         |pb AS (SELECT source, b, sum(tokens) AS bt FROM t GROUP BY source, b),
         |ks AS (SELECT source, b, sum(bt) OVER (PARTITION BY source ORDER BY b
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bt AS strt FROM pb),
         |keep AS (SELECT source, b FROM ks WHERE strt < ($budget))
         |SELECT t.doc_id, t.source, t.tokens
         |FROM t JOIN keep ON t.source = keep.source AND t.b = keep.b""".stripMargin
    },

    // Temperature mixture replay: same token estimate as q_mixture_budget,
    // integer micro-quantized sqrt weights (order-free BIGINT normalizer),
    // then the identical two-IEEE-op prob/budget sequence. sqrt is
    // correctly rounded by IEEE-754 in both engines — the reason the
    // oracle-gated alpha is 0.5.
    "q_temperature_mix" -> {
      val nt = "CASE WHEN length(tt) = 0 THEN 0 ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END"
      s"""WITH x AS (SELECT source, text,
         |  trim(regexp_replace(text, ' +', ' ', 'g')) AS tt FROM documents),
         |t AS (SELECT source,
         |  CAST(greatest(CAST(ceil(length(text) / 4.0) AS BIGINT), $nt) AS BIGINT) AS tokens
         |  FROM x),
         |c AS (SELECT source, count(*) AS n_docs,
         |  CAST(sum(tokens) AS BIGINT) AS n_tokens FROM t GROUP BY source),
         |w AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000
         |  + 0.5) AS BIGINT) AS weight_micro FROM c),
         |tw AS (SELECT *, sum(weight_micro) OVER () AS ww FROM w)
         |SELECT source, n_docs, n_tokens, weight_micro,
         |  CAST(weight_micro AS DOUBLE) / CAST(ww AS DOUBLE) AS sample_prob,
         |  CAST(floor((CAST(weight_micro AS DOUBLE) / CAST(ww AS DOUBLE))
         |    * CAST(100000 AS DOUBLE)) AS BIGINT) AS token_budget
         |FROM tw""".stripMargin
    },

    // median/MAD anomaly summary: both medians by the same lower-rank
    // convention as q_quantiles; dev/threshold arithmetic is the identical
    // IEEE op sequence in both engines
    "q_anomaly_mad" ->
      s"""WITH r AS (SELECT user_id, value,
         |  row_number() OVER (PARTITION BY user_id ORDER BY value) AS rn,
         |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
         |m AS (SELECT *, max(CASE WHEN rn = greatest(1,
         |    CAST(ceil(0.5 * n) AS BIGINT)) THEN value END)
         |  OVER (PARTITION BY user_id) AS med FROM r),
         |d AS (SELECT *, abs(value - med) AS dev FROM m),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY dev) AS rn2
         |  FROM d),
         |m2 AS (SELECT *, max(CASE WHEN rn2 = greatest(1,
         |    CAST(ceil(0.5 * n) AS BIGINT)) THEN dev END)
         |  OVER (PARTITION BY user_id) AS mad FROM r2)
         |SELECT user_id, count(*) AS n, max(med) AS med, max(mad) AS mad,
         |  CAST(sum(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_anomalies
         |FROM m2 GROUP BY user_id""".stripMargin,

    // ACF replay: the BIGINT moment sums (DuckDB promotes sum() to HUGEINT;
    // the integer values are identical) assembled with the same operation
    // order as Stats.acf — mu, then den = s2 − 2·mu·s + n·mu², then
    // num_l = sxy_l − mu·(sx_l + sy_l) + nl_l·mu².
    "q_acf" -> acfSql,

    // PACF replay: pivot the acf rows to one row per series, then the
    // IDENTICAL unrolled Durbin-Levinson expression strings the Spark
    // side parses (Stats.pacfExprStrings) — same text, same op tree,
    // bit-identical doubles
    "q_pacf" -> {
      val exprs = graft.tsdf.Stats.pacfExprStrings(3, l => s"__r$l")
      val rows = (1 to 3).map(k =>
        s"""SELECT user_id, CAST($k AS BIGINT) AS "lag",
           |  ${exprs(k - 1)} AS pacf FROM p""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH acfq AS ($acfSql),
         |p AS (SELECT user_id,
         |  max(CASE WHEN "lag" = 1 THEN acf END) AS __r1,
         |  max(CASE WHEN "lag" = 2 THEN acf END) AS __r2,
         |  max(CASE WHEN "lag" = 3 THEN acf END) AS __r3
         |  FROM acfq GROUP BY user_id)
         |$rows""".stripMargin
    },

    // top-50 3-grams by document frequency (distinct grams per doc)
    "q_top_ngrams" -> {
      val shingle3 =
        "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(" +
          "generate_series(1, len(toks) - 2), " +
          "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) " +
          "ELSE [array_to_string(toks, ' ')] END"
      s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
         |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
         |shg AS (SELECT doc_id, $shingle3 AS sh FROM t),
         |g AS (SELECT unnest(sh) AS gram FROM shg),
         |c AS (SELECT gram, count(*) AS n_docs FROM g GROUP BY gram),
         |r AS (SELECT *, row_number() OVER (ORDER BY n_docs DESC, gram) AS rnk FROM c)
         |SELECT CAST(rnk AS BIGINT) AS "rank", gram, n_docs FROM r
         |WHERE rnk <= 50""".stripMargin
    },

    // deterministic 5-per-source sample: lowest (mix(polyhash(id)), id)
    "q_sample_k" -> {
      val h = Hashing.mixSql(Hashing.polyHashSql("CAST(doc_id AS VARCHAR)"), 17)
      s"""WITH x AS (SELECT doc_id, source, ($h) AS hh FROM documents),
         |r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source
         |  ORDER BY hh, doc_id) AS sample_rank FROM x)
         |SELECT doc_id, source, CAST(sample_rank AS BIGINT) AS sample_rank
         |FROM r WHERE sample_rank <= 5""".stripMargin
    },

    // ExactSubstr chunk dedup: non-overlapping 8-word chunks, winner =
    // min (doc_id, pos) per chunk via row_number, md5 of kept chunks
    "q_exact_substr" ->
      """WITH t AS (SELECT doc_id,
        |  string_split(trim(regexp_replace(text, ' +', ' ', 'g')), ' ') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT doc_id,
        |  unnest(list_transform(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT)),
        |    i -> array_to_string(list_slice(toks, i*8+1, i*8+8), ' '))) AS chunk,
        |  unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS pos FROM t),
        |r AS (SELECT *, row_number() OVER (PARTITION BY chunk
        |  ORDER BY doc_id, pos) AS rn FROM c)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
        |    ORDER BY pos), '')) AS clean_fp
        |FROM r GROUP BY doc_id""".stripMargin,

    // histogram drift: 50/50 hash split, 32-char length buckets; the TV
    // numerator is the exact cross-multiplied |cnt_a*nb - cnt_b*na|
    "q_drift" -> {
      val split =
        s"(${Hashing.mixSql(Hashing.polyHashSql("CAST(doc_id AS VARCHAR)"), 7)}) % 2"
      s"""WITH s AS (SELECT doc_id, least(20, n_chars // 32) AS bucket,
         |  CASE WHEN $split < 1 THEN 0 ELSE 1 END AS split FROM documents),
         |ca AS (SELECT bucket, count(*) AS cnt_a FROM s WHERE split = 0 GROUP BY bucket),
         |cb AS (SELECT bucket, count(*) AS cnt_b FROM s WHERE split = 1 GROUP BY bucket),
         |j AS (SELECT coalesce(ca.bucket, cb.bucket) AS bucket,
         |  coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
         |  FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket),
         |t AS (SELECT *, sum(cnt_a) OVER () AS na, sum(cnt_b) OVER () AS nb,
         |  abs(cnt_a * sum(cnt_b) OVER () - cnt_b * sum(cnt_a) OVER ()) AS diff
         |  FROM j),
         |t2 AS (SELECT *, sum(diff) OVER () AS tvnum FROM t)
         |SELECT bucket, CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
         |  CAST(cnt_a AS DOUBLE) / na AS pa,
         |  CAST(cnt_b AS DOUBLE) / nb AS pb,
         |  CAST(diff AS BIGINT) AS abs_diff_scaled,
         |  0.5 * CAST(tvnum AS DOUBLE) / (na * nb) AS tv_distance
         |FROM t2""".stripMargin
    },

    // chi-square + Hellinger drift: exact integer cross-products per
    // bucket; double totals via an explicit bucket-ordered left fold
    // (list_reduce), never an engine-ordered window sum
    "q_drift_stats" -> {
      val split =
        s"(${Hashing.mixSql(Hashing.polyHashSql("CAST(doc_id AS VARCHAR)"), 7)}) % 2"
      s"""WITH s AS (SELECT doc_id, least(20, n_chars // 32) AS bucket,
         |  CASE WHEN $split < 1 THEN 0 ELSE 1 END AS split FROM documents),
         |ca AS (SELECT bucket, count(*) AS cnt_a FROM s WHERE split = 0 GROUP BY bucket),
         |cb AS (SELECT bucket, count(*) AS cnt_b FROM s WHERE split = 1 GROUP BY bucket),
         |j AS (SELECT coalesce(ca.bucket, cb.bucket) AS bucket,
         |  coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
         |  FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket),
         |t AS (SELECT *, sum(cnt_a) OVER () AS na, sum(cnt_b) OVER () AS nb,
         |  count(*) OVER () AS k FROM j),
         |u AS (SELECT *, CAST(cnt_a * nb - cnt_b * na AS DOUBLE) AS d,
         |  cnt_a + cnt_b AS tt FROM t),
         |v AS (SELECT *,
         |  CASE WHEN na > 0 AND nb > 0 THEN
         |    d * d / CAST(tt * na * nb AS DOUBLE) END AS chi2_term,
         |  CASE WHEN na > 0 AND nb > 0 THEN
         |    sqrt((CAST(cnt_a AS DOUBLE) / na) * (CAST(cnt_b AS DOUBLE) / nb))
         |  END AS bc_term FROM u),
         |tot AS (SELECT
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list(chi2_term ORDER BY bucket)), (a, b) -> a + b) AS cs,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list(bc_term ORDER BY bucket)), (a, b) -> a + b) AS bs FROM v)
         |SELECT bucket, CAST(cnt_a AS BIGINT) AS cnt_a,
         |  CAST(cnt_b AS BIGINT) AS cnt_b, chi2_term,
         |  CASE WHEN na > 0 AND nb > 0 THEN cs END AS chi2_stat, bc_term,
         |  CASE WHEN na > 0 AND nb > 0 THEN
         |    sqrt(greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) - bs))
         |  END AS hellinger,
         |  CAST(k - 1 AS BIGINT) AS df
         |FROM v, tot""".stripMargin
    },

    // rolling trend correlation: exact BIGINT frame sums of (value, index),
    // r assembled in the same fixed operand order as Stats.rollingTrendCorr
    "q_rolling_corr" ->
      """WITH c AS (SELECT user_id, ts, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |w AS (SELECT *, row_number() OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id) AS y FROM c),
        |r AS (SELECT *, count(*) OVER f AS n,
        |  sum(vc) OVER f AS sx, sum(vc * vc) OVER f AS sx2,
        |  sum(y) OVER f AS sy, sum(y * y) OVER f AS sy2,
        |  sum(vc * y) OVER f AS sxy
        |  FROM w WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT user_id, epoch_us(ts) AS ts_us, event_id, vc,
        |  CASE WHEN n >= 2 AND n * sx2 - sx * sx > 0 AND n * sy2 - sy * sy > 0
        |    THEN CAST(n * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n * sy2 - sy * sy AS DOUBLE)))
        |  END AS trend_corr_vc
        |FROM r""".stripMargin,

    // calendar features: sub-day fields from exact integer epoch-us
    // division, date fields from the shared proleptic-Gregorian functions
    "q_time_features" ->
      """SELECT event_id, epoch_us(ts) AS ts_us,
        |  CAST(year(ts) AS BIGINT) AS year,
        |  CAST(month(ts) AS BIGINT) AS month,
        |  CAST(day(ts) AS BIGINT) AS day,
        |  (CAST(month(ts) AS BIGINT) + 2) // 3 AS quarter,
        |  (epoch_us(ts) // 3600000000) % 24 AS hour,
        |  (epoch_us(ts) // 60000000) % 60 AS minute,
        |  ((epoch_us(ts) // 86400000000) + 3) % 7 AS dow,
        |  ((epoch_us(ts) // 86400000000) + 3) % 7 >= 5 AS is_weekend
        |FROM events""".stripMargin,

    // winsorize: clip bounds via the q_quantiles rank convention, the clip
    // itself is pure selection (least/greatest), engine-exact
    "q_winsorize" ->
      """WITH r AS (SELECT user_id, ts, event_id, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY value) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
        |b AS (SELECT *,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * n) AS BIGINT))
        |    THEN value END) OVER (PARTITION BY user_id) AS lo,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
        |    THEN value END) OVER (PARTITION BY user_id) AS hi
        |  FROM r)
        |SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
        |  least(greatest(value, lo), hi) AS value_w FROM b""".stripMargin,

    // CUSUM replay: exact BIGINT prefix sums; |S_t| = abs(cum − rn·mu) with
    // mu = s/n computed first, matching Stats.cusum's operand order.
    "q_cusum" ->
      """WITH c AS (SELECT user_id, ts, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |l AS (SELECT user_id, ts, event_id, c,
        |  sum(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n,
        |  sum(c) OVER (PARTITION BY user_id) AS s
        |  FROM c),
        |a AS (SELECT user_id, ts, event_id, n,
        |  abs(CAST(cum AS DOUBLE) - rn * (CAST(s AS DOUBLE) / n)) AS abs_s FROM l),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |  ORDER BY abs_s DESC, ts, event_id) AS pick FROM a)
        |SELECT user_id, n, abs_s AS cusum_max_abs, epoch_us(ts) AS changepoint_ts_us
        |FROM r WHERE pick = 1""".stripMargin,

    // Page's CUSUM control chart: the clamped recursion unrolled by the
    // reflection identity S_t = P_t - min(0, min_j P_j) -- two exact
    // BIGINT window aggregates per side, no recursive CTE
    "q_cusum_control" ->
      """WITH c AS (SELECT user_id, ts, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |p AS (SELECT user_id, ts, event_id, vc,
        |  sum(vc - 5000 - 500) OVER w AS phi,
        |  sum(5000 - 500 - vc) OVER w AS plo
        |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (SELECT *, min(phi) OVER w AS mhi, min(plo) OVER w AS mlo
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, epoch_us(ts) AS ts_us, event_id, vc,
        |  CAST(phi - least(0, mhi) AS BIGINT) AS cusum_hi,
        |  CAST(plo - least(0, mlo) AS BIGINT) AS cusum_lo,
        |  (phi - least(0, mhi) > 20000) OR (plo - least(0, mlo) > 20000)
        |    AS alert
        |FROM m""".stripMargin,

    // streaming twin: same integers, no event_id in the projection
    // (per-user timestamps are unique, so the ordering agrees)
    "q_stream_cusum" ->
      """WITH c AS (SELECT user_id, ts,
        |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |p AS (SELECT user_id, ts, vc,
        |  sum(vc - 5000 - 500) OVER w AS phi,
        |  sum(5000 - 500 - vc) OVER w AS plo
        |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (SELECT *, min(phi) OVER w AS mhi, min(plo) OVER w AS mlo
        |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, epoch_us(ts) AS ts_us, vc,
        |  CAST(phi - least(0, mhi) AS BIGINT) AS cusum_hi,
        |  CAST(plo - least(0, mlo) AS BIGINT) AS cusum_lo,
        |  (phi - least(0, mhi) > 20000) OR (plo - least(0, mlo) > 20000)
        |    AS alert
        |FROM m""".stripMargin,

    // rolling OLS slope: exact BIGINT frame sums, one fixed-order division
    "q_rolling_slope" ->
      """WITH c AS (SELECT user_id, ts, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |w AS (SELECT *, row_number() OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id) AS i FROM c),
        |r AS (SELECT *, count(*) OVER f AS n,
        |  sum(i) OVER f AS si, sum(i * i) OVER f AS si2,
        |  sum(vc) OVER f AS sy, sum(i * vc) OVER f AS siy
        |  FROM w WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT user_id, epoch_us(ts) AS ts_us, event_id, vc,
        |  CASE WHEN n >= 2 AND n * si2 - si * si > 0
        |    THEN CAST(n * siy - si * sy AS DOUBLE) /
        |      CAST(n * si2 - si * si AS DOUBLE)
        |  END AS slope_vc
        |FROM r""".stripMargin,

    // incremental dedup triage of the doc_id%4==0 batch against the
    // fingerprint index of the rest of the corpus
    "q_dedup_incremental" ->
      s"""WITH fp AS (SELECT doc_id, md5($norm) AS fp FROM documents),
         |idx AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 4 <> 0),
         |batch AS (SELECT doc_id, fp FROM fp WHERE doc_id % 4 = 0),
         |w AS (SELECT fp, min(doc_id) AS win FROM batch GROUP BY fp)
         |SELECT b.doc_id, b.fp,
         |  CASE WHEN i.fp IS NOT NULL THEN 'dup_existing'
         |       WHEN w.win <> b.doc_id THEN 'dup_batch'
         |       ELSE 'kept' END AS status
         |FROM batch b LEFT JOIN idx i USING (fp) JOIN w USING (fp)""".stripMargin,

    // intra-document first-occurrence segment dedup (token granularity);
    // DuckDB's indexed list_filter i is 1-based, Spark's filter index is
    // 0-based -- both compare against the 1-based first-occurrence position
    "q_para_dedup" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS ps
        |  FROM documents),
        |k AS (SELECT doc_id, ps,
        |  list_filter(ps, (x, i) -> list_position(ps, x) = i) AS keep
        |  FROM s)
        |SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_paras,
        |  CAST(len(ps) - len(keep) AS BIGINT) AS n_removed,
        |  md5(array_to_string(keep, ' ')) AS clean_fp
        |FROM k""".stripMargin,

    "q_token_count" -> {
      val nt = "CASE WHEN length(tt) = 0 THEN 0 ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END"
      s"""WITH x AS (SELECT doc_id, text, trim(regexp_replace(text, ' +', ' ', 'g')) AS tt
         |  FROM documents)
         |SELECT doc_id, CAST($nt AS BIGINT) AS n_tokens,
         |  CAST(greatest(CAST(ceil(length(text) / 4.0) AS BIGINT), $nt) AS BIGINT) AS bpe_tokens
         |FROM x""".stripMargin
    },

    "q_fingerprint" ->
      s"SELECT doc_id, source, md5($norm) AS fp FROM documents",

    "q_lookback" ->
      """WITH x AS (SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |f AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |  list([c]) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS fl
        |  FROM x)
        |SELECT user_id, ts_us, CAST(to_json(fl) AS VARCHAR) AS features
        |FROM f WHERE len(fl) = 3""".stripMargin,

    "q_rolling_fp" ->
      s"SELECT doc_id, ${Hashing.polyHashSql(norm)} AS rh FROM documents",

    "q_winnow" -> s"$winnowCte SELECT doc_id, pos, fp FROM fps",
    "q_stream_winnow" -> s"$winnowCte SELECT doc_id, pos, fp FROM fps",

    "q_novelty" -> noveltySql,
    // the streaming gate in a single AvailableNow batch == batch min-id
    // semantics, so it shares the replay verbatim
    "q_stream_novelty" -> noveltySql,

    "q_winnow_pairs" ->
      s"""$winnowCte,
         |dfp AS (SELECT DISTINCT doc_id, fp FROM fps),
         |dfc AS (SELECT fp FROM dfp GROUP BY fp
         |  HAVING count(*) * 20 <=
         |    (SELECT count(DISTINCT doc_id) FROM documents)
         |  AND count(*) <= 100)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  count(*) AS n_shared
         |FROM dfp a JOIN dfc USING (fp) JOIN dfp b USING (fp)
         |WHERE a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,

    // Full MinHash-LSH replay: shingle → polyhash → (k+2)-permutation
    // signature → band hashes → sub-bucketed self-join → exact-Jaccard
    // verify. Same constants as Dedup.nearDuplicates(shingleWidth=2, b=6,
    // r=3, clamp=50, t=0.4). Oversized buckets are split, not dropped:
    // nSub = ceil(m/clamp) sub-buckets keyed by (xh % nSub) where xh folds
    // the two extra signature minima, and within a sub-bucket only the first
    // `clamp` id-ordered members act as left pair elements ("pool") —
    // replaying Similarity.subBucketPairs exactly. The lossless size-ratio
    // prefilter is intentionally NOT replayed (it never removes a qualifying
    // pair).
    // deterministic 8/1/1 split: hash bucket in [0, 10), ranges carve splits
    "q_split_assign" -> {
      val bucket =
        s"(${Hashing.mixSql(Hashing.polyHashSql("CAST(doc_id AS VARCHAR)"), 7)}) % 10"
      s"""SELECT doc_id,
         |CAST(CASE WHEN $bucket < 8 THEN 0 WHEN $bucket < 9 THEN 1 ELSE 2 END AS BIGINT)
         |  AS split
         |FROM documents""".stripMargin
    },

    // cross-corpus contamination: same banding as q_minhash_pairs on both
    // sides (side B = doc_id % 7), plain (band, bhash) join, set-jaccard
    // verify on distinct hashed shingles
    "q_contamination" -> {
      val bands = 6; val rpb = 3; val k = bands * rpb
      val shingleExpr =
        "CASE WHEN len(toks) >= 2 THEN list_distinct(list_transform(" +
          "generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])) " +
          "ELSE [array_to_string(toks, ' ')] END"
      val sigList = (0 until k)
        .map(s => s"list_min(list_transform(hs, h -> ${Hashing.mixSql("h", s)}))")
        .mkString("[", ",\n    ", "]")
      val bandSelects = (0 until bands).map { b =>
        val bh = Hashing.foldHashesSql((0 until rpb).map(i => s"sig[${b * rpb + i + 1}]"))
        s"SELECT doc_id, $b AS band, $bh AS bhash FROM sig"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
         |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
         |shg AS (SELECT doc_id, $shingleExpr AS sh FROM t),
         |hsh AS (SELECT doc_id, list_distinct(list_transform(sh, x -> ${Hashing.polyHashSql("x")})) AS hs FROM shg),
         |sig AS (SELECT doc_id, $sigList AS sig FROM hsh),
         |banded AS (
         |  $bandSelects),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.bhash = b.bhash
         |  WHERE b.doc_id % 7 = 0),
         |verify AS (SELECT p.doc_id_a, p.doc_id_b,
         |  CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
         |  ((len(x.hs) + len(y.hs)) - CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)) AS jaccard
         |  FROM pairs p JOIN hsh x ON x.doc_id = p.doc_id_a
         |  JOIN hsh y ON y.doc_id = p.doc_id_b)
         |SELECT doc_id_a, doc_id_b, jaccard FROM verify WHERE jaccard >= 0.7""".stripMargin
    },

    "q_minhash_pairs" -> {
      s"""$minhashCandCtes,
         |verify AS (SELECT p.doc_id_a, p.doc_id_b,
         |  CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
         |  ((len(x.hs) + len(y.hs)) - CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)) AS jaccard
         |  FROM pairs p JOIN hsh x ON p.doc_id_a = x.doc_id
         |  JOIN hsh y ON p.doc_id_b = y.doc_id)
         |SELECT doc_id_a, doc_id_b, jaccard FROM verify WHERE jaccard >= 0.4""".stripMargin
    },

    // same LSH candidate chain scored by containment |A∩B|/min(|A|,|B|):
    // integer intersection size over the identical hashed shingle sets,
    // one terminal division
    "q_containment" -> {
      s"""$minhashCandCtes,
         |ver AS (SELECT p.doc_id_a, p.doc_id_b,
         |  CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
         |  least(len(x.hs), len(y.hs)) AS containment
         |  FROM pairs p JOIN hsh x ON p.doc_id_a = x.doc_id
         |  JOIN hsh y ON p.doc_id_b = y.doc_id)
         |SELECT doc_id_a, doc_id_b, containment FROM ver
         |WHERE containment >= 0.6""".stripMargin
    },

    // 64-token chunks at stride 32 over whitespace tokens: chunk count
    // 1 + ceil((n-64)/32) (floor-of-double is exact below 2^53), list_slice
    // clamps the tail exactly like Spark's slice
    "q_chunk_docs" ->
      """WITH w AS (
        |SELECT doc_id, trim(regexp_replace(text, '[ \n\t\r]+', ' ', 'g')) AS ws
        |FROM documents),
        |d AS (
        |SELECT doc_id, string_split(ws, ' ') AS toks
        |FROM w WHERE length(ws) > 0),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM d),
        |c AS (SELECT doc_id, toks,
        |  CASE WHEN n <= 64 THEN 1
        |  ELSE 1 + CAST(floor(CAST(n - 64 + 31 AS DOUBLE) / 32) AS BIGINT)
        |  END AS nc FROM n),
        |e AS (SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_idx FROM c)
        |SELECT doc_id, chunk_idx,
        |CAST(len(list_slice(toks, 1 + chunk_idx * 32, chunk_idx * 32 + 64))
        |  AS BIGINT) AS n_tokens,
        |array_to_string(list_slice(toks, 1 + chunk_idx * 32,
        |  chunk_idx * 32 + 64), ' ') AS chunk_text
        |FROM e""".stripMargin,

    // lexical diversity: exact (doc, token) counts then per-doc rollup;
    // the three ratios are single terminal divisions
    "q_lexical" ->
      s"""WITH tok AS (
         |SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
         |FROM documents),
         |tc AS (SELECT doc_id, tok, count(*) AS c FROM tok
         |  WHERE tok <> '' GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  count(*) AS n_types,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         |  CAST(sum(length(tok) * c) AS BIGINT) AS sumlen
         |  FROM tc GROUP BY 1)
         |SELECT doc_id, n_tokens, n_types, n_hapax,
         |CAST(n_types AS DOUBLE) / n_tokens AS ttr,
         |CAST(n_hapax AS DOUBLE) / n_types AS hapax_ratio,
         |CAST(sumlen AS DOUBLE) / n_tokens AS mean_token_len
         |FROM a""".stripMargin,

    // OOV ratio vs the corpus top-500 vocabulary: the top-K boundary is a
    // total order (count desc, token asc), counts exact BIGINTs, the
    // ratio one terminal division; token-less documents emit no row
    "q_oov" ->
      s"""WITH tok AS (
         |SELECT doc_id, unnest(string_split($norm, ' ')) AS tk
         |FROM documents),
         |t AS (SELECT doc_id, tk FROM tok WHERE tk <> ''),
         |vc AS (SELECT tk, count(*) AS c FROM t GROUP BY 1),
         |vocab AS (SELECT tk FROM vc ORDER BY c DESC, tk ASC LIMIT 500),
         |a AS (SELECT t.doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov
         |  FROM t LEFT JOIN vocab v ON t.tk = v.tk GROUP BY 1)
         |SELECT doc_id, n_tokens, n_oov,
         |CAST(n_oov AS DOUBLE) / n_tokens AS oov_ratio FROM a""".stripMargin,

    // same candidate set verified by exact Levenshtein on the normalized
    // texts (the length-gap prefilter is lossless and not replayed)
    "q_editdist_pairs" -> {
      s"""$minhashCandCtes,
         |ed AS (SELECT p.doc_id_a, p.doc_id_b,
         |  CAST(levenshtein(x.nrm, y.nrm) AS BIGINT) AS edit_dist
         |  FROM pairs p JOIN d x ON p.doc_id_a = x.doc_id
         |  JOIN d y ON p.doc_id_b = y.doc_id)
         |SELECT doc_id_a, doc_id_b, edit_dist FROM ed
         |WHERE edit_dist <= 50""".stripMargin
    },

    "q_simhash" ->
      s"""$simhashCte
         |SELECT doc_id, simhash FROM sh""".stripMargin,

    // SimHash banded near-dup replay: pigeonhole bands over the 61 bits
    // (maxHamming=3 -> 4 bands of width 16/16/16/13), sub-bucket split as
    // in Dedup.simhashPairs (xh = the fingerprint itself), exact bit_count
    // verify.
    "q_simhash_pairs" ->
      s"""$simhashPairsCtes
         |SELECT doc_id_a, doc_id_b, hamming FROM spairs""".stripMargin,

    // Connected components over the simhash pair graph via recursive
    // reachability: every doc reaches itself (singletons keep their own id),
    // cluster_id = min reachable id through the symmetric edge closure —
    // the same fixpoint Dedup.clusterAssignments' min-label propagation
    // converges to.
    "q_dedup_clusters" -> {
      val chain = simhashPairsCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")
      s"""$chain,
         |e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM spairs
         |  UNION SELECT doc_id_b, doc_id_a FROM spairs),
         |reach AS (
         |  SELECT doc_id AS src, doc_id AS dst FROM documents
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  doc_id = cluster_id AS is_canonical
         |FROM lab""".stripMargin
    },

    // Canonical-by-score replay: the q_dedup_clusters reach/label chain
    // plus a per-cluster (score DESC, id ASC) rank.
    "q_dedup_canonical" -> {
      val chain = simhashPairsCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")
      s"""$chain,
         |e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM spairs
         |  UNION SELECT doc_id_b, doc_id_a FROM spairs),
         |reach AS (
         |  SELECT doc_id AS src, doc_id AS dst FROM documents
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster_id
         |  FROM reach GROUP BY src),
         |sc AS (SELECT doc_id, CAST(length($norm) AS BIGINT) AS score
         |  FROM documents),
         |j AS (SELECT l.doc_id, s.score, l.cluster_id,
         |  count(*) OVER (PARTITION BY l.cluster_id) AS cluster_size
         |  FROM lab l JOIN sc s USING (doc_id))
         |SELECT doc_id, score, cluster_id, cluster_size,
         |  row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY score DESC, doc_id ASC) = 1 AS is_canonical
         |FROM j""".stripMargin
    },

    // Walk-forward purged-CV replay: ntile folds per series, per-fold
    // min-ts starts, role CASE with the embargo in exact microseconds.
    "q_walk_forward" ->
      """WITH f AS (SELECT user_id, ts, event_id,
        |  CAST(ntile(5) OVER (PARTITION BY user_id ORDER BY ts) - 1
        |    AS BIGINT) AS fold FROM events),
        |st AS (SELECT user_id, fold AS fold_eval,
        |  min(epoch_us(ts)) AS fstart FROM f GROUP BY 1, 2),
        |x AS (SELECT f.user_id, f.ts, f.event_id, f.fold,
        |    CAST(e.fold_eval AS BIGINT) AS fold_eval, st.fstart,
        |    CASE WHEN f.fold = e.fold_eval THEN 'val'
        |         WHEN f.fold < e.fold_eval
        |           AND epoch_us(f.ts) < st.fstart - 3600000000
        |           THEN 'train' END AS role
        |  FROM f
        |  CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS fold_eval) e
        |  JOIN st ON st.user_id = f.user_id AND st.fold_eval = e.fold_eval)
        |SELECT user_id, epoch_us(ts) AS ts_us, event_id, fold, fold_eval,
        |  role
        |FROM x WHERE role IS NOT NULL""".stripMargin,

    // Group-leakage-safe split replay: the q_split_assign carve keyed on
    // the group column.
    "q_split_group" -> {
      val bucket =
        s"(${Hashing.mixSql(Hashing.polyHashSql("source"), 7)}) % 10"
      s"""SELECT doc_id, source,
         |CAST(CASE WHEN $bucket < 8 THEN 0 WHEN $bucket < 9 THEN 1
         |  ELSE 2 END AS BIGINT) AS split
         |FROM documents""".stripMargin
    },

    "q_ann_lsh" ->
      s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
         |${lshSubBucketSql(nBits = 6, clamp = 4096)},
         |s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  ${cosSql("a.q", "b.q")} AS cosine
         |  FROM rk a JOIN rk b ON a.bucket = b.bucket AND a.s = b.s
         |  AND a.vec_id <> b.vec_id AND b.r <= 4096),
         |r AS (SELECT query_id, neighbor_id, cosine,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
         |  FROM s)
         |SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id, cosine
         |FROM r WHERE rn <= 3""".stripMargin,

    // Multi-probe ANN with the FULL <=3-bit perturbation sequence: probing
    // every mask of popcount 0..3 makes the margin ranking irrelevant (set
    // equality), so the replay is simply bucket XOR mask over those masks.
    "q_ann_multiprobe" ->
      s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
         |bk AS (SELECT vec_id, q, ${lshBucketSql("q", 64, 6)} AS bucket FROM q),
         |qs AS (SELECT * FROM bk WHERE vec_id < 20),
         |pm AS (SELECT mask FROM range(0, 64) t(mask) WHERE bit_count(mask) <= 3),
         |pr AS (SELECT vec_id, q, xor(bucket, mask) AS bucket FROM qs, pm),
         |s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  ${cosSql("a.q", "b.q")} AS cosine
         |  FROM pr a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |r AS (SELECT query_id, neighbor_id, cosine,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
         |  FROM s)
         |SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id, cosine
         |FROM r WHERE rn <= 3""".stripMargin,

    // Gram-matrix replay: exact integer Σ v_i·v_j over the milli-quantized
    // vectors, upper triangle, 0-based coordinates. q_stream_gram shares it
    // verbatim: the per-batch cell deltas are additive and sum-roll to the
    // identical grid.
    "q_gram_matrix" -> gramMatrixSql,
    "q_stream_gram" -> gramMatrixSql,

    // IVF replay: codebook = the 16 lowest-id quantized vectors; nearest-
    // centroid assignment and probe ranking use squared L2 on exact integer
    // vectors (a.a - 2a.b + b.b == sum((a-b)^2) exactly), ties toward the
    // lowest cell id — matching Similarity.ivfTopK's array_position /
    // struct-sort tie-breaks.
    "q_ann_ivf" -> ivfReplaySql,

    // The cell-partitioned PERSISTED index probes the same cells with the
    // same arithmetic (vectors round-trip parquet exactly), so the indexed
    // path shares the q_ann_ivf replay verbatim.
    "q_ann_ivf_indexed" -> ivfReplaySql,

    // recall@3 of the q_ann_ivf list vs the q_ann_topk brute force: both
    // CTE chains replayed verbatim, intersected per query
    "q_ann_recall" -> {
      val d2 = "list_dot_product(a.q, a.q) - 2 * list_dot_product(a.q, c.cv) + " +
        "list_dot_product(c.cv, c.cv)"
      s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
         |cent AS (SELECT vec_id AS cell, q AS cv FROM q WHERE vec_id < 16),
         |ca AS (SELECT a.vec_id, a.q, c.cell, $d2 AS dist FROM q a CROSS JOIN cent c),
         |arg AS (SELECT vec_id, q, cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r FROM ca) t
         |  WHERE r = 1),
         |qp AS (SELECT vec_id, q, cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r
         |   FROM ca WHERE vec_id < 20) t
         |  WHERE r <= 4),
         |s1 AS (SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  ${cosSql("p.q", "b.q")} AS cosine
         |  FROM qp p JOIN arg b ON p.cell = b.cell AND p.vec_id <> b.vec_id),
         |ivf AS (SELECT query_id, neighbor_id FROM
         |  (SELECT query_id, neighbor_id,
         |   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
         |   FROM s1) t WHERE rn <= 3),
         |s2 AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  ${cosSql("a.q", "b.q")} AS cosine
         |  FROM (SELECT * FROM q WHERE vec_id < 20) a CROSS JOIN q b
         |  WHERE a.vec_id <> b.vec_id),
         |ex AS (SELECT query_id, neighbor_id FROM
         |  (SELECT query_id, neighbor_id,
         |   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
         |   FROM s2) t WHERE rn <= 3),
         |h AS (SELECT ivf.query_id, count(*) AS n_hits
         |  FROM ivf JOIN ex ON ex.query_id = ivf.query_id
         |    AND ex.neighbor_id = ivf.neighbor_id
         |  GROUP BY 1)
         |SELECT e.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 3 AS recall
         |FROM (SELECT DISTINCT query_id FROM ex) e
         |LEFT JOIN h ON h.query_id = e.query_id""".stripMargin
    },

    // IVF-PQ replay: coarse cells as in q_ann_ivf; sub-codebooks = the same
    // 16 vectors' 4 subvectors of dim 16; corpus codes by per-subspace
    // argmin; ADC = sum over subspaces of the exact-integer distance to the
    // coded sub-centroid (a^2-2ab+b^2 form equals the left-to-right l2sq
    // fold exactly on integer vectors)
    "q_ann_ivfpq" -> ivfPqSql,

    "q_ann_rerank" -> ivfPqRerankSql,

    // the streaming PQ top-k runs the same parameters/codebooks as
    // q_ann_ivfpq in a single-batch watermarked query — same replay
    "q_stream_pq_topk" -> ivfPqSql,

    "q_stream_tolerance_join" ->
      """SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id, l.value,
        |  epoch_us(r.ts) AS right_ts_us, r.value AS right_value
        |FROM (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click') l
        |JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        |ON l.user_id = r.user_id AND r.ts <= l.ts
        |  AND r.ts >= l.ts - INTERVAL 1 HOUR""".stripMargin,

    // residual IVF-PQ: as q_ann_ivfpq but both sides encode/score against
    // (vector - cell centroid); integer residuals keep everything exact
    "q_ann_ivfpq_res" -> {
      val d2 = "list_dot_product(a.q, a.q) - 2 * list_dot_product(a.q, c.cv) + " +
        "list_dot_product(c.cv, c.cv)"
      def sub(e: String, m: String) = s"list_slice($e, ($m)*16+1, ($m)*16+16)"
      val qs = sub("p.rq", "cd.m")
      s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
         |cent AS (SELECT vec_id AS cell, q AS cv FROM q WHERE vec_id < 16),
         |scb AS (SELECT ms.m, cell AS j, ${sub("cv", "ms.m")} AS scv
         |  FROM cent, (SELECT unnest([0, 1, 2, 3]) AS m) ms),
         |ca AS (SELECT a.vec_id, a.q, c.cell, $d2 AS dist FROM q a CROSS JOIN cent c),
         |arg AS (SELECT vec_id, q, cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r FROM ca) t
         |  WHERE r = 1),
         |rv AS (SELECT b.vec_id, b.cell,
         |  list_transform(range(1, len(b.q)+1), i -> b.q[i] - c.cv[i]) AS rv
         |  FROM arg b JOIN cent c ON c.cell = b.cell),
         |qp AS (SELECT vec_id, q, cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS r
         |   FROM ca WHERE vec_id < 20) t
         |  WHERE r <= 4),
         |qr AS (SELECT p.vec_id, p.cell,
         |  list_transform(range(1, len(p.q)+1), i -> p.q[i] - c.cv[i]) AS rq
         |  FROM qp p JOIN cent c ON c.cell = p.cell),
         |cdist AS (SELECT a.vec_id, s.m, s.j,
         |  list_dot_product(${sub("a.rv", "s.m")}, ${sub("a.rv", "s.m")})
         |  - 2 * list_dot_product(${sub("a.rv", "s.m")}, s.scv)
         |  + list_dot_product(s.scv, s.scv) AS d
         |  FROM rv a CROSS JOIN scb s),
         |codes AS (SELECT vec_id, m, j AS code FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS r
         |   FROM cdist) t WHERE r = 1),
         |s1 AS (SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  sum(list_dot_product($qs, $qs) - 2 * list_dot_product($qs, sc.scv)
         |      + list_dot_product(sc.scv, sc.scv)) AS adc_dist
         |  FROM qr p JOIN rv b ON p.cell = b.cell AND p.vec_id <> b.vec_id
         |  JOIN codes cd ON cd.vec_id = b.vec_id
         |  JOIN scb sc ON sc.m = cd.m AND sc.j = cd.code
         |  GROUP BY p.vec_id, b.vec_id),
         |r AS (SELECT query_id, neighbor_id, adc_dist,
         |  row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
         |  FROM s1)
         |SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id, adc_dist
         |FROM r WHERE rn <= 3""".stripMargin
    },

    "q_embed_neardup_lsh" ->
      s"""WITH q AS (SELECT vec_id, $qv AS q FROM embeddings),
         |${lshSubBucketSql(nBits = 6, clamp = 4096)},
         |p AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
         |  ${cosSql("a.q", "b.q")} AS cosine
         |  FROM rk a JOIN rk b ON a.bucket = b.bucket AND a.s = b.s
         |  AND a.vec_id < b.vec_id AND a.r <= 4096)
         |SELECT vec_id_a, vec_id_b, cosine FROM p WHERE cosine >= 0.3""".stripMargin,

    // SemDeDup: the q_embed_neardup_lsh pair set as edges, transitive
    // closure via recursive CTE, min-id cluster labels (same shape as
    // q_dedup_clusters)
    "q_semdedup" ->
      s"""WITH RECURSIVE q AS (SELECT vec_id, $qv AS q FROM embeddings),
         |${lshSubBucketSql(nBits = 6, clamp = 4096)},
         |p AS (SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM rk a JOIN rk b ON a.bucket = b.bucket AND a.s = b.s
         |  AND a.vec_id < b.vec_id AND a.r <= 4096
         |  WHERE ${cosSql("a.q", "b.q")} >= 0.3),
         |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
         |reach AS (
         |  SELECT vec_id AS src, vec_id AS dst FROM embeddings
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
         |lab AS (SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT vec_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  vec_id = cluster_id AS is_canonical
         |FROM lab""".stripMargin,

    // media_type/width now state what the REAL header parser must read back
    // from the doc_id-derived synthesized payloads (Multimodal
    // .synthesizeMediaPayload arithmetic); f0 still replays the ASCII
    // feature-stub hash codepoint for codepoint.
    "q_multimodal" -> {
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
    },

    // frame-sampling plan over the parsed MP4 durations: inclusive
    // 5-second lattice per video doc, duration restated from the
    // synthesizeMediaPayload arithmetic
    "q_frame_plan" ->
      """WITH v AS (SELECT doc_id,
        |  ((5000 + doc_id % 100000) * 1000)
        |    // (600 + (doc_id % 10) * 100) AS dur
        |  FROM documents WHERE doc_id % 4 = 3)
        |SELECT v.doc_id, CAST(t.f AS BIGINT) AS frame_ts_ms
        |FROM v, unnest(generate_series(0, v.dur, 5000)) AS t(f)"""
        .stripMargin,

    // Real-header-parser differential: the Spark side builds spec-valid
    // PNG/JPEG/WAV/MP4 bytes from doc_id arithmetic and parses them back;
    // the oracle states the same fields from the arithmetic alone — any
    // byte-offset mistake in builder or parser breaks the hash match.
    "q_media_meta_real" ->
      """SELECT doc_id,
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
        |FROM documents""".stripMargin,

    // PNG decode replay: the engine inflates + unfilters real zlib
    // scanlines; the oracle restates the decoded sample sums from the
    // generating arithmetic (sample(r,c,ch) = (id%251 + 5r + 3c + 11ch)
    // % 256) via lateral range expansion — no byte ever touched here, so
    // a decoder bug cannot self-validate.
    "q_decode_png" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w,
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
        |FROM px GROUP BY doc_id, w, h, nch""".stripMargin,

    // BMP decode replay: same gradient family as PNG, always 3 channels;
    // the engine must walk the padded bottom-up BGR rows to land on the
    // identical sums
    "q_decode_bmp" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w,
        |  8 + (doc_id * 3) % 24 AS h FROM documents),
        |px AS (SELECT doc_id, w, h,
        |  (doc_id % 251 + 5 * r.r + 3 * c.c + 11 * ch.ch) % 256 AS p
        |  FROM d, range(31) r(r), range(31) c(c), range(3) ch(ch)
        |  WHERE r.r < h AND c.c < w)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(3 AS INT) AS channels, count(*) AS n_samples,
        |  CAST(sum(p) AS BIGINT) AS sample_sum,
        |  CAST(sum(p) AS DOUBLE) / count(*) AS mean_sample
        |FROM px GROUP BY doc_id, w, h""".stripMargin,

    // Baseline-JPEG decode replay: flat DC-only 8×8 blocks with quant 8
    // decode bit-exactly in any conforming decoder (DC-exact IDCT), so
    // the oracle restates each block's constant from the id while the
    // engine huffman-decodes, dequantizes, and IDCTs the real stream.
    "q_decode_jpeg" ->
      """WITH d AS (SELECT doc_id, 8 * (1 + doc_id % 4) AS w,
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
        |FROM b GROUP BY doc_id, w, h""".stripMargin,

    // Progressive-JPEG decode replay: flat DC-only blocks with flat-8
    // quant survive the full SOF2 spectral-selection / successive-
    // approximation scan sequence exactly, so the oracle restates each
    // block's constant while the engine runs the real phuff scan loop.
    "q_decode_jpeg_prog" ->
      """WITH d AS (SELECT doc_id, 8 * (1 + doc_id % 4) AS w,
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
        |FROM b GROUP BY doc_id, w, h""".stripMargin,

    // MJPEG-AVI decode replay: the engine walks RIFF lists to the movi
    // frames and huffman-decodes + IDCTs each (flat DC-only blocks are
    // bit-exact in any conforming decoder); the oracle restates every
    // frame's constants from the synthesizeAviPayload arithmetic.
    "q_decode_video" ->
      """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n,
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
        |FROM fb GROUP BY doc_id, fi, w, h""".stripMargin,

    // MJPEG-MP4 decode replay: same frame arithmetic as q_decode_video
    // (the MP4 fixture deliberately reuses it), so the replay is shared —
    // the engine earns it through a genuinely different container walk
    // (ISO boxes + stsc/stsz/stco sample table instead of RIFF lists).
    "q_decode_mp4" ->
      """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n,
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
        |FROM fb GROUP BY doc_id, fi, w, h""".stripMargin,

    // Scene-cut replay: consecutive-frame SAD from the block arithmetic —
    // all 64 pixels of a block share one value, so the transition SAD is
    // 64·Σ_blocks |v_f − v_{f−1}|; constant dims per clip, so the
    // resolution-change arm never fires in the fixture.
    "q_scene_cuts" ->
      """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n,
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
        |GROUP BY a.doc_id, b.fi""".stripMargin,

    // Shot-keyframe replay: re-segment at the q_scene_cuts SAD flags
    // (running cut count = shot id), keyframe stats read off the first
    // frame of each shot via arg_min on the unique frame index. Shared
    // verbatim by the stateless streaming twin (q_stream_keyframes —
    // per-clip decode maps commute with any micro-batching).
    "q_shot_keyframes" -> shotKeyframesSql,
    "q_stream_keyframes" -> shotKeyframesSql,

    // Media-dedup replay: one branch per id%3 modality arm, each
    // restating its folded fixture arithmetic and md5 moment string,
    // UNION ALL, then the (modality, fp, n_units) group. The streaming
    // gate (first-owner state, id-ordered ingestion) shares it verbatim.
    "q_media_dedup" -> mediaDedupSql,
    "q_stream_media_dedup" -> mediaDedupSql,
    // the production-order e2e pipeline: exact groups -> reps-only
    // near-dup hash chains -> recursive-CTE component roll-up
    "q_media_neardup_e2e" -> mediaNearDupE2eSql,


    // Audio-dedup replay: the folded WAV fixture arithmetic (base id%13,
    // n = 100 + (id%10)·40), exact PCM moments incl. the position-
    // weighted Σ(i+1)·s, the same "n:s1:sw" string, DuckDB md5.
    "q_audio_dedup" ->
      """WITH d AS (SELECT doc_id, 100 + (doc_id % 10) * 40 AS n,
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
        |FROM fp GROUP BY fp, n_samples""".stripMargin,

    // Video-dedup replay: the dedup fixture's folded base (id % 13 · 19),
    // per-frame exact moments (flat blocks: Σv = 64·Σ_block v, Σv² =
    // 64·Σ_block v²), the same "w:h:ch:s1:s2" sequence string (ch = 1,
    // the grayscale MJPEG decode), DuckDB md5.
    "q_video_dedup" ->
      """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n,
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
        |FROM fp GROUP BY fp, n_frames""".stripMargin,

    // Video near-dup replay: the synthesizeAviNearDupPayload arithmetic
    // (scrambled per-class quadratic + shot lifts + variant delta), SAD
    // re-segmentation, per-keyframe pHash via the embedded PhashCos table
    // (the q_image_phash replay keyed by (doc, shot)), then the EXACT
    // pair semantics — Hamming ≤ 3 (pigeonhole-complete over the engine's
    // 4 bands) and the 60% matched-shot threshold on both sides.
    "q_video_neardup" -> videoNearDupSql,
    "q_stream_video_neardup" -> videoNearDupSql,

    // Real frame sampling replay: 400 ms lattice, covering-frame index
    // from the exact (rate=fps, scale=1) rational, per-frame sums joined
    // from the same block arithmetic as q_decode_video.
    "q_frame_sample" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS fps, 3 + doc_id % 5 AS n,
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
        .stripMargin,

    // Full-dispatch histogram replay: one branch per codec arm of the
    // id%4 mixed corpus, every per-bin count restated from the fixture
    // arithmetic (16 bins; images v//16, wav (s+32768)//4096).
    "q_pixel_hist" -> pixelHistSql,
    // Equalization replay: the histogram replay + per-doc prefix sums and
    // the same non-negative floor division.
    "q_hist_equalize" ->
      s"""WITH hh AS ($pixelHistSql),
         |t AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n FROM hh GROUP BY 1),
         |c AS (SELECT doc_id, bin, cnt,
         |  CAST(sum(cnt) OVER (PARTITION BY doc_id ORDER BY bin) AS BIGINT) AS cdf
         |  FROM hh)
         |SELECT c.doc_id, c.bin, c.cnt, c.cdf,
         |  CAST((15 * c.cdf) // t.n AS BIGINT) AS lut
         |FROM c JOIN t USING (doc_id)""".stripMargin,

    // Real-resize replay: nearest-neighbor index map sy = y·srcH//16,
    // sx = x·srcW//16 over the two image arms of the mixed corpus (PNG
    // pixel arithmetic; JPEG = flat-block constant at (sy//8, sx//8)).
    // WAV/AVI arms pass through un-resized and fall out of the PNG stats.
    "q_resize_real" ->
      """WITH p0 AS (SELECT d.doc_id, d.nch,
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
        |FROM u GROUP BY doc_id, nch""".stripMargin,

    // Coverage replay: the (format, status) of every id%9 class is known
    // by construction — decodable media (incl. progressive JPEG) decode,
    // header-only shells parse but don't decode, non-media bytes drop.
    "q_media_coverage" ->
      """WITH c AS (SELECT doc_id,
        |  CASE doc_id % 10 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |    WHEN 2 THEN 'wav' WHEN 3 THEN 'avi' WHEN 4 THEN 'jpeg'
        |    WHEN 5 THEN 'mp4' WHEN 6 THEN 'png' WHEN 7 THEN 'jpeg'
        |    WHEN 8 THEN 'mp4' ELSE 'unknown' END AS format,
        |  CASE WHEN doc_id % 10 IN (0, 1, 2, 3, 4, 5) THEN 'decoded'
        |       WHEN doc_id % 10 = 9 THEN 'dropped'
        |       ELSE 'header_only' END AS status
        |  FROM documents)
        |SELECT format, status, count(*) AS n_docs
        |FROM c GROUP BY format, status""".stripMargin,

    // dHash replay: grayscale + NN-to-9×8 restated from the generating
    // pixel arithmetic (integer channel mean; sy = y·h//8, sx = x·w//9 —
    // the resize operator's index map), bits accumulated into the same
    // unsigned 32-bit halves and 16-bit bands via exact integer shifts.
    "q_image_dhash" -> (imageDhashSql + "\nSELECT * FROM acc"),
    "q_image_phash" -> imagePhashSql,

    // aHash replay: same 8x8 NN gray raster, integer mean (floor), strict
    // threshold, dHash bit-packing convention
    "q_image_ahash" -> imageAhashSql,
    // the streaming twin emits identical per-doc signatures
    "q_stream_dhash" -> (imageDhashSql + "\nSELECT * FROM acc"),

    // streaming aHash: stateless decode gate, shares the batch replay
    "q_stream_ahash" -> imageAhashSql,

    // near-dup replay: distinct signatures → min-id representative →
    // band-bucket join → exact popcount Hamming at radius 3, DISTINCT
    // over the same five output columns the engine deduplicates on.
    "q_image_neardup" -> (imageDhashSql +
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
        |  + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 3""".stripMargin),

    // Audio frame-feature replay: the q_decode_wav closed-form samples cut
    // into 64-sample full frames; energy/peak exact integers, zcr by the
    // same strict lag-product convention, rms = sqrt(energy/64) — the
    // identical division+sqrt pair, both IEEE-correctly rounded.
    "q_audio_features" ->
      """WITH d AS (SELECT doc_id, 100 + doc_id % 400 AS n FROM documents),
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
        |FROM z GROUP BY doc_id, frame_idx""".stripMargin,

    // Walsh-Hadamard sequency bands: the oracle computes each coefficient
    // from the DEFINITION W[k] = Σ_n x[n]·(−1)^popcount(k&n) (the engine
    // runs the butterfly — agreeing answers cross-check the two forms);
    // the sequency→natural map is embedded from the same precomputed
    // table the engine reorders with. All-integer, so bit-exact.
    // Decimation replay: the same synthesized-sample arithmetic, 16-sample
    // boxcar groups (trailing partial dropped), exact sums, one division.
    "q_audio_decimate" ->
      """WITH d AS (SELECT doc_id, 100 + doc_id % 400 AS n FROM documents),
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
        |FROM g GROUP BY doc_id, out_idx""".stripMargin,

    "q_audio_sequency" -> {
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
    },

    // Fourier spectrogram replay: the O(n²) DFT per 64-sample frame over
    // the synthesized-sample arithmetic (the engine runs its radix-2 FFT
    // — agreeing answers cross-check the two forms); bins quantize as
    // floor(X/256 + 0.25) (see Multimodal.wavSpectrogram for the quantum
    // rationale), band energies are exact integer sums of rc²+ic².
    "q_audio_spectrogram" ->
      s"$audioSpectroCte SELECT doc_id, frame_idx, band, band_energy_q FROM be",

    // Audio near-dup replay: the synthesizeWavNearDupPayload
    // frequency-hopping arithmetic (non-negative gained base, the
    // truncation=floor convention), per-frame Walsh coefficients from
    // the DEFINITION with the embedded sequency map (the q_audio_sequency
    // replay — all-integer, bit-exact), Haitsma–Kalker sign bits over
    // band-energy gradients, 9-transition 63-bit segment packing, then
    // the EXACT pair semantics (Hamming ≤ 3, 60% matched both sides).
    "q_audio_neardup" -> audioNearDupSql,
    "q_stream_audio_neardup" -> audioNearDupSql,

    // MFCC replay: the spectrogram CTE's quantized bins -> per-bin powers
    // over the 32 unique bins -> rectangular mel sums over the embedded
    // integer edge table (every band owns >= 1 bin by construction, so no
    // group can vanish) -> milli-quantized ln(E+1) -> the embedded
    // fixed-point DCT-II basis. All-integer after the shared quantization.
    "q_audio_mfcc" -> {
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
    },

    "q_audio_descriptors" -> {
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
    },

    // WAV PCM decode replay: sample(i) = ((id%251)*7 + 11*i) % 65536 −
    // 32768 over n = 100 + id % 400 samples; the engine must walk RIFF
    // chunks and sign-extend LE16 bytes to reproduce these sums.
    "q_decode_wav" ->
      """WITH d AS (SELECT doc_id, 100 + doc_id % 400 AS n,
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
        |FROM px GROUP BY doc_id, sample_rate""".stripMargin,

    "q_time_horizon" ->
      """WITH g AS (SELECT user_id, min(ts) AS mn, max(ts) AS mx, count(*) AS actual_rows
        |  FROM events GROUP BY 1),
        |e AS (SELECT user_id, mn, mx, actual_rows,
        |  epoch_ms(mn) AS mnm, epoch_ms(mx) AS mxm FROM g),
        |r AS (SELECT user_id, mn, mx, actual_rows,
        |  mnm - mnm % 3600000 AS rmin, mxm - mxm % 3600000 AS rmax FROM e)
        |SELECT user_id, epoch_us(mn) AS min_ts_us, epoch_us(mx) AS max_ts_us,
        |  actual_rows, (rmax - rmin) / 3600000 + 1 AS num_values
        |FROM r""".stripMargin,

    "q_describe" -> {
      val cols = Seq("event_id", "user_id", "event_type", "value")
      val gran =
        """substring(min(CASE WHEN epoch_us(ts) % 1000000 <> 0 THEN '1-millis'
          |  WHEN epoch_us(ts) % 60000000 <> 0 THEN '2-seconds'
          |  WHEN epoch_us(ts) % 3600000000 <> 0 THEN '3-minutes'
          |  WHEN epoch_us(ts) % 86400000000 <> 0 THEN '4-hours'
          |  ELSE '5-days' END), 3)""".stripMargin
      // fixed-4-decimal rendering from integer/string ops — replays
      // TSDF.describe's fmt4 digit for digit
      def fmt4(x: String) = {
        val sc = s"CAST(round(($x) * 10000) AS BIGINT)"
        s"(CASE WHEN $sc < 0 THEN '-' ELSE '' END) || " +
          s"CAST(abs($sc) // 10000 AS VARCHAR) || '.' || " +
          s"lpad(CAST(abs($sc) % 10000 AS VARCHAR), 4, '0')"
      }
      // moment-sum stddev with the same op order as TSDF.describe: sums in
      // double (exact on these magnitudes), count*(count-1) in integers
      def sd(c: String, scaled: Boolean) = {
        val v = if (scaled) s"round($c * 100)" else s"CAST($c AS DOUBLE)"
        val div = if (scaled) " / 100" else ""
        s"""CASE WHEN count($c) > 1 THEN
           |sqrt((CAST(count($c) AS DOUBLE) * sum(($v) * ($v)) - sum($v) * sum($v))
           |  / (count($c) * (count($c) - 1)))$div END""".stripMargin
      }
      def row(summary: String, vals: Seq[String], globals: Seq[String]) =
        s"SELECT '$summary' AS summary, ${globals(0)} AS unique_time_series_count, " +
          s"${globals(1)} AS min_ts, ${globals(2)} AS max_ts, ${globals(3)} AS granularity, " +
          cols.zip(vals).map { case (c, v) => s"$v AS $c" }.mkString(", ") +
          " FROM events"
      val blank = Seq("' '", "' '", "' '", "' '")
      Seq(
        row("global", cols.map(_ => "' '"),
          Seq("CAST(count(DISTINCT user_id) AS VARCHAR)", "CAST(min(ts) AS VARCHAR)",
            "CAST(max(ts) AS VARCHAR)", gran)),
        row("count", cols.map(c => s"CAST(count($c) AS VARCHAR)"), blank),
        row("mean", Seq(fmt4("avg(CAST(event_id AS DOUBLE))"),
          fmt4("avg(CAST(user_id AS DOUBLE))"), "CAST(NULL AS VARCHAR)",
          fmt4("avg(round(value * 100)) / 100")), blank),
        row("stddev", Seq(fmt4(sd("event_id", scaled = false)),
          fmt4(sd("user_id", scaled = false)), "CAST(NULL AS VARCHAR)",
          fmt4(sd("value", scaled = true))), blank),
        row("min", cols.map(c => s"CAST(min($c) AS VARCHAR)"), blank),
        row("max", cols.map(c => s"CAST(max($c) AS VARCHAR)"), blank),
        row("missing_vals_pct",
          cols.map(c => s"CAST((100 * count(CASE WHEN $c IS NULL THEN 1 END)) / count(*) AS VARCHAR)"),
          blank),
      ).mkString("\nUNION ALL\n")
    },

    "q_asof_nanos" ->
      """WITH e AS (SELECT user_id, event_type, event_id, value,
        |  epoch_ns(ts) // 1000000000 +
        |  CAST('0.' || lpad(CAST(epoch_ns(ts) % 1000000000 AS VARCHAR), 9, '0') AS DOUBLE) AS dts
        |  FROM events)
        |SELECT l.user_id, l.dts AS double_ts, l.event_id,
        |  r.dts AS right_double_ts, r.value AS right_value
        |FROM (SELECT user_id, dts, event_id FROM e WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, dts, value FROM e WHERE event_type = 'purchase') r
        |ON l.user_id = r.user_id AND l.dts >= r.dts""".stripMargin,

    // O(n²) DFT as ground truth for the FFT: X_k = Σ_j v_j·e^{-2πi·jk/n}.
    // ft values compare as rounded cents (the FFT sums floats in a different
    // order); freq = k/(n·1.0) on exact integers compares unrounded.
    "q_fourier" ->
      """WITH x AS (SELECT user_id, ts, value,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS BIGINT) AS j,
        |  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n FROM events),
        |d AS (SELECT a.user_id, a.ts, a.j, a.n,
        |  sum(b.value * cos(2 * pi() * ((a.j * b.j) % a.n) / a.n)) AS fr,
        |  sum(-b.value * sin(2 * pi() * ((a.j * b.j) % a.n) / a.n)) AS fi
        |  FROM x a JOIN x b ON a.user_id = b.user_id
        |  GROUP BY a.user_id, a.ts, a.j, a.n)
        |SELECT user_id, epoch_us(ts) AS ts_us,
        |  (CASE WHEN j < (n - 1) // 2 + 1 THEN j ELSE j - n END) / (n * 1.0) AS freq,
        |  CAST(floor(fr * 100 + 0.25) AS BIGINT) AS ft_real_c,
        |  CAST(floor(fi * 100 + 0.25) AS BIGINT) AS ft_imag_c
        |FROM d""".stripMargin,

    // top-3 periodogram bins: power from the SAME quantized cents as
    // q_fourier (rc² + ic² exact integers), so the per-user ranking is
    // engine-deterministic; positive freqs only, ties by freq
    "q_spectrum" ->
      """WITH x AS (SELECT user_id, ts, value,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS BIGINT) AS j,
        |  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n FROM events),
        |d AS (SELECT a.user_id, a.j, a.n,
        |  sum(b.value * cos(2 * pi() * ((a.j * b.j) % a.n) / a.n)) AS fr,
        |  sum(-b.value * sin(2 * pi() * ((a.j * b.j) % a.n) / a.n)) AS fi
        |  FROM x a JOIN x b ON a.user_id = b.user_id
        |  GROUP BY a.user_id, a.j, a.n),
        |p AS (SELECT user_id,
        |  (CASE WHEN j < (n - 1) // 2 + 1 THEN j ELSE j - n END) / (n * 1.0) AS freq,
        |  CAST(floor(fr * 100 + 0.25) AS BIGINT) AS rc,
        |  CAST(floor(fi * 100 + 0.25) AS BIGINT) AS ic
        |  FROM d),
        |pw AS (SELECT user_id, freq, rc * rc + ic * ic AS power_c
        |  FROM p WHERE freq > 0),
        |r AS (SELECT user_id, freq, power_c,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY power_c DESC, freq ASC) AS rn FROM pw)
        |SELECT user_id, CAST(rn AS BIGINT) AS "rank", freq, power_c
        |FROM r WHERE rn <= 3""".stripMargin,

    // Flesch reading ease replay: the three integer counts use the shared
    // tokenCount trick + regexp_extract_all (RE2-subset patterns), the
    // score the identical fixed IEEE assembly
    "q_readability" ->
      """WITH x AS (SELECT doc_id, text,
        |  trim(regexp_replace(text, ' +', ' ', 'g')) AS tt FROM documents),
        |y AS (SELECT doc_id,
        |  CAST(CASE WHEN length(tt) = 0 THEN 0
        |    ELSE length(tt) - length(replace(tt, ' ', '')) + 1 END AS BIGINT) AS w,
        |  CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS s,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS sy
        |  FROM x)
        |SELECT doc_id, w AS n_words, s AS n_sentences, sy AS n_syllables,
        |  CASE WHEN w > 0 THEN 206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
        |    - 84.6 * (CAST(sy AS DOUBLE) / w) END AS flesch
        |FROM y""".stripMargin,

    // snapshot diff: both snapshot fingerprints are md5 of the SAME
    // normalized text both engines compute; one full outer join
    "q_snapshot_diff" -> {
      s"""WITH o AS (SELECT doc_id, md5($norm) AS old_fp
         |  FROM documents WHERE doc_id % 4 <> 1),
         |nv AS (SELECT doc_id,
         |  CASE WHEN doc_id % 10 = 0 THEN text || ' updated' ELSE text END AS text
         |  FROM documents WHERE doc_id % 4 <> 2),
         |nw AS (SELECT doc_id, md5($norm) AS new_fp FROM nv)
         |SELECT coalesce(o.doc_id, nw.doc_id) AS doc_id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN nw.doc_id IS NULL THEN 'removed'
         |       WHEN old_fp <> new_fp THEN 'changed'
         |       ELSE 'unchanged' END AS status,
         |  old_fp, new_fp
         |FROM o FULL OUTER JOIN nw ON nw.doc_id = o.doc_id""".stripMargin
    },

    // column profile: exact counts per profiled lineitem column
    "q_profile" -> {
      val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate",
        "l_discount")
      cols.map(c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct
           |  FROM lineitem""".stripMargin).mkString("\nUNION ALL ")
    },

    // ordered re-anchored funnel: selected min-timestamps per step,
    // later steps only after the previous completed
    // market-basket co-occurrence over 30-min session item sets: exact
    // pair/item/session counts, support and lift as single terminal
    // divisions on exact BIGINT products
    "q_cooccur" ->
      s"""$basketCtes,
         |pairs AS (SELECT x.item AS item_a, y.item AS item_b,
         |  count(*) AS n_ab
         |  FROM bask x JOIN bask y ON x.user_id = y.user_id
         |  AND x.session_id = y.session_id AND x.item < y.item
         |  GROUP BY 1, 2),
         |ic AS (SELECT item, count(*) AS n FROM bask GROUP BY 1),
         |ns AS (SELECT count(*) AS n_sessions FROM
         |  (SELECT DISTINCT user_id, session_id FROM bask))
         |SELECT p.item_a, p.item_b, p.n_ab, a.n AS n_a, b.n AS n_b,
         |ns.n_sessions,
         |CAST(p.n_ab AS DOUBLE) / ns.n_sessions AS support,
         |CAST(p.n_ab * ns.n_sessions AS DOUBLE) / CAST(a.n * b.n AS DOUBLE)
         |  AS lift
         |FROM pairs p JOIN ic a ON p.item_a = a.item
         |JOIN ic b ON p.item_b = b.item CROSS JOIN ns""".stripMargin,

    // exact-integer PageRank, 10 unrolled iterations over the symmetric
    // session co-occurrence graph: every step is BIGINT floor arithmetic
    // (all operands positive, so DuckDB's floor-div // equals Spark's
    // truncating div), so the ranks replay bit-for-bit
    "q_pagerank" -> pagerankSql,

    // per-node triangles over the same canonical a<b session co-occurrence
    // edges: each triangle a<b<c enumerated once via (a,b)⋈(b,c)⋈(a,c);
    // exact BIGINT counts, clustering one fixed-order IEEE expression
    // (the Spark side's degree-ordered orientation changes the join
    // order, not the result set)
    "q_triangles" ->
      s"""$basketCtes,
         |e AS (SELECT DISTINCT x.item AS a, y.item AS b
         |  FROM bask x JOIN bask y ON x.user_id = y.user_id
         |  AND x.session_id = y.session_id AND x.item < y.item),
         |deg AS (SELECT node, count(*) AS degree FROM
         |  (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) dn
         |  GROUP BY 1),
         |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |nt AS (SELECT node, count(*) AS triangles FROM
         |  (SELECT u AS node FROM tri UNION ALL SELECT v AS node FROM tri
         |   UNION ALL SELECT w AS node FROM tri) tn GROUP BY 1)
         |SELECT d.node AS item, d.degree,
         |CAST(coalesce(nt.triangles, 0) AS BIGINT) AS triangles,
         |CASE WHEN d.degree >= 2 THEN 2.0 * CAST(coalesce(nt.triangles, 0)
         |  AS BIGINT) / (d.degree * (d.degree - 1)) END AS clustering
         |FROM deg d LEFT JOIN nt ON d.node = nt.node""".stripMargin,

    // RFM quintiles: exact day diffs / counts / cents sums, ntile over a
    // TOTAL order (metric, then customer) so the tiles are deterministic
    "q_rfm" ->
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |mx AS (SELECT max(d) AS maxd FROM o),
        |pc AS (SELECT o_custkey,
        |  CAST(date_diff('day', max(d), (SELECT maxd FROM mx)) AS BIGINT)
        |    AS recency_days,
        |  count(*) AS frequency, CAST(sum(cents) AS BIGINT) AS monetary
        |  FROM o GROUP BY 1),
        |sc AS (SELECT o_custkey, recency_days, frequency, monetary,
        |  CAST(ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC)
        |    AS BIGINT) AS r,
        |  CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC)
        |    AS BIGINT) AS f,
        |  CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC)
        |    AS BIGINT) AS m
        |  FROM pc)
        |SELECT o_custkey, recency_days, frequency, monetary, r, f, m,
        |r * 100 + f * 10 + m AS rfm_segment FROM sc""".stripMargin,

    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
        |s1 AS (SELECT user_id, min(tu) AS t1_us FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(tu) AS t2_us FROM e
        |  JOIN s1 ON s1.user_id = e.user_id
        |  WHERE event_type = 'click' AND tu > t1_us GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(tu) AS t3_us FROM e
        |  JOIN s2 ON s2.user_id = e.user_id
        |  WHERE event_type = 'purchase' AND tu > t2_us GROUP BY 1)
        |SELECT s1.user_id, s1.t1_us, s2.t2_us, s3.t3_us,
        |  CAST(1 + (CASE WHEN s2.t2_us IS NOT NULL THEN 1 ELSE 0 END)
        |    + (CASE WHEN s3.t3_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS depth
        |FROM s1
        |LEFT JOIN s2 ON s2.user_id = s1.user_id
        |LEFT JOIN s3 ON s3.user_id = s1.user_id""".stripMargin,

    // weekly retention cohorts on 7-day epoch periods (no calendar/ISO
    // conventions); exact counts, one terminal division
    "q_retention" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 604800000000 AS p FROM events),
        |c AS (SELECT user_id, min(p) AS cohort_period FROM a GROUP BY 1),
        |s AS (SELECT cohort_period, count(*) AS cohort_size FROM c GROUP BY 1),
        |n AS (SELECT c.cohort_period, a.p - c.cohort_period AS k,
        |  count(*) AS n_active
        |  FROM a JOIN c ON c.user_id = a.user_id GROUP BY 1, 2)
        |SELECT n.cohort_period, n.k, n.n_active, s.cohort_size,
        |  CAST(n.n_active AS DOUBLE) / s.cohort_size AS retention
        |FROM n JOIN s ON s.cohort_period = n.cohort_period""".stripMargin,

    // trailing-7-day active users via the day-explode decomposition
    "q_wau" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 86400000000 AS dd FROM events),
        |sp AS (SELECT max(dd) AS hi FROM d),
        |x AS (SELECT DISTINCT user_id, dd + r AS day_idx
        |  FROM d, range(7) t(r))
        |SELECT day_idx, CAST(day_idx * 86400000000 AS BIGINT) AS day_ts_us,
        |  count(*) AS active_users
        |FROM x, sp WHERE x.day_idx <= sp.hi
        |GROUP BY 1""".stripMargin,

    // k-anonymity gate: exact quasi-identifier combination counts
    "q_k_anon" ->
      """WITH t AS (SELECT event_id, event_type,
        |  CAST(hour(ts) AS BIGINT) AS hr FROM events)
        |SELECT event_id, event_type, hr,
        |  count(*) OVER (PARTITION BY event_type, hr) AS group_n,
        |  (count(*) OVER (PARTITION BY event_type, hr) >= 60) AS k_anon_ok
        |FROM t""".stripMargin,

    // l-diversity: exact distinct-sensitive counts per quasi group,
    // joined back row-level. Null-safe LEFT join + NULL-sensitive
    // exclusion mirror Pii.lDiversity's explicit NULL policy.
    // Rollup replay: GROUP BY ROLLUP with the SQL-standard GROUPING
    // bitmask (verified identical to Spark's grouping_id convention)
    "q_time_rollup" ->
      """WITH t AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day,
        |  (epoch_us(ts) % 86400000000) // 3600000000 AS hr,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_type, day, hr,
        |  CAST(GROUPING(event_type, day, hr) AS BIGINT) AS gid,
        |  count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM t GROUP BY ROLLUP(event_type, day, hr)""".stripMargin,

    // Sequence-pattern replay: the same trace build (string_agg in
    // (ts, event_id) order) and the same regex — RE2 and Java both use
    // leftmost-first non-overlapping semantics, the Pii discipline
    "q_seq_pattern" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |  CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |    WHEN 'purchase' THEN 'p' ELSE 'o' END AS c
        |  FROM events),
        |tr AS (SELECT user_id,
        |  string_agg(c, '' ORDER BY ts, event_id) AS trace
        |  FROM e GROUP BY 1),
        |m AS (SELECT user_id, trace,
        |  CAST(length(trace) AS BIGINT) AS trace_len,
        |  CAST(len(regexp_extract_all(trace, 'v[vo]*cp')) AS BIGINT)
        |    AS n_matches
        |  FROM tr)
        |SELECT user_id, trace_len, n_matches,
        |  CASE WHEN n_matches > 0 THEN
        |    CAST(length(regexp_extract(trace, '^(.*?)(?:v[vo]*cp)', 1))
        |      + 1 AS BIGINT)
        |  ELSE CAST(-1 AS BIGINT) END AS first_pos
        |FROM m""".stripMargin,

    // Streaming-DFA replay: the same trace, the RELUCTANT pattern
    // (leftmost-shortest = the DFA's earliest-accept semantics)
    "q_stream_seq_pattern" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |  CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |    WHEN 'purchase' THEN 'p' ELSE 'o' END AS c
        |  FROM events),
        |tr AS (SELECT user_id,
        |  string_agg(c, '' ORDER BY ts, event_id) AS trace
        |  FROM e GROUP BY 1)
        |SELECT user_id, CAST(length(trace) AS BIGINT) AS trace_len,
        |  CAST(len(regexp_extract_all(trace, 'v[vo]*?cp')) AS BIGINT)
        |    AS n_matches
        |FROM tr""".stripMargin,

    // Mojibake replay: the same RE2∩Java \x{…} classes via
    // regexp_extract_all, the injected corruption restated through chr()
    // codepoint concatenation (no literal-encoding ambiguity in the SQL)
    // Normalization-QA replay: the same injection restated through chr()
    // codepoints, the same RE2-subset classes.
    "q_normalization_qa" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN text || ' cafe' || chr(769) ||
        |    ' ' || chr(65313) || ' a' || chr(8203) || 'b'
        |  ELSE text END AS tx
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(tx, '[\x{0300}-\x{036F}]')) AS BIGINT)
        |    AS n_combining,
        |  CAST(len(regexp_extract_all(tx, '[\x{FF01}-\x{FF5E}]')) AS BIGINT)
        |    AS n_fullwidth,
        |  CAST(len(regexp_extract_all(tx, '[\x{200B}-\x{200D}\x{FEFF}]'))
        |    AS BIGINT) AS n_zero_width
        |  FROM t)
        |SELECT doc_id, n_combining, n_fullwidth, n_zero_width,
        |  n_combining + n_fullwidth + n_zero_width = 0 AS norm_ok
        |FROM c""".stripMargin,

    "q_mojibake" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN text || ' caf' || chr(195) ||
        |    chr(169) || ' ' || chr(226) || chr(128) || chr(153) || ' x' ||
        |    chr(65533) || ' ' || chr(7) ELSE text END AS tx
        |  FROM documents),
        |c AS (SELECT doc_id, tx,
        |  CAST(length(tx) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(tx, '\x{FFFD}')) AS BIGINT)
        |    AS n_replacement,
        |  CAST(len(regexp_extract_all(tx, '[\x{0080}-\x{009F}]'))
        |    AS BIGINT) AS n_c1,
        |  CAST(len(regexp_extract_all(tx,
        |    '\x{00C3}[\x{0080}-\x{00FF}]|\x{00E2}\x{0080}|\x{00C2}[\x{00A0}-\x{00BF}]'))
        |    AS BIGINT) AS n_mojibake,
        |  CAST(len(regexp_extract_all(tx,
        |    '[\x{0001}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]'))
        |    AS BIGINT) AS n_ctrl,
        |  CAST(len(regexp_extract_all(tx, '[\x{0020}-\x{007E}]'))
        |    AS BIGINT) AS n_ascii
        |  FROM t)
        |SELECT doc_id, n_chars, n_replacement, n_c1, n_mojibake, n_ctrl,
        |  CASE WHEN n_chars = 0 THEN 0.0
        |    ELSE CAST(n_ascii AS DOUBLE) / CAST(n_chars AS DOUBLE) END
        |    AS ascii_printable_ratio,
        |  (n_replacement + n_c1 + n_mojibake + n_ctrl = 0) AS encoding_ok
        |FROM c""".stripMargin,

    // t-closeness replay: the all-integer EMD numerator (c·N − C·n_g
    // cumulated in sensitive order, absolute values summed) and the one
    // terminal division — HUGEINT intermediates in DuckDB, longs in
    // Spark, identical below 2^63
    // DTW replay (shared SQL below): q_stream_dtw shares it verbatim —
    // the per-(user, hour) sum deltas are additive and fold to the
    // identical profiles.
    "q_dtw" -> dtwSql,
    "q_stream_dtw" -> dtwSql,

    "q_t_closeness" ->
      """WITH b AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
        |  CAST(floor(value / 64) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL),
        |gdist AS (SELECT v, count(*) AS cv FROM b GROUP BY v),
        |tot AS (SELECT CAST(sum(cv) AS BIGINT) AS n, count(*) AS m
        |  FROM gdist),
        |gvt AS (SELECT event_type, hr, v, count(*) AS c FROM b
        |  GROUP BY 1, 2, 3),
        |grp AS (SELECT event_type, hr, CAST(sum(c) AS BIGINT) AS group_n
        |  FROM gvt GROUP BY 1, 2),
        |ex AS (SELECT g.event_type, g.hr, g.group_n, gl.v, gl.cv, t.n, t.m,
        |  coalesce(x.c, 0) AS c
        |  FROM grp g CROSS JOIN gdist gl CROSS JOIN tot t
        |  LEFT JOIN gvt x ON x.event_type IS NOT DISTINCT FROM g.event_type
        |    AND x.hr IS NOT DISTINCT FROM g.hr AND x.v = gl.v),
        |cu AS (SELECT event_type, hr, group_n, n, m,
        |  sum(c * n - cv * group_n) OVER (PARTITION BY event_type, hr
        |    ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM ex),
        |ag AS (SELECT event_type, hr, group_n, any_value(n) AS n,
        |  any_value(m) AS m, CAST(sum(abs(cum)) AS BIGINT) AS emd_num
        |  FROM cu GROUP BY 1, 2, 3),
        |fi AS (SELECT event_type, hr, group_n, emd_num,
        |  CASE WHEN m > 1 THEN CAST(emd_num AS DOUBLE) /
        |    CAST(group_n * n * (m - 1) AS DOUBLE) ELSE 0.0 END AS emd
        |  FROM ag)
        |SELECT event_type, hr, group_n, emd_num, emd,
        |  (emd <= 0.15) AS t_close_ok
        |FROM fi""".stripMargin,

    "q_l_diversity" ->
      """WITH t AS (SELECT event_id, user_id, event_type,
        |  CAST(hour(ts) AS BIGINT) AS hr FROM events),
        |g AS (SELECT event_type, hr, count(*) AS group_l FROM
        |  (SELECT DISTINCT event_type, hr, user_id FROM t
        |   WHERE user_id IS NOT NULL) x GROUP BY 1, 2)
        |SELECT t.event_id, t.event_type, t.hr,
        |CAST(coalesce(g.group_l, 0) AS BIGINT) AS group_l,
        |(CAST(coalesce(g.group_l, 0) AS BIGINT) >= 20) AS l_diverse_ok
        |FROM t LEFT JOIN g ON t.event_type IS NOT DISTINCT FROM g.event_type
        |  AND t.hr IS NOT DISTINCT FROM g.hr"""
        .stripMargin,

    // Benford audit: first digit from the integer's decimal string (no
    // log10 on the data path), exact counts, expected_p embedded as the
    // same JVM-computed double literals the Spark plan uses
    "q_benford" -> {
      // CAST('…' AS DOUBLE): a bare literal parses as DECIMAL first and
      // re-rounds — string→double is correctly rounded to the JVM value
      val cases = (1 to 9).map(d =>
        s"WHEN digit = $d THEN CAST('${Profile.benfordP(d)}' AS DOUBLE)")
        .mkString(" ")
      s"""WITH t AS (SELECT event_type,
         |  CAST(round(value * 100) AS BIGINT) AS c FROM events),
         |p AS (SELECT event_type,
         |  CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |  FROM t WHERE c > 0),
         |g AS (SELECT event_type, digit, count(*) AS n FROM p GROUP BY 1, 2),
         |w AS (SELECT event_type, digit, n,
         |  CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS n_total
         |  FROM g),
         |f AS (SELECT event_type, digit, n, n_total,
         |  CAST(n AS DOUBLE) / n_total AS observed_p,
         |  CASE $cases END AS expected_p FROM w)
         |SELECT event_type, digit, n, n_total, observed_p, expected_p,
         |observed_p - expected_p AS dev FROM f""".stripMargin
    },

    // trailing-window KMV: merged per-day k-min sets re-ranked per report
    // day — the sketch-merge replay with the same hash family
    "q_wau_kmv" -> wauKmvReplaySql,

    // the streaming per-day k-min changelog folds to the identical
    // per-day sets (sink superset + re-fold), so the trailing merge and
    // this replay agree verbatim
    "q_stream_wau_kmv" -> wauKmvReplaySql,

    // Trailing-HLL WAU replay: register merge over a window equals the
    // register build over the window's unioned rows, so the replay
    // day-explodes once and builds per-window registers directly.
    "q_wau_hll" -> {
      val h = Hashing.mixSql(
        Hashing.polyHashSql("CAST(user_id AS VARCHAR)"), 29)
      val bl = (24 to 1 by -1)
        .map(k => s"WHEN wv >= ${1L << (k - 1)} THEN $k").mkString(" ")
      val r2 = 1L << 25
      s"""WITH b AS (SELECT epoch_us(ts) // 86400000000 AS b,
         |  ($h) AS hh FROM events),
         |sp AS (SELECT max(b) AS hi FROM b),
         |w AS (SELECT DISTINCT b.b + r AS win, hh
         |  FROM b, range(7) t(r), sp WHERE b.b + r <= sp.hi),
         |cells AS (SELECT win, hh % 64 AS bucket, hh // 64 AS wv FROM w),
         |reg AS (SELECT win, bucket,
         |  max(25 - (CASE $bl ELSE 0 END)) AS register
         |  FROM cells GROUP BY win, bucket),
         |g AS (SELECT win, count(*) AS n_set,
         |  CAST(sum((CAST(1 AS BIGINT) << (25 - register))) AS BIGINT) AS s_set
         |  FROM reg GROUP BY win)
         |SELECT win, 64 - n_set AS n_zero,
         |  s_set + (64 - n_set) * $r2 AS s_int,
         |  (709.0 * ${64.0 * 64.0 * r2}) /
         |    (1000.0 * CAST(s_set + (64 - n_set) * $r2 AS DOUBLE)) AS hll_est
         |FROM g""".stripMargin
    },

    // SCD2 replay: lag IS DISTINCT FROM collapses no-op re-emits (the
    // null-safe struct compare), lead derives [valid_from, valid_to).
    // Streaming SCD2 changelog replay: the batch version rows (the same
    // collapsed change set) without the derivable valid_to.
    "q_stream_scd2" ->
      """WITH c AS (SELECT user_id, ts, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM c
        |WHERE prev IS DISTINCT FROM event_type""".stripMargin,

    "q_scd2" ->
      """WITH c AS (SELECT user_id, ts, event_type, event_id,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev
        |  FROM events),
        |ch AS (SELECT user_id, ts, event_type, event_id FROM c
        |  WHERE prev IS DISTINCT FROM event_type),
        |v AS (SELECT user_id, event_type, epoch_us(ts) AS valid_from_us,
        |  epoch_us(lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id)) AS valid_to_us
        |  FROM ch)
        |SELECT user_id, event_type, valid_from_us, valid_to_us,
        |  valid_to_us IS NULL AS is_current FROM v""".stripMargin,

    // Point-in-time lookup replay: same dim build on the event_id%3
    // third, left-joined on id + validity range.
    "q_scd2_lookup" ->
      """WITH c AS (SELECT user_id, ts, event_type, event_id,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev
        |  FROM events WHERE event_id % 3 = 0),
        |ch AS (SELECT user_id, ts, event_type, event_id FROM c
        |  WHERE prev IS DISTINCT FROM event_type),
        |v AS (SELECT user_id, event_type, epoch_us(ts) AS valid_from_us,
        |  epoch_us(lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id)) AS valid_to_us
        |  FROM ch)
        |SELECT f.user_id, epoch_us(f.ts) AS ts_us, f.event_id,
        |  v.event_type AS dim_event_type, v.valid_from_us AS v_from_us
        |FROM events f LEFT JOIN v ON f.user_id = v.user_id
        |  AND epoch_us(f.ts) >= v.valid_from_us
        |  AND (v.valid_to_us IS NULL OR epoch_us(f.ts) < v.valid_to_us)"""
        .stripMargin,

    // Cross-sectional z replay: exact BIGINT hour-bucket moments, every
    // product after a double cast, one sqrt + one division.
    "q_cross_z" ->
      """WITH b AS (SELECT event_id, user_id,
        |  epoch_us(ts) // 3600000000 AS bucket,
        |  CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents FROM events),
        |m AS (SELECT *, count(*) OVER (PARTITION BY bucket) AS cs_n,
        |  CAST(sum(cents) OVER (PARTITION BY bucket) AS BIGINT) AS s1,
        |  CAST(sum(cents * cents) OVER (PARTITION BY bucket) AS BIGINT) AS s2
        |  FROM b)
        |SELECT event_id, user_id, bucket, cents, cs_n,
        |  CASE WHEN sqrt(CAST(cs_n AS DOUBLE) * CAST(s2 AS DOUBLE) -
        |      CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) > 0.0
        |    THEN (CAST(cs_n AS DOUBLE) * CAST(cents AS DOUBLE) -
        |        CAST(s1 AS DOUBLE)) /
        |      sqrt(CAST(cs_n AS DOUBLE) * CAST(s2 AS DOUBLE) -
        |        CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |  END AS cs_z FROM m""".stripMargin,

    // exact trailing-window p90: selection at rank ceil(0.9·n) from the
    // sorted 20-row frame list
    "q_rolling_p90" ->
      """WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  CAST(value AS DOUBLE) AS x FROM events),
        |f AS (SELECT user_id, ts_us, event_id, x,
        |  list_sort(list(x) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) AS fr FROM t)
        |SELECT user_id, ts_us, event_id, x AS value,
        |  fr[CAST(greatest(1, ceil(0.9 * len(fr))) AS INTEGER)]
        |    AS rolling_p90_value
        |FROM f""".stripMargin,

    // per-session rollup over the q_sessionize assignment: exact integer
    // spans/counts/cents
    "q_session_stats" ->
      """WITH l AS (SELECT user_id, epoch_us(ts) AS ts_us, ts, event_type,
        |  value,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |a AS (SELECT user_id, ts_us, event_type, value,
        |  CAST(sum(CASE WHEN prev IS NULL OR ts_us - prev > 1800000000
        |    THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
        |    AS BIGINT) AS session_id
        |  FROM l)
        |SELECT user_id, session_id, min(ts_us) AS start_us,
        |  max(ts_us) AS end_us, count(*) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  (max(ts_us) - min(ts_us)) // 1000000 AS duration_s
        |FROM a GROUP BY 1, 2""".stripMargin,

    // inter-arrival stats: second-quantized exact BIGINT moment sums,
    // fixed IEEE mean/sd/cv assembly (sqrt is correctly rounded)
    "q_interarrival" ->
      """WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS tu,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |g AS (SELECT user_id,
        |  (tu - lag(tu) OVER (PARTITION BY user_id ORDER BY rn)) // 1000000 AS gp
        |  FROM t),
        |a AS (SELECT user_id, count(gp) AS n_gaps,
        |  CAST(sum(gp) AS BIGINT) AS s1,
        |  CAST(sum(gp * gp) AS BIGINT) AS s2 FROM g GROUP BY 1)
        |SELECT user_id, n_gaps,
        |  CASE WHEN n_gaps > 0 THEN CAST(s1 AS DOUBLE) / n_gaps END
        |    AS mean_gap_s,
        |  CASE WHEN n_gaps > 1 AND CAST(s1 AS DOUBLE) / n_gaps <> 0 THEN
        |    sqrt(CAST(n_gaps * s2 - s1 * s1 AS DOUBLE)
        |      / (n_gaps * (n_gaps - 1))) / (CAST(s1 AS DOUBLE) / n_gaps) END
        |    AS cv_gap
        |FROM a""".stripMargin,

    // Markov transition replay: per-user lead in (ts, event_id) order,
    // exact counts, one terminal division for p. q_stream_transitions
    // shares it verbatim: the per-batch step deltas (boundary step owned
    // by the arriving batch) are additive and fold to identical counts.
    "q_stream_transitions" -> transitionsSql,
    "q_transitions" -> transitionsSql,
    "q_jaro" -> jaroSql,
    "q_lcs" -> lcsSql,

    "q_stream_kaplan_meier" -> kaplanMeierSql,
    "q_kaplan_meier" -> kaplanMeierSql,

    // PMI replay: zipped unnest of the two token slices makes the bigram
    // table; the ln-sum form and floor(x*1e6 + 0.5) micro-units match the
    // Spark expression exactly (the BM25 discipline).
    // Zipf replay: same counts and rank, ln values milli-quantized per
    // type BEFORE the moment sums, the identical fixed-order slope.
    "q_zipf" -> zipfSql,
    // q_stream_zipf shares it verbatim: token count deltas are additive
    // and fold to the identical type table.
    "q_stream_zipf" -> zipfSql,

    // Nucleus replay: same counts, rank by (count desc, token), cross-
    // multiplied coverage test, k = uncovered prefixes + 1.
    "q_nucleus" -> nucleusSql,
    // q_stream_nucleus shares it verbatim: same additive count fold.
    "q_stream_nucleus" -> nucleusSql,

    "q_pmi" -> pmiSql,
    // q_stream_pmi shares it verbatim: bigram count deltas are additive
    // and fold to the identical grid; marginals are sums of the grid.
    "q_stream_pmi" -> pmiSql,

    // Word-bigram LM replay: same bigram explode, add-one contributions
    // quantized per bigram BEFORE the per-doc integer sum, one division.
    "q_lm_bigram" ->
      s"""WITH d AS (SELECT doc_id, $norm AS nrm FROM documents),
         |t AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM d),
         |tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
         |bgr AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
         |  unnest(toks[2:len(toks)]) AS w2 FROM tt),
         |bg AS (SELECT doc_id, w1, w2 FROM bgr WHERE w1 <> '' AND w2 <> ''),
         |bm AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
         |um AS (SELECT w1, count(*) AS cw FROM bg GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS vv FROM
         |  (SELECT unnest(toks) AS w FROM t) u WHERE w <> ''),
         |sc AS (SELECT bg.doc_id,
         |  CAST(floor((ln(CAST(COALESCE(bm.c, 0) AS DOUBLE) + 1.0)
         |    - ln(CAST(COALESCE(um.cw, 0) + v.vv AS DOUBLE)))
         |    * 1000000.0 + 0.5) AS BIGINT) AS mu
         |  FROM bg LEFT JOIN bm USING (w1, w2) LEFT JOIN um USING (w1)
         |    CROSS JOIN v),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(mu) AS BIGINT) AS sum_mu FROM sc GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(agg.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(agg.sum_mu, 0) AS sum_mu,
         |  CASE WHEN agg.n_bigrams > 0 THEN
         |    CAST(agg.sum_mu AS DOUBLE) /
         |      (CAST(agg.n_bigrams AS DOUBLE) * 1000000.0) END AS avg_logp
         |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin,

    // Interpolated Kneser-Ney replay: same bigram CTEs as q_lm_bigram; the
    // marginals (cw, N1+(w1 .)) and continuation counts (N1+(. w2),
    // N1+(. .)) are aggregates over the MODEL table bm, and the per-bigram
    // probability is the identical fixed-order double composition before
    // the micro-quantized ln (operator-for-operator the Spark expression).
    "q_stream_lm_kn" -> lmKnSql,
    "q_lm_kn" -> lmKnSql,
    "q_lm_kn3" -> lmKn3Sql,
    "q_lm_mkn" -> lmMknSql,
    "q_lm_mkn3" -> lmMkn3Sql,
    // the materialized bench face: same rows, same replay — the boundary
    // only changes WHERE the scoring cost is paid
    "q_lm_mkn3_mat" -> lmMkn3Sql,
    "q_lm_kn3_mat" -> lmKn3Sql,
    "q_stream_lm_kn3" -> lmKn3Sql,

    // CCNet head/middle/tail: ntile(3) over (score desc, doc_id) on the
    // shared KN replay — standard-SQL ntile (earlier buckets take the
    // remainder) over a total order both engines sort identically.
    "q_ppl_buckets" ->
      s"""WITH kn AS ($lmKnSql)
         |SELECT doc_id, n_bigrams,
         |  CAST(ntile(3) OVER (ORDER BY avg_logp DESC NULLS LAST, doc_id)
         |    AS BIGINT) AS ppl_bucket
         |FROM kn""".stripMargin,

    // Threshold-cut terciles (the scale face): u = (2^45-1) - ceil-div of
    // -sum_mu*1e6 by n (all non-negative, HUGEINT exact, // = floor = trunc
    // on positives — the engine's DECIMAL(38,0) div twin), clamped at 0;
    // t_i = min of the top-r_i u multiset (r_i = ntile remainder rule over
    // the scored count); ties share the upper bucket; unscorable docs and
    // the nn=0 edge (LIMIT 0 -> NULL threshold -> CASE falls through) are
    // bucket 3.
    "q_ppl_buckets_scaled" ->
      s"""WITH kn AS ($lmKnSql),
         |u0 AS (SELECT doc_id, n_bigrams, CASE WHEN n_bigrams > 0 THEN
         |    greatest(0, 35184372088831 - ((CAST(-sum_mu AS HUGEINT)
         |      * 1000000 + n_bigrams - 1) // n_bigrams)) END AS u
         |  FROM kn),
         |rk AS (SELECT (c // 3) + CASE WHEN c % 3 >= 1 THEN 1 ELSE 0 END AS r1,
         |    (c // 3) * 2 + CASE WHEN c % 3 >= 1 THEN 1 ELSE 0 END
         |      + CASE WHEN c % 3 >= 2 THEN 1 ELSE 0 END AS r2
         |  FROM (SELECT count(*) AS c FROM u0 WHERE u IS NOT NULL)),
         |t1 AS (SELECT min(u) AS t FROM (SELECT u FROM u0
         |  WHERE u IS NOT NULL ORDER BY u DESC LIMIT (SELECT r1 FROM rk))),
         |t2 AS (SELECT min(u) AS t FROM (SELECT u FROM u0
         |  WHERE u IS NOT NULL ORDER BY u DESC LIMIT (SELECT r2 FROM rk)))
         |SELECT doc_id, n_bigrams,
         |  CAST(CASE WHEN u IS NULL THEN 3
         |       WHEN u >= (SELECT t FROM t1) THEN 1
         |       WHEN u >= (SELECT t FROM t2) THEN 2
         |       ELSE 3 END AS BIGINT) AS ppl_bucket
         |FROM u0""".stripMargin,

    // The production composition: the identical threshold-cut replay over
    // the modified-KN TRIGRAM scores (lmMkn3Sql) instead of the bigram KN
    // face — n_trigrams is the scored-unit count.
    "q_ppl_buckets_mkn" ->
      s"""WITH kn AS ($lmMkn3Sql),
         |u0 AS (SELECT doc_id, n_trigrams, CASE WHEN n_trigrams > 0 THEN
         |    greatest(0, 35184372088831 - ((CAST(-sum_mu AS HUGEINT)
         |      * 1000000 + n_trigrams - 1) // n_trigrams)) END AS u
         |  FROM kn),
         |rk AS (SELECT (c // 3) + CASE WHEN c % 3 >= 1 THEN 1 ELSE 0 END AS r1,
         |    (c // 3) * 2 + CASE WHEN c % 3 >= 1 THEN 1 ELSE 0 END
         |      + CASE WHEN c % 3 >= 2 THEN 1 ELSE 0 END AS r2
         |  FROM (SELECT count(*) AS c FROM u0 WHERE u IS NOT NULL)),
         |t1 AS (SELECT min(u) AS t FROM (SELECT u FROM u0
         |  WHERE u IS NOT NULL ORDER BY u DESC LIMIT (SELECT r1 FROM rk))),
         |t2 AS (SELECT min(u) AS t FROM (SELECT u FROM u0
         |  WHERE u IS NOT NULL ORDER BY u DESC LIMIT (SELECT r2 FROM rk)))
         |SELECT doc_id, n_trigrams,
         |  CAST(CASE WHEN u IS NULL THEN 3
         |       WHEN u >= (SELECT t FROM t1) THEN 1
         |       WHEN u >= (SELECT t FROM t2) THEN 2
         |       ELSE 3 END AS BIGINT) AS ppl_bucket
         |FROM u0""".stripMargin,

    // Welch replay: the q_drift cohorts, exact BIGINT (n, sum, sumsq) per
    // side, then the identical fixed-order t / Welch-Satterthwaite df.
    "q_welch" -> welchSql,
    // q_stream_welch shares it verbatim: the (n, sum, sumsq) deltas are
    // additive and fold to the identical per-cohort moments.
    "q_stream_welch" -> welchSql,

    // Grouped OLS replay: exact BIGINT moment sums, the identical
    // fixed-order Cramer determinants in double space, null on singular.
    "q_group_ols" -> groupOlsSql,
    // Split-conformal replay: the 60/20/20 chronological split, the
    // scaled-integer residuals |y·n_train − sum_train| (train mean kept
    // rational), the k = ⌈(n_cal+1)·900/1000⌉-th smallest calibration
    // residual (k > n_cal ⇒ infinite interval ⇒ all covered, null q),
    // one terminal coverage division.
    "q_conformal" -> conformalSql,
    // the streaming gate shares the batch replay verbatim: frozen model
    // + test keys batch-side, stateless per-arrival verdicts
    "q_stream_conformal" -> conformalSql,

    // Theil–Sen replay: one division per ordered pair, exact selection of
    // the ⌈m/2⌉-th smallest under the (slope, tie_i, tie_j) total order
    "q_theil_sen" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS x,
        |  round(value * 100) AS y, event_id
        |  FROM events WHERE user_id < 40 AND value IS NOT NULL),
        |p AS (SELECT a.user_id AS user_id,
        |  (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS s,
        |  a.event_id AS ia, b.event_id AS ib
        |  FROM e a JOIN e b ON a.user_id = b.user_id AND a.x < b.x),
        |r AS (SELECT user_id, s, row_number() OVER (PARTITION BY user_id
        |    ORDER BY s, ia, ib) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS m FROM p)
        |SELECT user_id, CAST(m AS BIGINT) AS n_pairs, s AS slope
        |FROM r WHERE rn = (m + 1) // 2""".stripMargin,

    // Mann–Kendall replay: distinct-x dedup (lowest event_id), exact S and
    // tie-corrected variance numerator, continuity-corrected z
    "q_mann_kendall" ->
      """WITH e0 AS (SELECT user_id, epoch_us(ts) AS x,
        |  round(value * 100) AS y, event_id
        |  FROM events WHERE user_id < 40 AND value IS NOT NULL),
        |e AS (SELECT user_id, x, y FROM (SELECT *, row_number()
        |  OVER (PARTITION BY user_id, x ORDER BY event_id) AS rn FROM e0)
        |  WHERE rn = 1),
        |s AS (SELECT a.user_id AS user_id,
        |  CAST(sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
        |    ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM e a JOIN e b ON a.user_id = b.user_id AND a.x < b.x
        |  GROUP BY 1),
        |nn AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM e
        |  GROUP BY 1),
        |tt AS (SELECT user_id,
        |  CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tc
        |  FROM (SELECT user_id, y, count(*) AS t FROM e GROUP BY 1, 2)
        |  GROUP BY 1),
        |j AS (SELECT user_id, n, s_stat,
        |  n * (n - 1) * (2 * n + 5) - tc AS var_num
        |  FROM nn JOIN s USING (user_id) JOIN tt USING (user_id))
        |SELECT user_id, n, s_stat, CAST(var_num AS BIGINT) AS var_num,
        |  CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |      / sqrt(CAST(var_num AS DOUBLE) / 18.0)
        |    WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |      / sqrt(CAST(var_num AS DOUBLE) / 18.0)
        |    ELSE 0.0 END AS z
        |FROM j""".stripMargin,
    // q_stream_group_ols shares it verbatim: the nine moment deltas are
    // additive and fold to the identical integers.
    "q_stream_group_ols" -> groupOlsSql,

    // Keyword replay: the postings tf table rebuilt from the same
    // normalize+tokenize, the tfidfSql weighting micro-quantized, per-doc
    // rank with term ties.
    "q_keywords" -> keywordsSql,
    // q_stream_keywords shares it verbatim: (doc, term) tf deltas are
    // additive; df and N derive from the folded grid.
    "q_stream_keywords" -> keywordsSql,

    // streaming centroid maintenance: statsDeltas per (label, dim) folds
    // to the exact batch sums — shares the batch centroid replay verbatim
    "q_stream_centroids" ->
      s"""WITH v AS (SELECT vec_id, label, $qv AS q FROM embeddings),
         |e AS (SELECT label, unnest(q) AS x,
         |  generate_subscripts(q, 1) - 1 AS dim FROM v),
         |a AS (SELECT label, CAST(dim AS BIGINT) AS dim,
         |  CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
         |  FROM e GROUP BY 1, 2)
         |SELECT label, dim, n, s,
         |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean FROM a""".stripMargin,

    // Gini replay: exact per-customer revenue cents, 1-based rank by
    // (value, custkey), exact rank-moment sums, two fixed divisions.
    "q_gini" ->
      """WITH pc AS (SELECT c_nationkey, c_custkey,
        |  CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |r AS (SELECT c_nationkey, rev,
        |  CAST(row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY rev, c_custkey) AS BIGINT) AS i FROM pc),
        |a AS (SELECT c_nationkey, count(*) AS n,
        |  CAST(sum(rev) AS BIGINT) AS sum_y,
        |  CAST(sum(i * rev) AS BIGINT) AS sum_iy FROM r GROUP BY 1)
        |SELECT c_nationkey, n, sum_y, sum_iy,
        |  CASE WHEN sum_y > 0 THEN
        |    2.0 * CAST(sum_iy AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(sum_y AS DOUBLE))
        |      - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) END AS gini
        |FROM a""".stripMargin,

    // FD-probe replay: exact per-key row and distinct-y counts.
    "q_fd" ->
      """SELECT o_custkey, count(*) AS n_rows,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct_y,
        |  count(DISTINCT o_orderpriority) > 1 AS is_violation
        |FROM orders WHERE o_custkey IS NOT NULL
        |GROUP BY o_custkey""".stripMargin,

    // Categorical MI replay: exact-count grid, marginals FROM the grid,
    // micro-quantized cell PMIs, exact integer numerator, one division.
    "q_mi" ->
      """WITH g AS (SELECT event_type AS x, CAST(hour(ts) AS BIGINT) AS y,
        |  count(*) AS nxy FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM g GROUP BY 1),
        |my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM g GROUP BY 1),
        |n AS (SELECT CAST(sum(nxy) AS BIGINT) AS nn FROM g),
        |c AS (SELECT g.nxy, n.nn,
        |  g.nxy * CAST(floor((ln(CAST(g.nxy AS DOUBLE)) + ln(CAST(n.nn AS DOUBLE))
        |    - ln(CAST(mx.nx AS DOUBLE)) - ln(CAST(my.ny AS DOUBLE)))
        |    * 1000000.0 + 0.5) AS BIGINT) AS contrib
        |  FROM g JOIN mx USING (x) JOIN my USING (y) CROSS JOIN n)
        |SELECT CAST(count(*) AS BIGINT) AS n_cells, max(nn) AS n,
        |  CAST(sum(contrib) AS BIGINT) AS mi_num,
        |  CAST(sum(contrib) AS DOUBLE) / (CAST(max(nn) AS DOUBLE) * 1000000.0)
        |    AS mi_nats
        |FROM c""".stripMargin,

    "q_ewm_var" -> ewmVarSql,
    "q_stream_ewm_var" -> ewmVarSql,

    // Hampel despike: frame median and MAD are exact selections from the
    // sorted ±3 frame list; k·MAD comparison is fixed IEEE arithmetic
    "q_hampel" ->
      """WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  CAST(value AS DOUBLE) AS x FROM events),
        |f AS (SELECT user_id, ts_us, event_id, x,
        |  list_sort(list(x) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS fr FROM t),
        |m AS (SELECT *, fr[CAST(ceil(len(fr) / 2.0) AS INTEGER)] AS med
        |  FROM f),
        |d AS (SELECT *, list_sort(list_transform(fr,
        |  e -> abs(e - med)))[CAST(ceil(len(fr) / 2.0) AS INTEGER)] AS mad
        |  FROM m)
        |SELECT user_id, ts_us, event_id, x AS value,
        |  (mad > 0 AND abs(x - med) > 3.0 * mad) AS value_spike,
        |  CASE WHEN mad > 0 AND abs(x - med) > 3.0 * mad THEN med ELSE x END
        |    AS value_hampel
        |FROM d""".stripMargin,

    // streaming drawdown twin: running max per user over unique-per-user
    // event timestamps — same math as q_drawdown, no tie column needed
    "q_stream_drawdown" ->
      """WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |  CAST(value AS DOUBLE) AS x,
        |  max(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id
        |    ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |FROM events)
        |SELECT user_id, ts_us, x AS value, peak AS peak_value,
        |  peak - x AS drawdown_value FROM t""".stripMargin,
  )
}

package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.tsdf.Stats
import graft.pipeline.{Dedup, Hashing, Pii, Profile, TextAnalysis}

import Inputs._
import SqlFragments._

/** Analytics: sketches (KMV, HLL, CMS, Bloom), profiles and
  * quantiles, correlations and tests, privacy checks, event analytics
  * (funnels, retention, WAU, SCD2, sessions, PageRank) and survival /
  * regression, with their stream twins. */
private[graft] object AnalyticsQueries extends QueryFamily {

  /** Streaming HLL distinct-user sketch per event type: the register
    * CHANGELOG from the stateful builder
    * ([[graft.streaming.StreamingTSDF.hllRegisters]]) max-rolled into the
    * register file, then estimated with the batch reader — the oracle
    * replays the equivalent batch build (stream == batch by construction;
    * the cells come from the same expressions). */
  // Streaming HLL replay: the stream's max-rolled register changelog
  // equals the batch register build over the same rows, so the replay is
  // the q_hll_distinct arithmetic over (event_type, user_id).
  spec("q_stream_hll", {
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
    }) { (s0, dir) =>
    val s = streamSession(s0)
    val regsStream = graft.streaming.StreamingTSDF.hllRegisters(
      eventsStream(s, dir).select(col("event_type"), col("ts"), col("user_id")),
      "ts", Seq("event_type"), col("user_id").cast(StringType))
    val rolled = runStream(s, regsStream)
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("register")).alias("register"))
    graft.pipeline.Sketch.hllEstimate(rolled, Seq("event_type"))
      .select(col("event_type"), col("n_zero"), col("s_int"), col("hll_est"))
  }

  /** 256 width-2 bins over [0, 512) per event_type, p50/90/99 as first
    * cumulative-rank bin upper edges — shared by q_hist_quantile and
    * q_stream_hist (both reconstruct the identical histogram). */
  private lazy val histQuantileSql =
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

  /** Streaming histogram sketch: per-batch bin-count DELTAS
    * ([[graft.streaming.StreamingTSDF.histogramDeltas]]) sum-rolled into
    * the exact batch histogram, quantiles read with the batch reader —
    * same final answer as q_hist_quantile (identical data, identical
    * bins), so it shares that oracle. */
  spec("q_stream_hist", histQuantileSql) { (s0, dir) =>
    val s = streamSession(s0)
    val deltas = graft.streaming.StreamingTSDF.histogramDeltas(
      eventsStream(s, dir).select(col("event_type"), col("ts"), col("value")),
      "ts", Seq("event_type"), col("value"), 0.0, 512.0, 256)
    val rolled = runStream(s, deltas)
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(col("cnt")).alias("cnt"))
    graft.pipeline.Sketch.histQuantiles(rolled, Seq("event_type"),
      0.0, 512.0, 256, Seq(0.5, 0.9, 0.99))
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

  /** KMV distinct-token estimate per source (k = 256 minimum hash values;
    * groups under k report exact counts). */
  // KMV distinct-token sketch per source: k=256 min distinct hashes;
  // (k-1)*P / kth as one double division, exact count under k
  spec("q_kmv_distinct", kmvReplaySql) { (s, dir) =>
    val toks = docs(s, dir).select(col("source"),
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("tok"))
    graft.pipeline.Sketch.kmvDistinct(toks, Seq("source"), col("tok"), k = 256)
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

  /** The WIDE-family twin of q_kmv_distinct: same corpus, same k, the
    * [[graft.pipeline.Hashing.PW]] ≈ 10¹⁸ CRT-pair hash space — the
    * production path for groups whose distinct counts can approach the
    * 30-bit family's ~10⁹ ceiling. Still exact 64-bit integer arithmetic,
    * still DuckDB-replayed value-exactly. */
  spec("q_kmv_wide", kmvWideReplaySql) { (s, dir) =>
    val toks = docs(s, dir).select(col("source"),
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("tok"))
    graft.pipeline.Sketch.kmvDistinct(toks, Seq("source"), col("tok"),
      k = 256, wide = true)
  }

  /** Cross-source vocabulary overlap from KMV k-min sets
    * ([[graft.pipeline.Sketch.kmvJaccardPairs]]): per source pair,
    * Jaccard/union/intersection estimates from ONE bounded aggregate —
    * no pairwise token join anywhere. */
  // KMV set-operation replay (Beyer et al. estimator): per-source k-min
  // lists, union k-min by sort+slice, intersection by membership in
  // both sides' lists — every number a pure function of the value sets,
  // the same single-division double arithmetic as the Spark side.
  spec("q_kmv_jaccard", {
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
    }) { (s, dir) =>
    val toks = docs(s, dir).select(col("source"),
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("tok"))
    graft.pipeline.Sketch.kmvJaccardPairs(toks, col("source"), col("tok"),
      k = 256)
  }

  /** HyperLogLog distinct-token estimate per source (m = 64 registers over
    * the 30-bit engine-agnostic hash; register file and estimate replay in
    * integer arithmetic — [[graft.pipeline.Sketch.hllRegisters]]). The
    * sketch is built separately on the two doc_id-parity halves of the
    * corpus and MERGED (max per register cell) — the 100 TB shard-merge
    * path exercised inside the oracle gate: merge(A, B) == build(A ∪ B)
    * exactly, so the oracle replays one combined build. */
  // HyperLogLog replay: 64 registers over the 30-bit polynomial hash,
  // rho via an unrolled bit-length CASE chain, harmonic sum in integer
  // space (s_int), estimate = one division of two exact doubles. The
  // Spark side builds two parity-shard sketches and max-merges them;
  // merge == combined build exactly, so the replay builds once.
  spec("q_hll_distinct", {
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
    }) { (s, dir) =>
    val toks = docs(s, dir).select(col("doc_id"), col("source"),
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("tok"))
    val ra = graft.pipeline.Sketch.hllRegisters(
      toks.filter(col("doc_id") % 2 === 0), Seq("source"), col("tok"))
    val rb = graft.pipeline.Sketch.hllRegisters(
      toks.filter(col("doc_id") % 2 =!= 0), Seq("source"), col("tok"))
    val merged = graft.pipeline.Sketch.hllMerge(ra, rb, Seq("source"))
    graft.pipeline.Sketch.hllEstimate(merged, Seq("source"))
      .select(col("source"), col("n_zero"), col("s_int"), col("hll_est"))
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

  /** The WIDE-family twin of q_hll_distinct: same corpus, same shard
    * merge, cells addressed through the ~10¹⁸ CRT-pair space (60-bit HLL
    * words, rho out of 55) — the register file that keeps resolving past
    * the narrow family's ~10⁹ ceiling. Integer-space harmonic sum stays
    * ≤ m·2^55 < 2^62: still exact, still replayed value-exactly. */
  // Wide-family HLL replay: the q_hll_distinct arithmetic through the
  // ~60-bit CRT-pair space — rho out of 55 (wBits = 60 - 6), harmonic
  // sum still an exact BIGINT (<= 64 * 2^55), the estimate the same
  // single IEEE division of exactly-representable doubles. Shard split
  // is irrelevant to the replay (register merge == union build), so
  // the streaming twin shares this SQL verbatim.
  spec("q_hll_wide", hllWideReplaySql) { (s, dir) =>
    val toks = docs(s, dir).select(col("doc_id"), col("source"),
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("tok"))
    val ra = graft.pipeline.Sketch.hllRegisters(
      toks.filter(col("doc_id") % 2 === 0), Seq("source"), col("tok"),
      wide = true)
    val rb = graft.pipeline.Sketch.hllRegisters(
      toks.filter(col("doc_id") % 2 =!= 0), Seq("source"), col("tok"),
      wide = true)
    val merged = graft.pipeline.Sketch.hllMerge(ra, rb, Seq("source"))
    graft.pipeline.Sketch.hllEstimate(merged, Seq("source"), wide = true)
      .select(col("source"), col("n_zero"), col("s_int"), col("hll_est"))
  }

  /** The wide STREAMING HLL: q_hll_wide's register file built through the
    * changelog stream ([[graft.streaming.StreamingTSDF.hllRegisters]]
    * with `wide = true`) and max-rolled — shares q_hll_wide's oracle...
    * except the corpus here is one unsharded stream, so it shares the
    * SAME estimates as the batch wide build over the full corpus (shard
    * merge == union build, exactly). */
  spec("q_stream_hll_wide", hllWideReplaySql) { (s0, dir) =>
    val s = streamSession(s0)
    val regsStream = graft.streaming.StreamingTSDF.hllRegisters(
      docsStream(s, dir).select(col("source"),
        // documents carry no event time; a constant stands in (ts is
        // only read by the state-TTL path, which is off here)
        lit("2024-01-01 00:00:00").cast(TimestampType).alias("ingest_ts"),
        explode(split(Dedup.normalizeText(col("text")), " ")).alias("tok")),
      "ingest_ts", Seq("source"), col("tok"), wide = true)
    val rolled = runStream(s, regsStream)
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("register")).alias("register"))
    graft.pipeline.Sketch.hllEstimate(rolled, Seq("source"), wide = true)
      .select(col("source"), col("n_zero"), col("s_int"), col("hll_est"))
  }

  /** EXACT p50/p90/p99 of event value in two passes (coarse histogram →
    * rank only the target bin; [[graft.pipeline.Sketch
    * .exactQuantiles2Pass]]) — the no-global-sort exact-percentile path;
    * the oracle ranks globally and must agree value-exactly. */
  // Two-pass exact-quantile replay: the oracle ranks ALL cents values
  // globally — the bin-decomposed two-pass selection must return the
  // identical cents at rank ceil(q·n) (cents order is globally
  // non-decreasing across histogram bins, so the decomposition is a
  // true selection, not an approximation).
  spec("q_exact_quantile", """WITH b AS (SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT)
        |    AS cents FROM events),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
        |  count(*) OVER () AS n FROM b),
        |p AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
        |SELECT p.q, CAST(ceil(p.q * r.n) AS BIGINT) AS rank, r.n AS n,
        |  r.cents, CAST(r.cents AS DOUBLE) / 100.0 AS value
        |FROM p JOIN r ON r.rn = CAST(ceil(p.q * r.n) AS BIGINT)""".stripMargin) { (s, dir) =>
    graft.pipeline.Sketch.exactQuantiles2Pass(
      events(s, dir).select(col("value")), col("value"),
      Seq(0.5, 0.9, 0.99), 0.0, 512.0, 256)
  }

  /** Pairwise Pearson correlation of the lineitem numeric columns from
    * ONE pass of exact fixed-point moments ([[graft.pipeline.Profile
    * .pairwiseCorrelation]]; scales sized so every moment stays below
    * 2^63 at sf1000 — dollar resolution for extendedprice). */
  // Pairwise-correlation replay: identical fixed-point moments (BIGINT
  // sums of scaled longs) and the identical IEEE op sequence for the
  // Pearson formula (mult/sub/sqrt are correctly rounded — bit-equal).
  spec("q_corr", {
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
    }) { (s, dir) =>
    graft.pipeline.Profile.pairwiseCorrelation(tbl(s, dir, "lineitem"),
      Seq("l_quantity" -> 100L, "l_extendedprice" -> 1L,
        "l_discount" -> 10000L, "l_tax" -> 10000L))
  }

  /** Order-independent orders-table fingerprint over its non-float
    * columns ([[graft.pipeline.Profile.tableFingerprint]]) — snapshot
    * equality as three integers. */
  // Table-fingerprint replay: identical canonical row repr (unit-sep
  // concat, chr(1)-marked nulls), same polynomial hash, commutative
  // integer sums — multiset-equal tables fingerprint identically in
  // any engine.
  spec("q_table_fp", {
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
    }) { (s, dir) =>
    graft.pipeline.Profile.tableFingerprint(tbl(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
  }

  /** Key-skew diagnostic: the 20 heaviest l_suppkey values with exact
    * shares ([[graft.pipeline.Profile.keySkew]]) — the pre-join probe
    * that picks plain shuffle vs salting vs AQE skew split. */
  // Key-skew replay: exact per-key counts, deterministic top-20 via the
  // (cnt DESC, key ASC) tie-break, one share division.
  spec("q_key_skew", """WITH c AS (SELECT CAST(l_suppkey AS VARCHAR) AS key, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
        |SELECT key, cnt, total,
        |  CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM c, t ORDER BY cnt DESC, key ASC LIMIT 20""".stripMargin) { (s, dir) =>
    graft.pipeline.Profile.keySkew(tbl(s, dir, "lineitem"),
      col("l_suppkey"), k = 20)
  }

  /** Simpson repeated-token concentration per document — shuffle-free
    * in-row fold ([[graft.pipeline.TextAnalysis.simpsonDiversity]]),
    * replayed relationally by the oracle. */
  // Simpson concentration replay: the in-row run-length fold equals the
  // relational (doc, token) pair count — same integers, one division.
  spec("q_simpson", s"""WITH t AS (SELECT doc_id,
         |  unnest(string_split($norm, ' ')) AS tok FROM documents),
         |c AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY 1, 2),
         |s AS (SELECT doc_id, CAST(sum(n * (n - 1)) AS BIGINT) AS rep_pairs,
         |  CAST(sum(n) AS BIGINT) AS n_tokens FROM c GROUP BY 1)
         |SELECT doc_id, n_tokens, rep_pairs,
         |  CASE WHEN n_tokens >= 2 THEN CAST(rep_pairs AS DOUBLE) /
         |    (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))
         |  END AS simpson_d
         |FROM s""".stripMargin) { (s, dir) =>
    docs(s, dir).select(
      col("doc_id") +: TextAnalysis.simpsonDiversity(col("text")): _*)
  }

  /** Histogram-sketch quantiles of event value per type: 256 exact-count
    * bins over [0, 512) built on the two user_id-parity shards and MERGED
    * (sum per bin — the deterministic 100 TB quantile sketch; see
    * [[graft.pipeline.Sketch.histogram]]), then p50/p90/p99 read as first
    * cumulative-rank bin edges. */
  // Histogram-quantile replay: 256 exact-count bins of width 2 over
  // [0, 512) per event_type (shard merge == combined build, so the
  // replay bins once), quantile = upper edge of the first bin whose
  // cumulative count reaches ceil(q·n). Shared by q_hist_quantile
  // (batch parity-shard merge) and q_stream_hist (per-batch delta
  // changelog sum-rollup) — both reconstruct the same histogram.
  spec("q_hist_quantile", histQuantileSql) { (s, dir) =>
    val e = events(s, dir).select(col("event_type"), col("user_id"), col("value"))
    val ha = graft.pipeline.Sketch.histogram(
      e.filter(col("user_id") % 2 === 0), Seq("event_type"), col("value"),
      0.0, 512.0, 256)
    val hb = graft.pipeline.Sketch.histogram(
      e.filter(col("user_id") % 2 =!= 0), Seq("event_type"), col("value"),
      0.0, 512.0, 256)
    val m = graft.pipeline.Sketch.histMerge(ha, hb, Seq("event_type"))
    graft.pipeline.Sketch.histQuantiles(m, Seq("event_type"),
      0.0, 512.0, 256, Seq(0.5, 0.9, 0.99))
  }

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

  /** Count-Min sketch (width 512 × depth 3) over the corpus tokens, probed
    * with every token whose exact count ≥ 50: the CMS estimate is an upper
    * bound (never under, over only on collisions), and the exact counts
    * sit alongside so the error is visible in the output. */
  // Count-Min sketch replay: the 3×512 grid of exact counters rebuilt
  // with the same polynomial-hash addressing, probes read min over rows.
  // q_stream_cms shares it verbatim: the streaming cell-count deltas
  // sum-roll to the identical grid (counters are additive).
  spec("q_cms_heavy", cmsHeavySql) { (s, dir) =>
    val toks = docs(s, dir).select(
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("tok"))
    val sketch = graft.pipeline.Sketch.cmsBuild(
      toks, col("tok"), width = 512, depth = 3)
    val heavy = toks.groupBy(col("tok"))
      .agg(count(lit(1)).alias("true_cnt"))
      .filter(col("true_cnt") >= 50)
    graft.pipeline.Sketch.cmsEstimate(
      heavy, sketch, col("tok"), width = 512, depth = 3)
      .join(heavy, col("item") === col("tok"))
      .select(col("tok"), col("true_cnt"), col("cms_est"),
        (col("cms_est") - col("true_cnt")).alias("over_err"))
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

  /** Bloom filter (2^15 bits, 3 hashes) over the normalized-text
    * fingerprints of the "historical" docs (doc_id % 3 ≠ 0), probed with
    * every doc: zero false negatives by construction; hits outside the
    * history are hash collisions or genuine duplicate texts. */
  // Bloom replay: positions from the same hash family, 31-bit words so
  // mask arithmetic stays exact in BIGINTs; the word OR is a
  // distinct-sum of power-of-two masks in both engines. q_stream_bloom
  // shares it verbatim: its bit changelog may carry a bit more than once,
  // so the query folds it with bit_or (idempotent), which lands on the
  // identical word masks.
  spec("q_bloom", bloomSql) { (s, dir) =>
    val d = docs(s, dir).select(col("doc_id"),
      Dedup.normalizeText(col("text")).alias("item"))
    val filter = graft.pipeline.Sketch.bloomBuild(
      d.filter(col("doc_id") % 3 =!= 0), col("item"),
      mBits = 1 << 15, depth = 3)
    graft.pipeline.Sketch.bloomProbe(d, filter, col("item"),
      mBits = 1 << 15, depth = 3)
      .select(col("doc_id"), col("bloom_hit"),
        (col("doc_id") % 3 =!= 0).alias("in_history"))
  }

  /** Snapshot diff between two simulated corpus versions: old = doc_id
    * % 4 ≠ 1, new = doc_id % 4 ≠ 2 with every 10th doc's text amended —
    * classifies added / removed / changed / unchanged by normalized-text
    * fingerprint. */
  // snapshot diff: both snapshot fingerprints are md5 of the SAME
  // normalized text both engines compute; one full outer join
  spec("q_snapshot_diff", {
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
    }) { (s, dir) =>
    val d = docs(s, dir)
    val oldSnap = d.filter(col("doc_id") % 4 =!= 1)
    val newSnap = d.filter(col("doc_id") % 4 =!= 2)
      .withColumn("text",
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(" updated")))
          .otherwise(col("text")))
    Dedup.snapshotDiff(oldSnap, newSnap, "text", "doc_id")
  }

  /** Column completeness/cardinality profile of lineitem (exact distinct
    * counts at the correctness scale; the 100 TB path samples or swaps in
    * the KMV estimate). */
  // column profile: exact counts per profiled lineitem column
  spec("q_profile", {
      val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate",
        "l_discount")
      cols.map(c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct
           |  FROM lineitem""".stripMargin).mkString("\nUNION ALL ")
    }) { (s, dir) =>
    graft.pipeline.Profile.describe(tbl(s, dir, "lineitem"),
      Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate",
        "l_discount"))
  }

  /** Theil–Sen robust slope per user ([[graft.pipeline.Regression
    * .theilSen]]): lower median of pairwise cent-per-microsecond slopes
    * over the bounded anchor set (user_id < 40, the q_dtw convention) —
    * the outlier-immune trend next to the OLS/Hampel family. */
  // Theil–Sen replay: one division per ordered pair, exact selection of
  // the ⌈m/2⌉-th smallest under the (slope, tie_i, tie_j) total order
  spec("q_theil_sen", """WITH e AS (SELECT user_id, epoch_us(ts) AS x,
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
        |FROM r WHERE rn = (m + 1) // 2""".stripMargin) { (s, dir) =>
    graft.pipeline.Regression.theilSen(
      events(s, dir).filter(col("user_id") < 40 && col("value").isNotNull),
      Seq("user_id"), unix_micros(col("ts")), cents(col("value")),
      col("event_id"))
  }

  /** Mann–Kendall monotone-trend test per user — Theil–Sen's classical
    * companion over the same bounded anchor set; exact integer S and
    * variance numerator, continuity-corrected z. */
  // Mann–Kendall replay: distinct-x dedup (lowest event_id), exact S and
  // tie-corrected variance numerator, continuity-corrected z
  spec("q_mann_kendall", """WITH e0 AS (SELECT user_id, epoch_us(ts) AS x,
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
        |FROM j""".stripMargin) { (s, dir) =>
    graft.pipeline.Regression.mannKendall(
      events(s, dir).filter(col("user_id") < 40 && col("value").isNotNull),
      Seq("user_id"), unix_micros(col("ts")), cents(col("value")),
      col("event_id"))
  }

  spec("q_t_closeness", """WITH b AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
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
        |FROM fi""".stripMargin) { (s, dir) =>
    graft.pipeline.Pii.tCloseness(
      events(s, dir).select(col("event_type"),
        hour(col("ts")).cast(LongType).alias("hr"),
        floor(col("value") / 64).cast(LongType).alias("vbin")),
      Seq("event_type", "hr"), "vbin", t = 0.15)
      .select(col("event_type"), col("hr"), col("group_n"),
        col("emd_num"), col("emd"), col("t_close_ok"))
  }

  // k-anonymity gate: exact quasi-identifier combination counts
  spec("q_k_anon", """WITH t AS (SELECT event_id, event_type,
        |  CAST(hour(ts) AS BIGINT) AS hr FROM events)
        |SELECT event_id, event_type, hr,
        |  count(*) OVER (PARTITION BY event_type, hr) AS group_n,
        |  (count(*) OVER (PARTITION BY event_type, hr) >= 60) AS k_anon_ok
        |FROM t""".stripMargin) { (s, dir) =>
    graft.pipeline.Pii.kAnonymize(
      events(s, dir).select(col("event_id"), col("event_type"),
        hour(col("ts")).cast(LongType).alias("hr")),
      Seq("event_type", "hr"), k = 60)
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

  /** Trailing-7-day distinct-user ESTIMATE per day from merged per-day
    * KMV sets (k = 64) — the sketch-merge scale path next to q_wau's
    * exact day-explode twin. */
  // trailing-window KMV: merged per-day k-min sets re-ranked per report
  // day — the sketch-merge replay with the same hash family
  spec("q_wau_kmv", wauKmvReplaySql) { (s, dir) =>
    graft.pipeline.Sketch.kmvDistinctTrailing(
      events(s, dir).select(col("ts"), col("user_id")),
      expr("unix_micros(ts) div 86400000000"),
      col("user_id").cast(StringType), k = 64, windowBuckets = 7)
  }

  /** Trailing-7-day WAU via merged HLL register files
    * ([[graft.pipeline.Sketch.hllDistinctTrailing]]) — the register-merge
    * sibling of q_wau_kmv over the same day buckets. */
  // Trailing-HLL WAU replay: register merge over a window equals the
  // register build over the window's unioned rows, so the replay
  // day-explodes once and builds per-window registers directly.
  spec("q_wau_hll", {
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
    }) { (s, dir) =>
    graft.pipeline.Sketch.hllDistinctTrailing(
      events(s, dir).select(col("ts"), col("user_id")),
      expr("unix_micros(ts) div 86400000000"),
      col("user_id").cast(StringType), windowBuckets = 7)
      .select(col("win"), col("n_zero"), col("s_int"), col("hll_est"))
  }

  /** SCD2 dimension build from the event log: per user, event_type
    * versions with [valid_from, valid_to) validity, no-op re-emits
    * collapsed ([[graft.pipeline.Cdc.scd2FromLog]]). */
  spec("q_scd2", """WITH c AS (SELECT user_id, ts, event_type, event_id,
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
        |  valid_to_us IS NULL AS is_current FROM v""".stripMargin) { (s, dir) =>
    graft.pipeline.Cdc.scd2FromLog(
      events(s, dir).select(col("user_id"), col("ts"), col("event_type"),
        col("event_id")),
      "user_id", "ts", Seq("event_type"), tieCols = Seq("event_id"))
      .select(col("user_id"), col("event_type"),
        usec(col("valid_from")).alias("valid_from_us"),
        usec(col("valid_to")).alias("valid_to_us"), col("is_current"))
  }

  /** Point-in-time dimension lookup: every event joined to the version
    * live at its timestamp from a dim built on a THIRD of the log
    * (facts before the first version get nulls — the no-leakage
    * training-data join, [[graft.pipeline.Cdc.asOfLookup]]). */
  // Point-in-time lookup replay: same dim build on the event_id%3
  // third, left-joined on id + validity range.
  spec("q_scd2_lookup", """WITH c AS (SELECT user_id, ts, event_type, event_id,
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
        .stripMargin) { (s, dir) =>
    val ev = events(s, dir)
    val dim = graft.pipeline.Cdc.scd2FromLog(
      ev.filter(col("event_id") % 3 === 0)
        .select(col("user_id"), col("ts"), col("event_type"), col("event_id")),
      "user_id", "ts", Seq("event_type"), tieCols = Seq("event_id"))
    graft.pipeline.Cdc.asOfLookup(
      ev.select(col("user_id"), col("ts"), col("event_id")), dim,
      "user_id", "ts")
      .select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("event_id"), col("dim_event_type"),
        usec(col("dim_valid_from")).alias("v_from_us"))
  }

  /** Cross-sectional z-score of event value against all events in the
    * same hour ([[graft.tsdf.Stats.crossSectionalZ]] — exact integer
    * moments, fixed IEEE op sequence). */
  // Cross-sectional z replay: exact BIGINT hour-bucket moments, every
  // product after a double cast, one sqrt + one division.
  spec("q_cross_z", """WITH b AS (SELECT event_id, user_id,
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
        |  END AS cs_z FROM m""".stripMargin) { (s, dir) =>
    graft.tsdf.Stats.crossSectionalZ(
      events(s, dir).select(col("event_id"), col("user_id"), col("ts"),
        col("value")),
      Seq("event_id", "user_id"),
      expr("unix_micros(ts) div 3600000000"), col("value"))
  }

  /** Session item baskets: 30-min sessions per user, item = the numeric
    * `k` of the props JSON (RE2-safe digit extraction, replayed verbatim
    * by DuckDB). */
  private def sessionBaskets(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Sessionize.assign(
      events(s, dir).select(col("user_id"), col("ts"), col("props")),
      "ts", Seq("user_id"), gapSeconds = 1800)
      .select(col("user_id"), col("session_id"),
        regexp_extract(col("props"), "[0-9]+", 0).cast(LongType)
          .alias("item"))

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

  /** Market-basket co-occurrence with exact lift over session item sets. */
  // ordered re-anchored funnel: selected min-timestamps per step,
  // later steps only after the previous completed
  // market-basket co-occurrence over 30-min session item sets: exact
  // pair/item/session counts, support and lift as single terminal
  // divisions on exact BIGINT products
  spec("q_cooccur", s"""$basketCtes,
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
         |JOIN ic b ON p.item_b = b.item CROSS JOIN ns""".stripMargin) { (s, dir) =>
    graft.pipeline.Analytics.cooccurrence(sessionBaskets(s, dir),
      Seq("user_id", "session_id"), "item")
  }

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

  /** Exact-integer PageRank (10 iterations) over the symmetric session
    * co-occurrence item graph. Kept fully declarative after an r18 A/B:
    * the static plan holds ~418 Exchange nodes but runtime exchange
    * reuse collapses them — persistEdges (4.7 s) and checkpointEvery=5
    * (9.4 s) both measured SLOWER than the declarative form (2.7 s
    * isolated at sf0.1); the persist/checkpoint seams remain the
    * documented deep-run knobs on [[graft.pipeline.Analytics.pagerank]]
    * for cluster-scale iteration counts where driver re-planning, not
    * executor time, dominates. */
  // exact-integer PageRank, 10 unrolled iterations over the symmetric
  // session co-occurrence graph: every step is BIGINT floor arithmetic
  // (all operands positive, so DuckDB's floor-div // equals Spark's
  // truncating div), so the ranks replay bit-for-bit
  spec("q_pagerank", pagerankSql) { (s, dir) =>
    val b = sessionBaskets(s, dir).distinct()
    val edges = b.join(b.withColumnRenamed("item", "item_b"),
        Seq("user_id", "session_id"))
      .filter(col("item") =!= col("item_b"))
      .select(col("item").alias("src"), col("item_b").alias("dst"))
      .distinct()
    graft.pipeline.Analytics.pagerank(edges, "src", "dst", iterations = 10)
  }

  /** Per-item triangle count, degree, and clustering coefficient over the
    * session co-occurrence item graph (same edges as q_pagerank). */
  // per-node triangles over the same canonical a<b session co-occurrence
  // edges: each triangle a<b<c enumerated once via (a,b)⋈(b,c)⋈(a,c);
  // exact BIGINT counts, clustering one fixed-order IEEE expression
  // (the Spark side's degree-ordered orientation changes the join
  // order, not the result set)
  spec("q_triangles", s"""$basketCtes,
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
         |FROM deg d LEFT JOIN nt ON d.node = nt.node""".stripMargin) { (s, dir) =>
    val b = sessionBaskets(s, dir).distinct()
    val edges = b.join(b.withColumnRenamed("item", "item_b"),
        Seq("user_id", "session_id"))
      .filter(col("item") < col("item_b"))
      .select(col("item").alias("src"), col("item_b").alias("dst"))
    graft.pipeline.Analytics.triangles(edges, "src", "dst")
      .select(col("node").alias("item"), col("degree"), col("triangles"),
        col("clustering"))
  }

  /** RFM segmentation of customers over orders: exact cents monetary,
    * quintile tiles under a deterministic total order. */
  // RFM quintiles: exact day diffs / counts / cents sums, ntile over a
  // TOTAL order (metric, then customer) so the tiles are deterministic
  spec("q_rfm", """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
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
        |r * 100 + f * 10 + m AS rfm_segment FROM sc""".stripMargin) { (s, dir) =>
    graft.pipeline.Analytics.rfm(
      tbl(s, dir, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).alias("o_date"),
        cents(col("o_totalprice")).cast(LongType).alias("price_cents")),
      "o_custkey", "o_date", "price_cents", buckets = 5)
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary"), col("r"), col("f"), col("m"), col("rfm_segment"))
  }

  /** l-diversity gate over (event_type, hour) groups with user_id as the
    * sensitive attribute, l = 20. */
  spec("q_l_diversity", """WITH t AS (SELECT event_id, user_id, event_type,
        |  CAST(hour(ts) AS BIGINT) AS hr FROM events),
        |g AS (SELECT event_type, hr, count(*) AS group_l FROM
        |  (SELECT DISTINCT event_type, hr, user_id FROM t
        |   WHERE user_id IS NOT NULL) x GROUP BY 1, 2)
        |SELECT t.event_id, t.event_type, t.hr,
        |CAST(coalesce(g.group_l, 0) AS BIGINT) AS group_l,
        |(CAST(coalesce(g.group_l, 0) AS BIGINT) >= 20) AS l_diverse_ok
        |FROM t LEFT JOIN g ON t.event_type IS NOT DISTINCT FROM g.event_type
        |  AND t.hr IS NOT DISTINCT FROM g.hr"""
        .stripMargin) { (s, dir) =>
    graft.pipeline.Pii.lDiversity(
      events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), hour(col("ts")).cast(LongType).alias("hr")),
      Seq("event_type", "hr"), "user_id", l = 20)
      .select(col("event_id"), col("event_type"), col("hr"),
        col("group_l"), col("l_diverse_ok"))
  }

  /** Benford first-digit audit of cents(value) per event type. */
  // Benford audit: first digit from the integer's decimal string (no
  // log10 on the data path), exact counts, expected_p embedded as the
  // same JVM-computed double literals the Spark plan uses
  spec("q_benford", {
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
    }) { (s, dir) =>
    graft.pipeline.Profile.benfordDigits(
      events(s, dir).select(col("event_type"),
        cents(col("value")).cast(LongType).alias("c")),
      "c", Seq("event_type"))
      .select(col("event_type"), col("digit"), col("n"), col("n_total"),
        col("observed_p"), col("expected_p"), col("dev"))
  }

  /** Ordered view→click→purchase funnel per user: earliest re-anchored
    * completion chain, selected timestamps only. */
  spec("q_funnel", """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
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
        |LEFT JOIN s3 ON s3.user_id = s1.user_id""".stripMargin) { (s, dir) =>
    graft.pipeline.Analytics.funnel(events(s, dir), "ts", "user_id",
      "event_type", Seq("view", "click", "purchase"))
  }

  /** Regex sequence-pattern detection per user: "a view, any amount of
    * browsing (views/other), then a click IMMEDIATELY followed by a
    * purchase" — adjacency a chained funnel join cannot express. */
  // Sequence-pattern replay: the same trace build (string_agg in
  // (ts, event_id) order) and the same regex — RE2 and Java both use
  // leftmost-first non-overlapping semantics, the Pii discipline
  spec("q_seq_pattern", """WITH e AS (SELECT user_id, ts, event_id,
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
        |FROM m""".stripMargin) { (s, dir) =>
    graft.pipeline.Analytics.sequencePattern(
      events(s, dir), "ts", Seq("user_id"), "event_type",
      Map("view" -> "v", "click" -> "c", "purchase" -> "p"),
      pattern = "v[vo]*cp", tieCols = Seq("event_id"))
      .select(col("user_id"), col("trace_len"), col("n_matches"),
        col("first_pos"))
  }

  /** DFA for the reluctant pattern v[vo]*?cp over symbols {v,o,c,p}:
    * state 0 = scanning for a start, 1 = inside the v[vo]* run, 2 = run
    * broken by c (only an immediate p completes; a v restarts a run).
    * Accepting (2,p) counts the match and resumes scanning. */
  private val SeqDfa: Map[(Int, String), (Int, Boolean)] = Map(
    (0, "v") -> ((1, false)), (0, "o") -> ((0, false)),
    (0, "c") -> ((0, false)), (0, "p") -> ((0, false)),
    (1, "v") -> ((1, false)), (1, "o") -> ((1, false)),
    (1, "c") -> ((2, false)), (1, "p") -> ((0, false)),
    (2, "v") -> ((1, false)), (2, "o") -> ((0, false)),
    (2, "c") -> ((0, false)), (2, "p") -> ((0, true)))

  /** Streaming CEP twin of q_seq_pattern: the same trace matched by a
    * 3-state DFA with ONE integer of state per user instead of the whole
    * trace — per-batch (consumed, matched) deltas sum-rolled to the batch
    * totals. Oracle = the trace replay with the RELUCTANT pattern
    * (leftmost-shortest — the DFA's semantics; see
    * [[graft.streaming.StreamingTSDF.patternDfa]]). */
  // Streaming-DFA replay: the same trace, the RELUCTANT pattern
  // (leftmost-shortest = the DFA's earliest-accept semantics)
  spec("q_stream_seq_pattern", """WITH e AS (SELECT user_id, ts, event_id,
        |  CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |    WHEN 'purchase' THEN 'p' ELSE 'o' END AS c
        |  FROM events),
        |tr AS (SELECT user_id,
        |  string_agg(c, '' ORDER BY ts, event_id) AS trace
        |  FROM e GROUP BY 1)
        |SELECT user_id, CAST(length(trace) AS BIGINT) AS trace_len,
        |  CAST(len(regexp_extract_all(trace, 'v[vo]*?cp')) AS BIGINT)
        |    AS n_matches
        |FROM tr""".stripMargin) { (s0, dir) =>
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.patternDfa(
      eventsStream(s, dir), "ts", Seq("user_id"), "event_type",
      Map("view" -> "v", "click" -> "c", "purchase" -> "p"), SeqDfa,
      tieCol = "event_id")
    runStream(s, out).groupBy(col("user_id"))
      .agg(sum(col("trace_len")).alias("trace_len"),
        sum(col("n_matches")).alias("n_matches"))
  }

  /** Weekly retention cohorts (7-day epoch periods — no calendar
    * conventions): retention = active/cohort_size, one terminal
    * division. */
  // weekly retention cohorts on 7-day epoch periods (no calendar/ISO
  // conventions); exact counts, one terminal division
  spec("q_retention", """WITH a AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 604800000000 AS p FROM events),
        |c AS (SELECT user_id, min(p) AS cohort_period FROM a GROUP BY 1),
        |s AS (SELECT cohort_period, count(*) AS cohort_size FROM c GROUP BY 1),
        |n AS (SELECT c.cohort_period, a.p - c.cohort_period AS k,
        |  count(*) AS n_active
        |  FROM a JOIN c ON c.user_id = a.user_id GROUP BY 1, 2)
        |SELECT n.cohort_period, n.k, n.n_active, s.cohort_size,
        |  CAST(n.n_active AS DOUBLE) / s.cohort_size AS retention
        |FROM n JOIN s ON s.cohort_period = n.cohort_period""".stripMargin) { (s, dir) =>
    graft.pipeline.Analytics.retentionCohorts(events(s, dir), "ts",
      "user_id", periodDays = 7)
  }

  /** Trailing-7-day active users per observed day (WAU) via the
    * day-explode decomposition — exact distinct, no sliding state. */
  // trailing-7-day active users via the day-explode decomposition
  spec("q_wau", """WITH d AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 86400000000 AS dd FROM events),
        |sp AS (SELECT max(dd) AS hi FROM d),
        |x AS (SELECT DISTINCT user_id, dd + r AS day_idx
        |  FROM d, range(7) t(r))
        |SELECT day_idx, CAST(day_idx * 86400000000 AS BIGINT) AS day_ts_us,
        |  count(*) AS active_users
        |FROM x, sp WHERE x.day_idx <= sp.hi
        |GROUP BY 1""".stripMargin) { (s, dir) =>
    graft.pipeline.Analytics.slidingActiveUsers(events(s, dir), "ts",
      "user_id", windowDays = 7)
  }

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

  /** Streaming conformal coverage gate — q_conformal's verdicts at the
    * ingest boundary: the per-group conformal model AND the held-out
    * test-row keys freeze batch-side (corpus under an sf dir is
    * immutable — the lm-KN convention), every ARRIVING event joins the
    * test-key table and the model stream-statically and emits its 0/1
    * verdict with zero state; the per-group fold runs over the sink
    * ([[graft.pipeline.Regression.conformalFinish]]). Shares
    * q_conformal's replay verbatim. */
  // the streaming gate shares the batch replay verbatim: frozen model
  // + test keys batch-side, stateless per-arrival verdicts
  spec("q_stream_conformal", conformalSql) { (s0, dir) =>
    val s = streamSession(s0)
    val ev = events(s, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull)
    // both frozen batch artifacts are multi-consumer (the model feeds the
    // stream-static score join AND the finish join; model + test keys
    // share the split-marking subtree) — one lazy boundary each runs the
    // split windows once instead of three times
    val model = graft.pipeline.Materializer(
      graft.pipeline.Regression.conformalModel(ev,
        Seq("user_id"), cents(col("value")).cast(LongType),
        Seq(col("ts"), col("event_id")), alphaMilli = 100L), eager = false)
    // keyed (user_id, event_id): the gate must not rely on event_id
    // being globally unique across users
    val testKeys = graft.pipeline.Materializer(
      graft.pipeline.Regression.conformalTestRows(ev,
        Seq("user_id"), cents(col("value")).cast(LongType),
        Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("__o1").alias("event_id")), eager = false)
    val arriving = eventsStream(s, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .join(testKeys, Seq("user_id", "event_id")) // stream-static: test rows only
    val sink = runStream(s, graft.pipeline.Regression.conformalScore(
      model, arriving, Seq("user_id"),
      cents(col("value")).cast(LongType)))
    graft.pipeline.Regression.conformalFinish(sink, model, Seq("user_id"))
  }

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

  /** Grouped multivariate OLS ([[graft.pipeline.Regression.groupOls2]]):
    * per user, cent value regressed on (hour-of-day, weekday) — exact
    * integer moment sums, fixed-order Cramer solve, null βs on
    * singular groups. */
  // Grouped OLS replay: exact BIGINT moment sums, the identical
  // fixed-order Cramer determinants in double space, null on singular.
  spec("q_group_ols", groupOlsSql) { (s, dir) =>
    graft.pipeline.Regression.groupOls2(events(s, dir), Seq("user_id"),
      hour(col("ts")).cast(LongType), weekday(col("ts")).cast(LongType),
      cents(col("value")).cast(LongType))
  }

  /** Split-conformal prediction intervals per user
    * ([[graft.pipeline.Regression.conformalSplit]]): chronological
    * 60/20/20 split of each user's event values, train-mean predictor
    * kept as an exact rational, calibration-residual conformal quantile
    * at α = 0.1, coverage measured on the held-out tail — the
    * distribution-free interval artifact next to q_walk_forward's point
    * forecasts. */
  // Split-conformal replay: the 60/20/20 chronological split, the
  // scaled-integer residuals |y·n_train − sum_train| (train mean kept
  // rational), the k = ⌈(n_cal+1)·900/1000⌉-th smallest calibration
  // residual (k > n_cal ⇒ infinite interval ⇒ all covered, null q),
  // one terminal coverage division.
  spec("q_conformal", conformalSql) { (s, dir) =>
    graft.pipeline.Regression.conformalSplit(
      events(s, dir).filter(col("ts").isNotNull && col("value").isNotNull),
      Seq("user_id"), cents(col("value")).cast(LongType),
      Seq(col("ts"), col("event_id")), alphaMilli = 100L)
  }

  /** Gini concentration ([[graft.pipeline.Profile.giniConcentration]]):
    * per nation, how concentrated is order revenue across customers —
    * exact rank/moment integers + two fixed-order terminal divisions. */
  // Gini replay: exact per-customer revenue cents, 1-based rank by
  // (value, custkey), exact rank-moment sums, two fixed divisions.
  spec("q_gini", """WITH pc AS (SELECT c_nationkey, c_custkey,
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
        |FROM a""".stripMargin) { (s, dir) =>
    val perCust = tbl(s, dir, "orders")
      .join(tbl(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("c_custkey"))
      .agg(sum(cents(col("o_totalprice"))).cast(LongType).alias("rev"))
    graft.pipeline.Profile.giniConcentration(
      perCust, Seq("c_nationkey"), col("rev"), col("c_custkey"))
  }

  /** Functional-dependency probe ([[graft.pipeline.Profile.fdCheck]]):
    * does o_custkey determine o_orderpriority? Per-key exact fan-out
    * table — the join-explosion / dirty-dimension warning, plus the
    * one-row [[graft.pipeline.Profile.fdSummary]] report is derivable. */
  // FD-probe replay: exact per-key row and distinct-y counts.
  spec("q_fd", """SELECT o_custkey, count(*) AS n_rows,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct_y,
        |  count(DISTINCT o_orderpriority) > 1 AS is_violation
        |FROM orders WHERE o_custkey IS NOT NULL
        |GROUP BY o_custkey""".stripMargin) { (s, dir) =>
    graft.pipeline.Profile.fdCheck(tbl(s, dir, "orders"),
      col("o_custkey"), col("o_orderpriority"))
      .select(col("x").alias("o_custkey"), col("n_rows"),
        col("n_distinct_y"), col("is_violation"))
  }

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

  /** Kaplan–Meier survival per event_type
    * ([[graft.pipeline.Analytics.kaplanMeier]]): duration = ⌊value⌋,
    * right-censored where event_id % 4 == 0; exact integer risk sets,
    * left-to-right fold for the survival product. */
  spec("q_kaplan_meier", kaplanMeierSql) { (s, dir) =>
    graft.pipeline.Analytics.kaplanMeier(
      events(s, dir).filter(col("value").isNotNull),
      Seq("event_type"),
      floor(col("value")).cast(LongType),
      col("event_id") % 4 =!= 0)
  }

  /** Streaming Kaplan–Meier: additive (group, t) grid deltas
    * ([[graft.streaming.StreamingTSDF.kmDeltas]]) fold to the exact
    * batch grid, then the shared batch tail — shares q_kaplan_meier's
    * oracle verbatim. */
  spec("q_stream_kaplan_meier", kaplanMeierSql) { (s0, dir) =>
    val s = streamSession(s0)
    val deltas = graft.streaming.StreamingTSDF.kmDeltas(
      eventsStream(s, dir).filter(col("value").isNotNull),
      Seq("event_type"),
      floor(col("value")).cast(LongType),
      col("event_id") % 4 =!= 0)
    val grid = runStream(s, deltas)
      .groupBy(col("event_type"), col("t"))
      .agg(sum(col("d")).alias("d"), sum(col("obs")).alias("obs"))
    graft.pipeline.Analytics.kaplanMeierFromGrid(grid, Seq("event_type"))
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

  /** First-order Markov transition matrix
    * ([[graft.pipeline.Analytics.transitionMatrix]]): adjacent
    * event-type steps per user in (ts, event_id) order, exact counts +
    * one terminal division for the transition probability. */
  spec("q_transitions", transitionsSql) { (s, dir) =>
    graft.pipeline.Analytics.transitionMatrix(events(s, dir), "ts",
      Seq("user_id"), "event_type", tieCols = Seq("event_id"))
  }

  /** Streaming KMV distinct-token sketch ([[graft.streaming.StreamingTSDF
    * .kmvMins]]): each (input partition, micro-batch) emits its own k
    * smallest distinct hashes per source — a hash may be emitted by
    * several of them, the sink is a superset of the final k-min set, and
    * the batch k-min fold
    * ([[graft.pipeline.Sketch.kmvFromHashes]]) over the sink reproduces
    * the batch sketch exactly for any micro-batch split — so the query
    * shares q_kmv_distinct's oracle verbatim. */
  // the streaming changelog sink folds back to the identical k-min set
  // (any final member entered the running set at first sight), so the
  // streaming twin shares the batch replay verbatim
  spec("q_stream_kmv", kmvReplaySql) { (s0, dir) =>
    val s = streamSession(s0)
    val toks = docsStream(s, dir).select(col("source"),
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("tok"))
    val mins = graft.streaming.StreamingTSDF.kmvMins(
      toks, Seq("source"), col("tok"), k = 256)
    graft.pipeline.Sketch.kmvFromHashes(
      runStream(s, mins), Seq("source"), col("h"), k = 256)
  }

  /** The WIDE-family twin of q_stream_kmv: the same changelog stream and
    * k-min fold addressed through the ~10¹⁸ CRT-pair hash space — the
    * streaming face of q_kmv_wide (whose oracle it shares verbatim:
    * stream fold == batch wide KMV by the changelog superset invariant).
    * This is the production path when a streamed group's distinct count
    * can approach the narrow family's ~10⁹ ceiling (WAU at 100 TB). */
  // the wide streaming twin folds to the batch wide KMV exactly
  // (changelog superset invariant), so it shares q_kmv_wide's replay
  spec("q_stream_kmv_wide", kmvWideReplaySql) { (s0, dir) =>
    val s = streamSession(s0)
    val toks = docsStream(s, dir).select(col("source"),
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("tok"))
    val mins = graft.streaming.StreamingTSDF.kmvMins(
      toks, Seq("source"), col("tok"), k = 256, wide = true)
    graft.pipeline.Sketch.kmvFromHashes(
      runStream(s, mins), Seq("source"), col("h"), k = 256,
      space = graft.pipeline.Hashing.PW)
  }

  /** Streaming Count-Min heavy hitters: token cell-count DELTAS from the
    * ingest stream ([[graft.streaming.StreamingTSDF.cmsDeltas]], one
    * corpus-global series, emitted per input partition and micro-batch)
    * sum-rolled into the exact
    * batch grid, probed with the unchanged batch reader — CMS counters are
    * additive, so the roll equals [[graft.pipeline.Sketch.cmsBuild]] for
    * any micro-batching and the query shares q_cms_heavy's oracle
    * verbatim. */
  spec("q_stream_cms", cmsHeavySql) { (s0, dir) =>
    val s = streamSession(s0)
    val tokStream = docsStream(s, dir).select(
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("tok"))
    val deltas = graft.streaming.StreamingTSDF.cmsDeltas(
      tokStream, Seq(), col("tok"), width = 512, depth = 3)
    val sketch = runStream(s, deltas)
      .groupBy(col("row"), col("bucket")).agg(sum(col("cnt")).alias("cnt"))
    val toks = docs(s, dir).select(
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("tok"))
    val heavy = toks.groupBy(col("tok"))
      .agg(count(lit(1)).alias("true_cnt"))
      .filter(col("true_cnt") >= 50)
    graft.pipeline.Sketch.cmsEstimate(
      heavy, sketch, col("tok"), width = 512, depth = 3)
      .join(heavy, col("item") === col("tok"))
      .select(col("tok"), col("true_cnt"), col("cms_est"),
        (col("cms_est") - col("true_cnt")).alias("over_err"))
  }

  /** Streaming Bloom filter build: the history corpus's set bits emitted
    * as a CHANGELOG ([[graft.streaming.StreamingTSDF.bloomBits]]) in which
    * a bit may arrive more than once (once per input partition and
    * micro-batch that sets it), so the sink is folded per word with
    * `bit_or` — idempotent, unlike `sum` — into the exact batch filter, then
    * probed with the
    * unchanged batch [[graft.pipeline.Sketch.bloomProbe]] — the streaming
    * face of q_bloom's incremental-dedup prefilter, sharing its oracle
    * verbatim. */
  spec("q_stream_bloom", bloomSql) { (s0, dir) =>
    val s = streamSession(s0)
    val hist = docsStream(s, dir).filter(col("doc_id") % 3 =!= 0)
      .select(Dedup.normalizeText(col("text")).alias("item"))
    val bits = graft.streaming.StreamingTSDF.bloomBits(
      hist, Seq(), col("item"), mBits = 1 << 15, depth = 3)
    // bitwise OR, not sum: the stateless per-partition changelog may emit
    // a (word, bit) more than once (see StreamingTSDF.bloomBits); OR is
    // idempotent, so the folded filter is bit-identical either way
    val filter = runStream(s, bits)
      .groupBy(col("word")).agg(expr("bit_or(mask)").alias("word_mask"))
    val d = docs(s, dir).select(col("doc_id"),
      Dedup.normalizeText(col("text")).alias("item"))
    graft.pipeline.Sketch.bloomProbe(d, filter, col("item"),
      mBits = 1 << 15, depth = 3)
      .select(col("doc_id"), col("bloom_hit"),
        (col("doc_id") % 3 =!= 0).alias("in_history"))
  }

  /** Streaming Markov transitions: adjacent-step COUNT DELTAS from the
    * ingest stream ([[graft.streaming.StreamingTSDF.transitionDeltas]] —
    * one (ts, tie, type) triple of state per series owns the
    * batch-boundary step, so the fold equals the batch lead-window
    * counts for any micro-batching), finished by the shared
    * [[graft.pipeline.Analytics.transitionMatrixFromCounts]] tail;
    * shares q_transitions' oracle verbatim. */
  // Markov transition replay: per-user lead in (ts, event_id) order,
  // exact counts, one terminal division for p. q_stream_transitions
  // shares it verbatim: the per-batch step deltas (boundary step owned
  // by the arriving batch) are additive and fold to identical counts.
  spec("q_stream_transitions", transitionsSql) { (s0, dir) =>
    val s = streamSession(s0)
    val deltas = graft.streaming.StreamingTSDF.transitionDeltas(
      eventsStream(s, dir).select(col("user_id"), col("ts"),
        col("event_type"), col("event_id")),
      "ts", Seq("user_id"), "event_type", tieCol = "event_id")
    val cnt = runStream(s, deltas)
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("n")).alias("n"))
    graft.pipeline.Analytics.transitionMatrixFromCounts(cnt)
  }

  /** Streaming grouped OLS: nine exact moment DELTAS per user from the
    * ingest stream ([[graft.streaming.StreamingTSDF.olsMomentDeltas]] —
    * moments are additive, so the fold equals the batch aggregate for
    * any micro-batching), solved by the shared pinned-order Cramer tail
    * ([[graft.pipeline.Regression.olsFromMoments]]) — incremental model
    * refit with no history rescan; shares q_group_ols' oracle
    * verbatim. */
  // q_stream_group_ols shares it verbatim: the nine moment deltas are
  // additive and fold to the identical integers.
  spec("q_stream_group_ols", groupOlsSql) { (s0, dir) =>
    val s = streamSession(s0)
    val deltas = graft.streaming.StreamingTSDF.olsMomentDeltas(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      Seq("user_id"), hour(col("ts")).cast(LongType),
      weekday(col("ts")).cast(LongType), cents(col("value")).cast(LongType))
    val folded = runStream(s, deltas)
      .groupBy(col("user_id"))
      .agg(sum(col("n")).alias("n"), sum(col("sx1")).alias("sx1"),
        sum(col("sx2")).alias("sx2"), sum(col("sy")).alias("sy"),
        sum(col("sx11")).alias("sx11"), sum(col("sx12")).alias("sx12"),
        sum(col("sx22")).alias("sx22"), sum(col("sx1y")).alias("sx1y"),
        sum(col("sx2y")).alias("sx2y"))
    graft.pipeline.Regression.olsFromMoments(folded)
  }

  /** Streaming trailing-7-day WAU via the KMV changelog: per-DAY running
    * k-min sets stream through [[graft.streaming.StreamingTSDF.kmvMins]]
    * (day = the series key), and the batch trailing merge
    * ([[graft.pipeline.Sketch.kmvTrailingFromHashes]]) folds the sink
    * into the identical sliding estimates — the streaming face of
    * q_wau_kmv, sharing its oracle verbatim. */
  // the streaming per-day k-min changelog folds to the identical
  // per-day sets (sink superset + re-fold), so the trailing merge and
  // this replay agree verbatim
  spec("q_stream_wau_kmv", wauKmvReplaySql) { (s0, dir) =>
    val s = streamSession(s0)
    val days = eventsStream(s, dir).select(
      expr("unix_micros(ts) div 86400000000").alias("day"),
      col("user_id").cast(StringType).alias("uid"))
    val mins = graft.streaming.StreamingTSDF.kmvMins(
      days, Seq("day"), col("uid"), k = 64)
    graft.pipeline.Sketch.kmvTrailingFromHashes(
      runStream(s, mins), col("day"), col("h"), k = 64, windowBuckets = 7)
  }

  /** Streaming SCD2 changelog as a real single-batch streaming query
    * ([[graft.streaming.StreamingTSDF.scd2Changelog]]): per user, the
    * collapsed event_type change set in (ts, event_id) order — exactly
    * the batch [[graft.pipeline.Cdc.scd2FromLog]] version rows without
    * the derivable valid_to. */
  // SCD2 replay: lag IS DISTINCT FROM collapses no-op re-emits (the
  // null-safe struct compare), lead derives [valid_from, valid_to).
  // Streaming SCD2 changelog replay: the batch version rows (the same
  // collapsed change set) without the derivable valid_to.
  spec("q_stream_scd2", """WITH c AS (SELECT user_id, ts, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM c
        |WHERE prev IS DISTINCT FROM event_type""".stripMargin) { (s0, dir) =>
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.scd2Changelog(
      eventsStream(s, dir).select(col("user_id"), col("ts"),
        col("event_type"), col("event_id")),
      Seq("user_id"), "ts", Seq("event_type"), "event_id")
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("event_type"))
  }

  /** Histogram drift between the halves of a deterministic 50/50 hash
    * split of documents, bucketed by length (32-char bins capped at 20):
    * per-bucket counts/proportions plus the exact total-variation distance
    * assembled from cross-multiplied integer counts. */
  private def qDrift(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("split",
        graft.pipeline.Splits.splitIndex(col("doc_id"), Seq(1, 1)))
      .withColumn("bucket", least(lit(20L), expr("n_chars div 32")))
    graft.pipeline.Drift.histogramDrift(
      d.filter(col("split") === 0L), d.filter(col("split") === 1L), "bucket")
  }

  // histogram drift: 50/50 hash split, 32-char length buckets; the TV
  // numerator is the exact cross-multiplied |cnt_a*nb - cnt_b*na|
  spec("q_drift", {
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
    })(qDrift)

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

  /** Welch's t-test over the same cohorts as [[qDrift]]
    * ([[graft.pipeline.Drift.welchTTest]]): per length bucket, did the
    * mean quality score move between the two splits? Exact BIGINT
    * moments + fixed-order t / Welch–Satterthwaite df. */
  // Welch replay: the q_drift cohorts, exact BIGINT (n, sum, sumsq) per
  // side, then the identical fixed-order t / Welch-Satterthwaite df.
  spec("q_welch", welchSql) { (s, dir) =>
    val d = docs(s, dir)
      .withColumn("split",
        graft.pipeline.Splits.splitIndex(col("doc_id"), Seq(1, 1)))
      .withColumn("bucket", least(lit(20L), expr("n_chars div 32")))
      .withColumn("v", size(split(col("text"), " ")).cast(LongType))
    graft.pipeline.Drift.welchTTest(
      d.filter(col("split") === 0L), d.filter(col("split") === 1L),
      "bucket", col("v"))
  }

  /** Streaming Welch: per-(bucket, split) exact (n, Σv, Σv²) DELTAS from
    * the document ingest stream
    * ([[graft.streaming.StreamingTSDF.statsDeltas]] — moments are
    * additive, so the fold equals the batch per-cohort aggregates for
    * any micro-batching), pivoted into the two cohorts and finished by
    * the shared [[graft.pipeline.Drift.welchFromMoments]] tail; shares
    * q_welch's oracle verbatim. */
  // q_stream_welch shares it verbatim: the (n, sum, sumsq) deltas are
  // additive and fold to the identical per-cohort moments.
  spec("q_stream_welch", welchSql) { (s0, dir) =>
    val s = streamSession(s0)
    val d = docsStream(s, dir)
      .withColumn("split",
        graft.pipeline.Splits.splitIndex(col("doc_id"), Seq(1, 1)))
      .withColumn("bucket", least(lit(20L), expr("n_chars div 32")))
      .withColumn("v", size(split(col("text"), " ")).cast(LongType))
    val deltas = graft.streaming.StreamingTSDF.statsDeltas(
      d, Seq("bucket", "split"), col("v"))
    val folded = runStream(s, deltas)
      .groupBy(col("bucket"), col("split"))
      .agg(sum(col("n")).alias("n"), sum(col("s1")).alias("s1"),
        sum(col("s2")).alias("s2"))
    val ma = folded.filter(col("split") === 0L).select(col("bucket"),
      col("n").alias("n_a"), col("s1").alias("sum_a"),
      col("s2").alias("__s2a"))
    val mb = folded.filter(col("split") === 1L).select(col("bucket"),
      col("n").alias("n_b"), col("s1").alias("sum_b"),
      col("s2").alias("__s2b"))
    graft.pipeline.Drift.welchFromMoments(
      ma.join(mb, Seq("bucket"), "inner"), "bucket")
  }

  /** Chi-square + Hellinger drift over the same cohorts as [[qDrift]]. */
  // chi-square + Hellinger drift: exact integer cross-products per
  // bucket; double totals via an explicit bucket-ordered left fold
  // (list_reduce), never an engine-ordered window sum
  spec("q_drift_stats", {
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
    }) { (s, dir) =>
    val d = docs(s, dir)
      .withColumn("split",
        graft.pipeline.Splits.splitIndex(col("doc_id"), Seq(1, 1)))
      .withColumn("bucket", least(lit(20L), expr("n_chars div 32")))
    graft.pipeline.Drift.driftStats(
      d.filter(col("split") === 0L), d.filter(col("split") === 1L), "bucket")
  }
}

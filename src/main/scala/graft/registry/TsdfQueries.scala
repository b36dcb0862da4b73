package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.tsdf.{TSDF, Resample, Stats}

import Inputs._

/** TSDF core (PAPER.md §1): range and point slices, as-of joins,
  * resample, interpolate, per-series stats, indicators and recurrences,
  * each with its single-batch stream twin where one exists (a twin shares
  * its batch query's oracle). */
private[graft] object TsdfQueries extends QueryFamily {

  spec("q_slice_between", """SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00'""".stripMargin) { (s, dir) =>
    TSDF(events(s, dir), "ts", Seq("user_id"))
      .between("2024-01-10 00:00:00", "2024-01-20 00:00:00")
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("event_id"), col("event_type"), col("value"))
  }

  /** The point-slice family (at/before/after/atOrBefore/atOrAfter via
    * priorTo/subsequentTo/latest/earliest) in one tagged union. `at` anchors
    * on the global min ts (a one-row eager lookup, like the reference's
    * display helpers) so it provably matches rows. */
  spec("q_slice_ops", {
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
    }) { (s, dir) =>
    val t = TSDF(events(s, dir).select(col("user_id"), col("ts"), col("event_id")),
      "ts", Seq("user_id"))
    val pivot = "2024-01-15 00:00:00"
    val minTs = t.df.agg(min(col("ts"))).collect().head.getTimestamp(0)
    def tag(name: String, d: DataFrame) = d.select(lit(name).alias("op"),
      col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"))
    tag("at_min", t.at(minTs).df)
      .unionByName(tag("prior_to", t.priorTo(pivot, 2).df))
      .unionByName(tag("subsequent_to", t.subsequentTo(pivot, 2).df))
      .unionByName(tag("last_before", t.before(pivot).latest(1).df))
      .unionByName(tag("first_after", t.after(pivot).earliest(1).df))
  }

  spec("q_latest_n", """SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value FROM
        |(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn FROM events) t
        |WHERE rn <= 3""".stripMargin) { (s, dir) =>
    TSDF(events(s, dir), "ts", Seq("user_id")).latest(3)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("event_id"), col("event_type"), col("value"))
  }

  spec("q_earliest_n", """SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value FROM
        |(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts ASC) AS rn FROM events) t
        |WHERE rn <= 2""".stripMargin) { (s, dir) =>
    TSDF(events(s, dir), "ts", Seq("user_id")).earliest(2)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("event_id"), col("event_type"), col("value"))
  }

  /** `select` invariant-keeping projection, `withPartitionCols` series
    * rebinding and `showSlice` top-k in one tagged union — §2 rows 6/13/15,
    * previously verified only by the sbt suite. `event_id` as sequenceCol
    * makes latest()'s tie-break deterministic in both engines. */
  spec("q_tsdf_projection", """SELECT 'by_user' AS op, user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM
        |(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn <= 1
        |UNION ALL
        |SELECT 'by_type' AS op, user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM
        |(SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn <= 2""".stripMargin) { (s, dir) =>
    val t = TSDF(events(s, dir), "ts", Seq("user_id"), Some("event_id"))
      .select("user_id", "ts", "event_id", "event_type") // drops value, keeps invariants
    def tag(name: String, d: DataFrame) = d.select(lit(name).alias("op"),
      col("user_id"), col("event_type"), usec(col("ts")).alias("ts_us"),
      col("event_id"))
    tag("by_user", t.showSlice(k = 1))
      .unionByName(tag("by_type",
        t.withPartitionCols(Seq("event_type")).showSlice(k = 2)))
  }

  private def clicks(s: SparkSession, dir: String): TSDF =
    TSDF(events(s, dir).filter(col("event_type") === "click")
      .select("user_id", "ts", "event_id", "value"), "ts", Seq("user_id"))

  private def purchases(s: SparkSession, dir: String): TSDF =
    TSDF(events(s, dir).filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value"), "ts", Seq("user_id"))

  private def asofOut(df: DataFrame): DataFrame =
    df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
      col("value"), usec(col("right_ts")).alias("right_ts_us"), col("right_value"))

  private lazy val asofBase =
    """FROM (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click') l
      |ASOF %s JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
      |ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin

  private[graft] def qAsof(s: SparkSession, dir: String): DataFrame =
    asofOut(clicks(s, dir).asofJoin(purchases(s, dir)).df)

  spec("q_asof", s"""SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id, l.value,
         |epoch_us(r.ts) AS right_ts_us, r.value AS right_value
         |${asofBase.format("LEFT")}""".stripMargin)(qAsof)

  spec("q_asof_tolerance", s"""SELECT user_id, ts_us, event_id, value,
         |CASE WHEN ts_us - right_ts_us > 3600000000 THEN NULL ELSE right_ts_us END AS right_ts_us,
         |CASE WHEN ts_us - right_ts_us > 3600000000 THEN NULL ELSE right_value END AS right_value
         |FROM (SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id, l.value,
         |epoch_us(r.ts) AS right_ts_us, r.value AS right_value
         |${asofBase.format("LEFT")}) t""".stripMargin) { (s, dir) =>
    asofOut(clicks(s, dir).asofJoin(purchases(s, dir), tolerance = Some(3600.0)).df)
  }

  spec("q_asof_bcast", s"""SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id, l.value,
         |epoch_us(r.ts) AS right_ts_us, r.value AS right_value
         |${asofBase.format("INNER")}""".stripMargin) { (s, dir) =>
    asofOut(clicks(s, dir).asofJoin(purchases(s, dir), sqlJoinOpt = true).df)
  }

  spec("q_asof_skew", s"""SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id, l.value,
         |CASE WHEN r.ts >= date_trunc('day', l.ts) - INTERVAL 12 HOUR THEN epoch_us(r.ts) END AS right_ts_us,
         |CASE WHEN r.ts >= date_trunc('day', l.ts) - INTERVAL 12 HOUR THEN r.value END AS right_value
         |${asofBase.format("LEFT")}""".stripMargin) { (s, dir) =>
    asofOut(clicks(s, dir)
      .asofJoin(purchases(s, dir), tsPartitionVal = Some(86400L), fraction = 0.5).df)
  }

  /** Forward as-of: each click attaches the NEXT purchase (right.ts >= ts). */
  // forward as-of: DuckDB infers direction from the inequality; picks
  // the smallest r.ts >= l.ts per left row
  spec("q_asof_next", """SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id, l.value,
        |epoch_us(r.ts) AS right_ts_us, r.value AS right_value
        |FROM (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        |ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin) { (s, dir) =>
    asofOut(clicks(s, dir).asofJoinNext(purchases(s, dir)).df)
  }

  /** Nearest as-of: each click attaches the CLOSEST purchase in time,
    * backward winning ties. */
  // nearest as-of: backward + forward ASOF joins, smaller distance wins,
  // backward on ties (exact integer-us distances)
  spec("q_asof_nearest", """WITH l AS (SELECT user_id, ts, event_id, value FROM events
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
        |FROM j""".stripMargin) { (s, dir) =>
    asofOut(clicks(s, dir).asofJoinNearest(purchases(s, dir)).df)
  }

  spec("q_resample_avg", """SELECT event_type, epoch_us(date_trunc('hour', ts)) AS ts_us,
        |avg(round(value * 100)) / 100.0 AS avg_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    eventsTsdf(s, dir, "event_type", cents(col("value")).alias("c"))
      .resample("1 hour", "mean")
      .df.select(col("event_type"), usec(col("ts")).alias("ts_us"),
        (col("c") / 100.0).alias("avg_value"))
  }

  spec("q_resample_floor", """SELECT user_id, epoch_us(date_trunc('day', ts)) AS ts_us,
        |min_by(value, ts) AS value, min_by(event_id, ts) AS event_id
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    eventsTsdf(s, dir, "user_id", col("value"), col("event_id"))
      .resample("1 day", "floor")
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("value"), col("event_id"))
  }

  spec("q_resample_ceil", """SELECT user_id, epoch_us(date_trunc('day', ts)) AS ts_us,
        |max_by(value, ts) AS value, max_by(event_id, ts) AS event_id
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    eventsTsdf(s, dir, "user_id", col("value"), col("event_id"))
      .resample("1 day", "ceil")
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("value"), col("event_id"))
  }

  /** Extreme-preserving decimation: per (user, hour) keep the rows with
    * the min and max value — ≤ 2 rows per bucket, ties by (value, ts). */
  // min-max decimation: the min row and max row per (user, hour); ties
  // by (value, ts); UNION (not ALL) collapses single-row buckets
  spec("q_downsample_minmax", """WITH b AS (SELECT user_id, date_trunc('hour', ts) AS bucket, ts, value,
        |  event_id FROM events),
        |lo AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id, bucket
        |  ORDER BY value, ts) AS rn FROM b) t WHERE rn = 1),
        |hi AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id, bucket
        |  ORDER BY value DESC, ts DESC) AS rn FROM b) t WHERE rn = 1)
        |SELECT user_id, epoch_us(bucket) AS bucket_us, epoch_us(ts) AS ts_us,
        |  value, event_id FROM lo
        |UNION
        |SELECT user_id, epoch_us(bucket) AS bucket_us, epoch_us(ts) AS ts_us,
        |  value, event_id FROM hi""".stripMargin) { (s, dir) =>
    Resample.downsampleMinMax(
      eventsTsdf(s, dir, "user_id", col("value"), col("event_id")),
      "1 hour", "value")
      .select(col("user_id"), usec(col("bucket_ts")).alias("bucket_us"),
        usec(col("ts")).alias("ts_us"), col("value"), col("event_id"))
  }

  /** Per-bucket totals: sum of exact cents and row count per hour. */
  spec("q_resample_sum", """SELECT event_type, epoch_us(date_trunc('hour', ts)) AS ts_us,
        |sum(round(value * 100)) / 100.0 AS sum_value,
        |count(event_id) AS n_rows
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val t = eventsTsdf(s, dir, "event_type", cents(col("value")).alias("c"),
      col("event_id"))
    val sums = t.resample("1 hour", "sum").df
      .select(col("event_type"), col("ts"), (col("c") / 100.0).alias("sum_value"))
    val counts = t.resample("1 hour", "count").df
      .select(col("event_type"), col("ts"), col("event_id").alias("n_rows"))
    sums.join(counts, Seq("event_type", "ts"))
      .select(col("event_type"), usec(col("ts")).alias("ts_us"),
        col("sum_value"), col("n_rows"))
  }

  /** Exact lower-median resample: per (user, day) median cents value. */
  // exact lower-median per (user, day) on cent values — same rank
  // convention as rollMedSql
  spec("q_resample_median", """WITH c AS (SELECT user_id, date_trunc('day', ts) AS d,
        |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |g AS (SELECT user_id, d, list_sort(list(vc)) AS fr
        |  FROM c GROUP BY user_id, d)
        |SELECT user_id, epoch_us(d) AS ts_us,
        |  fr[CAST(ceil(len(fr) / 2.0) AS BIGINT)] AS median_vc
        |FROM g""".stripMargin) { (s, dir) =>
    eventsTsdf(s, dir, "user_id", cents(col("value")).cast(LongType).alias("vc"))
      .resample("1 day", "median")
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("vc").alias("median_vc"))
  }

  /** Step-function TWAP per (user, 6 h bucket): exact integer-µs weights
    * over cent values, one double division per bucket. */
  // step-function TWAP per (user, 6h): weight = µs to next obs in the
  // bucket (last obs until bucket end); exact HUGEINT weighted sum,
  // one double division
  spec("q_twap", """WITH c AS (SELECT user_id, epoch_us(ts) AS tu, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |b AS (SELECT *, tu - tu % 21600000000 AS bu FROM c),
        |w AS (SELECT *, coalesce(lead(tu) OVER (PARTITION BY user_id, bu
        |    ORDER BY tu, event_id), bu + 21600000000) - tu AS wt FROM b)
        |SELECT user_id, bu AS bucket_us, count(*) AS n_obs,
        |  CAST(sum(wt) AS BIGINT) AS span_us,
        |  CASE WHEN sum(wt) > 0 THEN
        |    CAST(sum(CAST(vc AS HUGEINT) * wt) AS DOUBLE) /
        |      CAST(sum(wt) AS DOUBLE) END AS twap
        |FROM w GROUP BY user_id, bu""".stripMargin) { (s, dir) =>
    Stats.twap(eventsTsdf(s, dir, "user_id",
        cents(col("value")).cast(LongType).alias("vc"), col("event_id")),
      "6 hours", "vc", tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("bucket_ts")).alias("bucket_us"),
        col("n_obs"), col("span_us"), col("twap"))
  }

  /** Threshold-crossing events (shared by the batch query and its
    * streaming twin). */
  private lazy val thresholdCrossSql =
    """WITH w AS (SELECT user_id, ts, event_id, value,
      |  lag(value) OVER wd AS pv, lag(ts) OVER wd AS pts
      |  FROM events WINDOW wd AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, epoch_us(ts) AS ts_us, epoch_us(pts) AS prev_ts_us,
      |  pv AS prev_value, value,
      |  CASE WHEN pv < 50.0 AND value >= 50.0 THEN 'up'
      |       ELSE 'down' END AS direction
      |FROM w WHERE pv IS NOT NULL AND
      |  ((pv < 50.0 AND value >= 50.0) OR (pv >= 50.0 AND value < 50.0))""".stripMargin

  /** Level-50 crossing report on the raw double values (comparisons
    * only — no quantization needed). */
  // level-50 crossings: pure comparisons on the raw doubles
  spec("q_threshold_cross", thresholdCrossSql) { (s, dir) =>
    Stats.thresholdCrossings(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "ts", "value", Seq("user_id"), threshold = 50.0,
      tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"),
        usec(col("prev_ts")).alias("prev_ts_us"), col("prev_value"),
        col("value"), col("direction"))
  }

  /** Bollinger bands (window 20, k = 2) from exact BIGINT frame sums. */
  // Bollinger: exact BIGINT frame sums, fixed assembly
  // mid = sx/n, dev = sqrt(n*sx2 - sx^2)/n, band = mid +- 2*dev
  spec("q_bollinger", """WITH c AS (SELECT user_id, ts, event_id,
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
        |FROM r""".stripMargin) { (s, dir) =>
    Stats.rollingBands(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", "vc", Seq("user_id"), window = 20, k = 2.0,
      tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("vc"), col("bb_mid"), col("bb_upper"), col("bb_lower"))
  }

  spec("q_upsample_fill", """WITH agg AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |  avg(round(value * 100)) AS c FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(h) AS mn, max(h) AS mx FROM agg GROUP BY 1),
        |spine AS (SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b)
        |SELECT s.event_type, epoch_us(s.h) AS ts_us, coalesce(a.c, 0) / 100.0 AS avg_value
        |FROM spine s LEFT JOIN agg a ON s.event_type = a.event_type AND s.h = a.h""".stripMargin) { (s, dir) =>
    eventsTsdf(s, dir, "event_type", cents(col("value")).alias("c"))
      .resample("1 hour", "mean", fill = true)
      .df.select(col("event_type"), usec(col("ts")).alias("ts_us"),
        (col("c") / 100.0).alias("avg_value"))
  }

  private def interp(s: SparkSession, dir: String, method: String): DataFrame =
    eventsTsdf(s, dir, "user_id", cents(col("value")).alias("c"))
      .resample("1 hour", "mean")
      .interpolate(method, showInterpolated = true)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        (col("c") / 100.0).alias("value"),
        col("is_ts_interpolated"), col("is_interpolated_c").alias("is_interpolated_value"))

  private lazy val interpCommon =
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

  spec("q_interp_linear", interpCommon.format(
      """CASE WHEN v IS NOT NULL THEN v
        |WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv + (nv - pv) *
        |  (CAST(epoch_us(t) - epoch_us(pt) AS DOUBLE) / CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE))
        |END""".stripMargin))((s, dir) => interp(s, dir, "linear"))

  spec("q_interp_ffill", interpCommon.format("coalesce(v, pv)"))((s, dir) => interp(s, dir, "ffill"))

  spec("q_interp_bfill", interpCommon.format("coalesce(v, nv)"))((s, dir) => interp(s, dir, "bfill"))

  spec("q_interp_zero", interpCommon.format("coalesce(v, 0)"))((s, dir) => interp(s, dir, "zero"))

  // moments cast to double BEFORE any product — mirrors Stats.momentStddev
  // exactly so neither engine can BIGINT-overflow on s1*s1 at large |Σx|
  private lazy val momentSd =
    "CASE WHEN cnt > 1 THEN sqrt((CAST(cnt AS DOUBLE) * CAST(s2 AS DOUBLE) " +
      "- CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) " +
      "/ (CAST(cnt AS DOUBLE) * (CAST(cnt AS DOUBLE) - 1.0))) END"

  spec("q_range_stats", s"""WITH base AS (SELECT event_type, epoch_us(ts) AS tsu, value, round(value * 100) AS c
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
         |FROM w1""".stripMargin) { (s, dir) =>
    eventsTsdf(s, dir, "event_type", col("value"), cents(col("value")).alias("c"))
      .withRangeStats(Seq("c"), rangeBackWindowSecs = 3600)
      .df.select(col("event_type"), usec(col("ts")).alias("ts_us"), col("value"),
        (col("mean_c") / 100.0).alias("mean_value"),
        col("count_c").alias("count_value"),
        (col("min_c") / 100.0).alias("min_value"),
        (col("max_c") / 100.0).alias("max_value"),
        (col("sum_c") / 100.0).alias("sum_value"),
        (col("stddev_c") / 100.0).alias("stddev_value"),
        col("zscore_c").alias("zscore_value"))
  }

  spec("q_grouped_stats", s"""WITH base AS (SELECT event_type, date_trunc('hour', ts) AS h, round(value * 100) AS c
         |  FROM events),
         |g AS (SELECT event_type, h, avg(c) AS m, count(c) AS cnt, min(c) AS mn, max(c) AS mx,
         |  sum(c) AS s1, sum(c * c) AS s2 FROM base GROUP BY 1, 2)
         |SELECT event_type, epoch_us(h) AS ts_us, m / 100.0 AS mean_value, cnt AS count_value,
         |  mn / 100.0 AS min_value, mx / 100.0 AS max_value, s1 / 100.0 AS sum_value,
         |  ($momentSd) / 100.0 AS stddev_value
         |FROM g""".stripMargin) { (s, dir) =>
    eventsTsdf(s, dir, "event_type", cents(col("value")).alias("c"))
      .withGroupedStats(Seq("c"), "1 hour")
      .df.select(col("event_type"), usec(col("ts")).alias("ts_us"),
        (col("mean_c") / 100.0).alias("mean_value"),
        col("count_c").alias("count_value"),
        (col("min_c") / 100.0).alias("min_value"),
        (col("max_c") / 100.0).alias("max_value"),
        (col("sum_c") / 100.0).alias("sum_value"),
        (col("stddev_c") / 100.0).alias("stddev_value"))
  }

  spec("q_vwap", """SELECT l_returnflag, epoch_us(date_trunc('day', l_shipdate)) AS ts_us,
        |sum(round(l_extendedprice * 100) * l_quantity) / sum(l_quantity) / 100.0 AS vwap,
        |max(round(l_extendedprice * 100)) / 100.0 AS max_price
        |FROM lineitem GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val li = tbl(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_shipdate"), col("l_quantity"),
        cents(col("l_extendedprice")).alias("pc"))
    TSDF(li, "l_shipdate", Seq("l_returnflag"))
      .vwap("D", volumeCol = "l_quantity", priceCol = "pc")
      .df.select(col("l_returnflag"), usec(col("l_shipdate")).alias("ts_us"),
        (col("vwap") / 100.0).alias("vwap"),
        (col("max_pc") / 100.0).alias("max_price"))
  }

  spec("q_ema", {
      val terms = (0 until 5).map { i =>
        val coef = "0.2::DOUBLE" + " * 0.8::DOUBLE" * i
        val v = if (i == 0) "value" else s"lag(value, $i) OVER w"
        s"coalesce($v, 0) * ($coef)"
      }.mkString(" + ")
      s"""SELECT user_id, epoch_us(ts) AS ts_us, value, $terms AS ema_value
         |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)""".stripMargin
    }) { (s, dir) =>
    eventsTsdf(s, dir, "user_id", col("value"))
      .ema("value", window = 5, expFactor = 0.2)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("ema_value"))
  }

  // gaps-and-islands session assignment: break where the integer-us gap
  // from the previous event exceeds 30 minutes, running sum of breaks
  spec("q_sessionize", """WITH l AS (SELECT user_id, epoch_us(ts) AS ts_us, ts, value,
        |lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events)
        |SELECT user_id, ts_us, value,
        |CAST(sum(CASE WHEN prev IS NULL OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
        |  AS session_id
        |FROM l""".stripMargin) { (s, dir) =>
    eventsTsdf(s, dir, "user_id", col("value"))
      .sessionize(gapSeconds = 1800)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("session_id"))
  }

  // exact rank-arithmetic quantiles: value at rank max(1, ceil(p*n))
  spec("q_quantiles", """WITH r AS (SELECT user_id, value,
        |row_number() OVER (PARTITION BY user_id ORDER BY value) AS rn,
        |count(*) OVER (PARTITION BY user_id) AS n FROM events)
        |SELECT user_id,
        |max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT)) THEN value END) AS p50,
        |max(CASE WHEN rn = greatest(1, CAST(ceil(0.9 * n) AS BIGINT)) THEN value END) AS p90,
        |max(CASE WHEN rn = greatest(1, CAST(ceil(0.99 * n) AS BIGINT)) THEN value END) AS p99
        |FROM r GROUP BY user_id""".stripMargin) { (s, dir) =>
    graft.tsdf.Stats.quantiles(
      events(s, dir).select(col("user_id"), col("value")),
      "value", Seq("user_id"), Seq(0.5, 0.9, 0.99))
  }

  // the exact EMA recursion replayed as a recursive CTE stepping row rank
  // rn -> rn+1 per series: 0.5·x + 0.5·prev is the same IEEE op sequence
  // the Recurrence.ema window aggregate runs, so doubles match bit-for-bit
  // (alpha = 0.5 is exact in binary; no decimal-literal drift)
  spec("q_ema_exact", """WITH RECURSIVE t AS (
        |SELECT user_id, epoch_us(ts) AS ts_us, value,
        |row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn FROM events),
        |r AS (
        |SELECT user_id, ts_us, value, rn, CAST(value AS DOUBLE) AS ema_exact_value
        |FROM t WHERE rn = 1
        |UNION ALL
        |SELECT t.user_id, t.ts_us, t.value, t.rn,
        |0.5 * t.value + 0.5 * r.ema_exact_value AS ema_exact_value
        |FROM r JOIN t ON t.user_id = r.user_id AND t.rn = r.rn + 1)
        |SELECT user_id, ts_us, value, ema_exact_value FROM r""".stripMargin) { (s, dir) =>
    eventsTsdf(s, dir, "user_id", col("value"))
      .emaExact("value", alpha = 0.5)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("ema_exact_value"))
  }

  private lazy val holtSql: String =
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

  /** Exact Holt level+trend smoothing (α=0.5, β=0.25 — exact binary
    * fractions, so the recursive-CTE oracle replays bit-for-bit). */
  // Holt recursion replay: level computed once per step; the trend line
  // re-states the same level expression so both engines evaluate the
  // identical fixed-order IEEE arithmetic (α=0.5, β=0.25 exact binary)
  spec("q_holt_exact", holtSql) { (s, dir) =>
    eventsTsdf(s, dir, "user_id", col("value"))
      .holtExact("value", alpha = 0.5, beta = 0.25)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("holt_level_value"), col("holt_trend_value"))
  }

  /** Recursive-CTE replay of the exact Kalman predict/update double
    * recursion (q=0.25, r=4.0, p0=4.0), shared by the batch window query
    * and its single-batch streaming twin; per step pp = p+q,
    * k = pp/(pp+r), m += k*(y-m), p = (1-k)*pp. */
  private lazy val kalmanSql: String = {
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

  /** 1-D local-level Kalman filter per user (q = 0.25, r = 4.0, p0 = r):
    * every step is a fixed-order IEEE expression, replayed by a
    * recursive CTE in the oracle. */
  // 1-D local-level Kalman: recursive-CTE replay (see kalmanSql)
  spec("q_kalman", kalmanSql) { (s, dir) =>
    eventsTsdf(s, dir, "user_id", col("value"))
      .kalmanLevel("value", q = 0.25, r = 4.0)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("kalman_level_value"), col("kalman_var_value"),
        col("kalman_gain_value"))
  }

  /** Running peak + drawdown per user over raw value doubles (running max
    * is order-independent — no quantization needed). */
  // running peak + drawdown: max over a running frame is
  // order-independent, so raw doubles replay engine-exact
  spec("q_drawdown", """WITH t AS (
        |SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  CAST(value AS DOUBLE) AS x,
        |  max(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |FROM events)
        |SELECT user_id, ts_us, event_id, x AS value, peak AS peak_value,
        |  peak - x AS drawdown_value FROM t""".stripMargin) { (s, dir) =>
    graft.tsdf.Stats.drawdown(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "ts", "value", Seq("user_id"), tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("value"), col("peak_value"), col("drawdown_value"))
  }

  /** Wilder RSI recursion (shared by the batch query and its streaming
    * twin — same IEEE steps, same output columns). */
  private lazy val rsiSql =
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

  /** Wilder RSI (n = 14, EMA-seeded) per user; recursive-CTE oracle. */
  // Wilder RSI (n=14, EMA-seeded): the gain/loss EMA recursions replayed
  // as one recursive CTE; 1.0/14 and (1 - 1.0/14) are the identical IEEE
  // quotient/difference both engines compute, so every step matches
  spec("q_rsi", rsiSql) { (s, dir) =>
    eventsTsdf(s, dir, "user_id", col("value"))
      .rsi("value", n = 14)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("rsi_value"))
  }

  /** MACD triple-EMA recursion (shared by the batch query and its
    * streaming twin). */
  private lazy val macdSql =
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

  /** MACD 12/26/9 per user; one oracle recursion carries all three EMA
    * states. */
  // MACD 12/26/9: one recursion carries fast, slow, and signal states;
  // the signal step re-states both EMA lines so the macd input is the
  // same IEEE difference the engine materializes
  spec("q_macd", macdSql) { (s, dir) =>
    eventsTsdf(s, dir, "user_id", col("value"))
      .macd("value")
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("macd_value"), col("macd_signal_value"), col("macd_hist_value"))
  }

  /** ATR-14 over daily OHLC bars per user (Wilder recursion replayed by a
    * recursive-CTE oracle over the same bar aggregate). */
  // ATR-14 over daily bars: OHLC are selections of raw doubles, the TR
  // CASE replays Spark's fixed IEEE assembly, and the Wilder recursion
  // (alpha = 1/14, seeded from the first TR) steps through a recursive
  // CTE exactly like the RSI/MACD oracles
  spec("q_atr", """WITH RECURSIVE b AS (
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
        |FROM r""".stripMargin) { (s, dir) =>
    val bars = eventsTsdf(s, dir, "user_id", col("value"))
      .calcBars("1 day", Seq("value")).df
    Stats.atr(bars, "ts", Seq("user_id"),
        "high_value", "low_value", "close_value", n = 14)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("high_value"), col("low_value"), col("close_value"),
        col("tr"), col("atr"))
  }

  /** Stochastic %K/%D replay (shared by the batch query and its streaming
    * twin). */
  private lazy val stochasticSql =
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

  /** Stochastic oscillator %K(14)/%D(3) per user on the raw event series. */
  // stochastic %K(14)/%D(3): ll/hh are frame selections, %K one
  // fixed-order expression, %D an explicit left-to-right 3-term sum —
  // null while lags are missing, null %K on flat frames (shared by the
  // streaming twin)
  spec("q_stochastic", stochasticSql) { (s, dir) =>
    Stats.stochastic(
        events(s, dir).select(col("user_id"), col("ts"), col("value")),
        "ts", "value", Seq("user_id"), window = 14)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("pct_k"), col("pct_d"))
  }

  /** On-balance volume over daily bars per user: close = last value of the
    * day, volume = event count (exact BIGINT accumulation). */
  // OBV over daily bars: signed exact-BIGINT volume accumulation; the
  // close comparison runs on raw doubles (selections are engine-exact)
  spec("q_obv", """WITH b AS (
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
        |FROM s""".stripMargin) { (s, dir) =>
    val bars = events(s, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).alias("ts"))
      .agg(max_by(col("value"), col("ts")).alias("close_value"),
        count(lit(1)).alias("volume"))
    Stats.obv(bars, "ts", Seq("user_id"), "close_value", "volume")
      .select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("close_value"), col("volume"), col("obv"))
  }

  /** Donchian(20) channel replay (shared by the batch query and its
    * streaming twin). */
  private lazy val donchianSql =
    """WITH t AS (
      |SELECT user_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS x
      |FROM events)
      |SELECT user_id, ts_us, x AS value,
      |max(x) OVER w AS dc_upper, min(x) OVER w AS dc_lower,
      |(max(x) OVER w + min(x) OVER w) / 2.0 AS dc_mid
      |FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
      |  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Donchian channels (20) per user on the raw event series. */
  // Donchian(20): upper/lower are frame selections, mid one fixed-order
  // IEEE expression — partial head frames, like the Spark side (shared
  // by the streaming twin)
  spec("q_donchian", donchianSql) { (s, dir) =>
    Stats.donchian(
        events(s, dir).select(col("user_id"), col("ts"), col("value")),
        "ts", "value", Seq("user_id"), window = 20)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("dc_upper"), col("dc_lower"), col("dc_mid"))
  }

  /** Williams %R(14) per user on the raw event series. */
  // Williams %R(14): hh/ll selections, %R one fixed-order expression,
  // null on flat frames
  spec("q_williams_r", """WITH t AS (
        |SELECT user_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS x
        |FROM events),
        |m AS (
        |SELECT user_id, ts_us, x,
        |min(x) OVER w AS ll, max(x) OVER w AS hh
        |FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, ts_us, x AS value,
        |CASE WHEN hh <> ll THEN -100.0 * (hh - x) / (hh - ll) END AS pct_r
        |FROM m""".stripMargin) { (s, dir) =>
    Stats.williamsR(
        events(s, dir).select(col("user_id"), col("ts"), col("value")),
        "ts", "value", Seq("user_id"), window = 14)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("pct_r"))
  }

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

  private lazy val holtWintersSql: String = holtWintersRec(
    """b0 AS (
      |SELECT user_id, date_trunc('hour', ts) AS h,
      |avg(round(value * 100)) AS x FROM events GROUP BY 1, 2),
      |b AS (SELECT user_id, epoch_us(h) AS ts_us, x,
      |row_number() OVER (PARTITION BY user_id ORDER BY h) AS rn
      |FROM b0)""".stripMargin)

  /** Additive Holt-Winters (α=.5, β=.25, γ=.5, m=24) on hourly mean-cents
    * bars per user — null through the first 24 bars (the warm-up
    * season). */
  // additive Holt-Winters over hourly bars: recursive-CTE replay with a
  // rotated LIST seasonal ring (see holtWintersSql); the streaming twin
  // runs the same recursion on the raw per-user series
  spec("q_holt_winters", holtWintersSql) { (s, dir) =>
    val bars = events(s, dir)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).alias("ts"))
      .agg(avg(cents(col("value"))).alias("x"))
    Stats.holtWinters(bars, "ts", "x", Seq("user_id"),
        alpha = 0.5, beta = 0.25, gamma = 0.5, m = 24)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("x"),
        col("hw_level"), col("hw_trend"), col("hw_seasonal"))
  }

  /** SAX symbols over 20-row segments of each user's cents series,
    * alphabet 4. */
  // SAX(20, 4): exact integer segment sums, moment-sum z-scores, CASE
  // binning at the equiprobable breakpoints; null z/symbol for
  // 1-segment or constant series
  spec("q_sax", s"""WITH t AS (
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
         |END AS symbol FROM z""".stripMargin) { (s, dir) =>
    Stats.sax(
        events(s, dir).select(col("user_id"), col("ts"),
          cents(col("value")).cast(LongType).alias("c")),
        "ts", "c", Seq("user_id"), segmentRows = 20, alphabet = 4)
      .select(col("user_id"), col("segment"), col("start_ts_us"),
        col("n_rows"), col("seg_sum"), col("z"), col("symbol"))
  }

  /** SAX motif discovery ([[graft.tsdf.Stats.saxMotifs]]): each user's
    * best non-overlapping repeated 4-word motif — candidates bucketed by
    * (user, SAX word), verified by the exact integer distance over the
    * aligned segment sums, best pair under the (dist², p1, p2) total
    * order. The symbolic-sketch-then-exact-verify discipline on the
    * time-series side. */
  // SAX motif replay: the q_sax chain at (5, 4), 3-symbol words by
  // lead(), the 64-position cap per (user, word), non-overlapping pair
  // join, exact integer dist², best pair under the (dist², p1, p2)
  // total order.
  spec("q_sax_motifs", s"""WITH t AS (
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
        .stripMargin) { (s, dir) =>
    Stats.saxMotifs(
        events(s, dir).select(col("user_id"), col("ts"),
          cents(col("value")).cast(LongType).alias("c")),
        "ts", "c", Seq("user_id"), segmentRows = 5, alphabet = 4,
        wordLen = 3, maxPerWord = 64)
      .select(col("user_id"), col("word"), col("p1"), col("p2"),
        col("dist2"))
  }

  /** 10-row rate-of-change and momentum per user. */
  // 10-row ROC/momentum: raw-double lag subtraction + one fixed-order
  // expression; roc null while the lag is missing or the base is zero
  spec("q_roc", """WITH t AS (
        |SELECT user_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS x
        |FROM events),
        |l AS (
        |SELECT user_id, ts_us, x,
        |lag(x, 10) OVER (PARTITION BY user_id ORDER BY ts_us) AS px FROM t)
        |SELECT user_id, ts_us, x AS value, x - px AS momentum,
        |CASE WHEN px <> 0.0 THEN 100.0 * (x - px) / px END AS roc
        |FROM l""".stripMargin) { (s, dir) =>
    Stats.rocMomentum(
        events(s, dir).select(col("user_id"), col("ts"), col("value")),
        "ts", "value", Seq("user_id"), n = 10)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("momentum"), col("roc"))
  }

  /** Strict local maxima within ±3 rows per user. */
  // strict local maxima within ±3 rows: bounded max frames are
  // order-independent; endpoints can be peaks (missing side = -inf),
  // plateaus never qualify, single-row series get a null excess
  spec("q_peaks", """WITH t AS (
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
        |  AND x > coalesce(mr, CAST('-infinity' AS DOUBLE))""".stripMargin) { (s, dir) =>
    graft.tsdf.Stats.peaks(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "ts", "value", Seq("user_id"), w = 3, tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("value"), col("excess"))
  }

  /** CCF between hourly activity (row count) and hourly value totals per
    * user at lags −2..2 — does activity lead value or trail it? Both
    * metrics exact integers over one resample + one series exchange. */
  // CCF at lags -2..2 between hourly cent totals (x) and hourly row
  // counts (y) per user: exact BIGINT sums, acf-style fixed assembly
  spec("q_ccf", {
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
    }) { (s, dir) =>
    val hourly = events(s, dir)
      .groupBy(col("user_id"),
        date_trunc("hour", col("ts")).alias("ts"))
      .agg(sum(cents(col("value")).cast(LongType)).alias("xc"),
        count(lit(1)).alias("yn"))
    graft.tsdf.Stats.ccf(hourly, "ts", "xc", "yn", Seq("user_id"), maxLag = 2)
  }

  /** 5-row rolling median replay, shared by the batch window query and its
    * single-batch streaming twin. */
  private lazy val rollMedSql: String =
    """WITH l AS (SELECT user_id, epoch_us(ts) AS ts_us, value,
      |  list_sort(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS fr
      |  FROM events)
      |SELECT user_id, ts_us, value,
      |  fr[CAST(greatest(1, CAST(ceil(len(fr) / 2.0) AS BIGINT)) AS BIGINT)]
      |    AS rolling_median_value
      |FROM l""".stripMargin

  /** Exact 5-row rolling median per user (lower-median rank convention). */
  // 5-row rolling median: frame multiset -> sort -> lower-median rank
  spec("q_rolling_median", rollMedSql) { (s, dir) =>
    graft.tsdf.Stats.rollingMedian(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "ts", "value", Seq("user_id"), window = 5, tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("rolling_median_value"))
  }

  /** Observation gaps longer than 6 hours per user. */
  // gaps > 6h between consecutive observations; exact integer-us filter
  spec("q_gaps", """WITH l AS (SELECT user_id, ts, epoch_us(ts) AS us,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        |  FROM events)
        |SELECT user_id, epoch_us(pts) AS gap_start_us, us AS gap_end_us,
        |  CAST(us - epoch_us(pts) AS DOUBLE) / 1000000 AS gap_seconds
        |FROM l WHERE pts IS NOT NULL AND us - epoch_us(pts) > 21600000000""".stripMargin) { (s, dir) =>
    graft.tsdf.Stats.gaps(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id")),
      "ts", Seq("user_id"), minGapSeconds = 21600L, tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("gap_start")).alias("gap_start_us"),
        usec(col("gap_end")).alias("gap_end_us"), col("gap_seconds"))
  }

  spec("q_state_intervals", """WITH x AS (SELECT user_id, ts, (value >= 10.0) AS high FROM events),
        |y AS (SELECT user_id, ts, high, lag(ts) OVER w AS pts, lag(high) OVER w AS ph
        |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |z AS (SELECT user_id, ts, pts, NOT (high = ph) AS chg FROM y WHERE pts IS NOT NULL),
        |i AS (SELECT user_id, ts, pts, chg, sum(CASE WHEN chg THEN 1 ELSE 0 END) OVER
        |  (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM z)
        |SELECT user_id, epoch_us(min(pts)) AS start_us, epoch_us(max(ts)) AS end_us
        |FROM i WHERE NOT chg GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
    val base = events(s, dir).select(col("user_id"), col("ts"),
      (col("value") >= 10.0).alias("high"))
    TSDF(base, "ts", Seq("user_id"))
      .extractStateIntervals(Seq("high"))
      .select(col("user_id"), usec(col("start_ts")).alias("start_us"),
        usec(col("end_ts")).alias("end_us"))
  }

  spec("q_bars", """SELECT user_id, epoch_us(date_trunc('day', ts)) AS ts_us,
        |min_by(value, ts) AS open_value, max(value) AS high_value,
        |min(value) AS low_value, max_by(value, ts) AS close_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    eventsTsdf(s, dir, "user_id", col("value"))
      .calcBars("1 day", Seq("value"))
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("open_value"), col("high_value"), col("low_value"), col("close_value"))
  }

  spec("q_time_horizon", """WITH g AS (SELECT user_id, min(ts) AS mn, max(ts) AS mx, count(*) AS actual_rows
        |  FROM events GROUP BY 1),
        |e AS (SELECT user_id, mn, mx, actual_rows,
        |  epoch_ms(mn) AS mnm, epoch_ms(mx) AS mxm FROM g),
        |r AS (SELECT user_id, mn, mx, actual_rows,
        |  mnm - mnm % 3600000 AS rmin, mxm - mxm % 3600000 AS rmax FROM e)
        |SELECT user_id, epoch_us(mn) AS min_ts_us, epoch_us(mx) AS max_ts_us,
        |  actual_rows, (rmax - rmin) / 3600000 + 1 AS num_values
        |FROM r""".stripMargin) { (s, dir) =>
    TSDF(events(s, dir).select("user_id", "ts"), "ts", Seq("user_id"))
      .timeHorizonPerSeries("1 hour")
      .select(col("user_id"), usec(col("min_ts")).alias("min_ts_us"),
        usec(col("max_ts")).alias("max_ts_us"), col("actual_rows"), col("num_values"))
  }

  /** Full describe() output (all six summary rows — mean/stddev render as
    * deterministic fixed-4-decimal strings, so no row filter is needed). The
    * ts_dbl helper column stays excluded: its min/max stringify in
    * engine-specific scientific notation. */
  spec("q_describe", {
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
    }) { (s, dir) =>
    TSDF(events(s, dir), "ts", Seq("user_id")).describe()
      .select(col("summary"), col("unique_time_series_count"), col("min_ts"),
        col("max_ts"), col("granularity"),
        col("event_id"), col("user_id"), col("event_type"), col("value"))
  }

  /** Nanosecond path end-to-end: raw TIMESTAMP(NANOS) longs → 9-digit
    * fractional strings → parseNanosTimestamp double epoch → as-of join on
    * the double ts (the reference's nanos trade: double keeps ~µs-accurate
    * ordering for current epochs while carrying the parsed nanos digits). */
  spec("q_asof_nanos", """WITH e AS (SELECT user_id, event_type, event_id, value,
        |  epoch_ns(ts) // 1000000000 +
        |  CAST('0.' || lpad(CAST(epoch_ns(ts) % 1000000000 AS VARCHAR), 9, '0') AS DOUBLE) AS dts
        |  FROM events)
        |SELECT l.user_id, l.dts AS double_ts, l.event_id,
        |  r.dts AS right_double_ts, r.value AS right_value
        |FROM (SELECT user_id, dts, event_id FROM e WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, dts, value FROM e WHERE event_type = 'purchase') r
        |ON l.user_id = r.user_id AND l.dts >= r.dts""".stripMargin) { (s, dir) =>
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw0 = tbl(s, dir, "events")
    // normalize either raw-nanos longs (pre-r9 testdata) or TIMESTAMP(MICROS)
    // (r9+) to a single __ts_ns long column; sub-µs digits are zeroed either
    // way (DuckDB truncates parquet nanos to µs on read), so the 9-digit
    // parse path is exercised identically
    val raw = raw0.schema("ts").dataType match {
      case LongType => raw0.withColumn("__ts_ns", col("ts"))
      case _ => raw0.withColumn("__ts_ns",
        unix_micros(col("ts").cast(TimestampType)) * 1000)
    }
    val tsStr = concat(
      date_format(timestamp_micros(expr("__ts_ns div 1000")), "yyyy-MM-dd HH:mm:ss"),
      lit("."), lpad(expr("__ts_ns % 1000000000 div 1000 * 1000").cast(StringType), 9, "0"))
    val parsed = TSDF.parseNanosTimestamp(
      raw.select(col("user_id"), col("event_type"), col("event_id"), col("value"),
        tsStr.alias("ts_str")),
      "ts_str", parsedTsCol = "parsed_ts", doubleTsCol = "double_ts")
    val left = TSDF(parsed.filter(col("event_type") === "click")
      .select("user_id", "double_ts", "event_id"), "double_ts", Seq("user_id"))
    val right = TSDF(parsed.filter(col("event_type") === "purchase")
      .select("user_id", "double_ts", "value"), "double_ts", Seq("user_id"))
    left.asofJoin(right).df
      .select(col("user_id"), col("double_ts"), col("event_id"),
        col("right_double_ts"), col("right_value"))
  }

  /** Streaming Holt as a REAL single-batch streaming query — bit-identical
    * to the batch window aggregate by construction, so it shares
    * q_holt_exact's recursive-CTE oracle. */
  // single-batch streaming Holt: bit-identical to the batch window
  // aggregate, same recursive-CTE replay
  spec("q_stream_holt", holtSql) { (s0, dir) =>
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.holt(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value", alpha = 0.5, beta = 0.25)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("holt_level_value"), col("holt_trend_value"))
  }

  /** Streaming Kalman as a single-batch streaming query — shares
    * q_kalman's recursive-CTE oracle (same IEEE recursion). */
  // single-batch streaming Kalman: bit-identical to the batch window
  // aggregate, same recursive-CTE replay
  spec("q_stream_kalman", kalmanSql) { (s0, dir) =>
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.kalmanLevel(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value", q = 0.25, r = 4.0)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("kalman_level_value"), col("kalman_var_value"),
      col("kalman_gain_value"))
  }

  /** Streaming rolling median as a single-batch streaming query — shares
    * q_rolling_median's oracle (same frame multiset + rank convention;
    * events' per-user timestamps are unique, so ordering agrees). */
  // single-batch streaming rolling median: same frame multiset + rank
  spec("q_stream_rollmed", rollMedSql) { (s0, dir) =>
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.rollingMedian(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value", window = 5)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("rolling_median_value"))
  }

  /** Stream-stream tolerance join as a REAL streaming query: clicks and
    * purchases arrive through two file-source streams in one AvailableNow
    * batch, the watermarked join runs to completion into a parquet sink.
    * Single-batch execution makes the result equal the batch range join by
    * construction, so the DuckDB oracle replays it exactly; multi-batch
    * randomized equivalence lives in StreamingBatchDifferentialSpec. */
  spec("q_stream_tolerance_join", """SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id, l.value,
        |  epoch_us(r.ts) AS right_ts_us, r.value AS right_value
        |FROM (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click') l
        |JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        |ON l.user_id = r.user_id AND r.ts <= l.ts
        |  AND r.ts >= l.ts - INTERVAL 1 HOUR""".stripMargin) { (s0, dir) =>
    val s = streamSession(s0)
    val clicks = eventsStream(s, dir).filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val purchases = eventsStream(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val out = graft.streaming.StreamingTSDF.toleranceJoin(
      clicks, purchases,
      "ts", Seq("user_id"), Seq("value"), tolerance = "1 hour")
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("event_id"), col("value"), usec(col("right_ts")).alias("right_ts_us"),
      col("right_value"))
  }

  /** Hour-of-day seasonal decomposition of per-user hourly cent totals
    * (freq = 1 hour, period = 24): phase mean from exact integer sums,
    * deseasonalized = total − phase_mean. */
  // hour-of-day seasonal decomposition: hourly cent totals (exact
  // BIGINT), phase mean = one sum/count division, deseasonalized = one
  // further subtraction — both fixed IEEE ops
  spec("q_seasonal", """WITH b AS (SELECT user_id, date_trunc('hour', ts) AS bts,
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
        |FROM bp JOIN p ON p.user_id = bp.user_id AND p.phase = bp.phase""".stripMargin) { (s, dir) =>
    graft.tsdf.Stats.seasonalAdjust(
      events(s, dir).select(col("user_id"), col("ts"),
        cents(col("value")).alias("vc")),
      "ts", "vc", Seq("user_id"), freq = "1 hour", period = 24)
      .select(col("user_id"), usec(col("bucket_ts")).alias("bucket_ts_us"),
        col("phase"), col("total"), col("phase_mean"), col("deseasonalized"))
  }

  /** Robust scaling of event values per user: (x − median) / IQR with
    * exact selected quantiles (nulls where IQR = 0). */
  // robust scaling: median/quartiles are SELECTED multiset members
  // (lower rank convention), the scale expression two fixed IEEE ops
  spec("q_robust_scale", """WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
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
        |FROM t JOIN q ON q.user_id = t.user_id""".stripMargin) { (s, dir) =>
    graft.tsdf.Stats.robustScale(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "value", Seq("user_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("value"), col("value_robust"))
  }

  /** Top-3 power-spectrum bins per user: power from the SAME quantized
    * cents as q_fourier (rc² + ic² — exact integers, so the ranking is
    * engine-deterministic), positive frequencies only, ties by freq. */
  // top-3 periodogram bins: power from the SAME quantized cents as
  // q_fourier (rc² + ic² exact integers), so the per-user ranking is
  // engine-deterministic; positive freqs only, ties by freq
  spec("q_spectrum", """WITH x AS (SELECT user_id, ts, value,
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
        |FROM r WHERE rn <= 3""".stripMargin) { (s, dir) =>
    val f = eventsTsdf(s, dir, "user_id", col("value"))
      .fourierTransform(timestep = 1.0, valueCol = "value")
      .df.select(col("user_id"), col("freq"),
        floor(col("ft_real") * 100 + 0.25).cast(LongType).alias("__rc"),
        floor(col("ft_imag") * 100 + 0.25).cast(LongType).alias("__ic"))
      .filter(col("freq") > 0)
      .withColumn("power_c",
        col("__rc") * col("__rc") + col("__ic") * col("__ic"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("power_c").desc, col("freq").asc)
    f.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("user_id"), col("rank").cast(LongType).alias("rank"),
        col("freq"), col("power_c"))
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

  /** t-closeness release gate over (event_type, hour) quasi groups with
    * the value OCTILE (floor(value/64), exact: 64 is a power of two) as
    * the ordered sensitive attribute — all-integer EMD numerator, one
    * terminal division. */
  /** DTW behavioral-shape distance ([[graft.tsdf.Dtw]]): consecutive-id
    * user pairs in a bounded anchor set, each user's hour-of-day
    * cent-sum profile; the elastic distance runs as ONE nested-HOF
    * integer DP per pair (pure Column expression, no UDF) and the
    * oracle replays it as the identical nested DuckDB list_reduce. */
  // t-closeness replay: the all-integer EMD numerator (c·N − C·n_g
  // cumulated in sensitive order, absolute values summed) and the one
  // terminal division — HUGEINT intermediates in DuckDB, longs in
  // Spark, identical below 2^63
  // DTW replay (shared SQL below): q_stream_dtw shares it verbatim —
  // the per-(user, hour) sum deltas are additive and fold to the
  // identical profiles.
  spec("q_dtw", dtwSql) { (s, dir) =>
    val e = events(s, dir)
      .filter(col("user_id") < 40 && col("value").isNotNull)
      .select(col("user_id"), col("ts"), cents(col("value")).alias("v"))
    val prof = graft.tsdf.Dtw.hourOfDayProfiles(
      e, "user_id", col("ts"), col("v"))
    val a = prof.select(col("user_id").alias("user_a"),
      col("profile").alias("__pa"))
    val b = prof.select(col("user_id").alias("user_b"),
      col("profile").alias("__pb"))
    a.join(b, col("user_b") === col("user_a") + 1)
      .select(col("user_a"), col("user_b"),
        graft.tsdf.Dtw.dtwDistance(col("__pa"), col("__pb")).alias("dtw"))
  }

  /** LTTB shape-preserving downsample to 16 points per user
    * ([[graft.functions.LttbSelect]] — deterministic integer buckets +
    * fixed-IEEE triangle areas; the oracle replays the sequential
    * selection as a recursive candidate-scan CTE). */
  // LTTB replay: the per-bucket argmax is sequential (each kept point
  // feeds the next bucket's triangle areas), so the CTE scans ONE
  // candidate per recursion step carrying (prev kept point, best-so-far
  // of the current bucket); a bucket boundary commits the best as the
  // new kept point. Identical integer bucket math, exact-integer
  // centroids, fixed-IEEE areas, strict-> tie-keeps-earliest.
  spec("q_lttb", """WITH RECURSIVE pts AS (
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
        |UNION ALL SELECT user_id, x, y FROM lastp""".stripMargin) { (s, dir) =>
    val pts = events(s, dir).select(col("user_id"),
      struct(usec(col("ts")).alias("x"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast(LongType)
          .alias("y")).alias("p"))
    pts.groupBy(col("user_id"))
      .agg(array_sort(collect_list(col("p"))).alias("ps"))
      .select(col("user_id"),
        explode(org.apache.spark.sql.GraftColumns.column(
          graft.functions.LttbSelect(
            org.apache.spark.sql.GraftColumns.expression(col("ps")), 16)))
          .alias("p"))
      .select(col("user_id"), col("p.x").alias("x"), col("p.y").alias("y"))
  }

  /** Exact trailing-20-row p90 per user (lower rank convention). */
  // exact trailing-window p90: selection at rank ceil(0.9·n) from the
  // sorted 20-row frame list
  spec("q_rolling_p90", """WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  CAST(value AS DOUBLE) AS x FROM events),
        |f AS (SELECT user_id, ts_us, event_id, x,
        |  list_sort(list(x) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) AS fr FROM t)
        |SELECT user_id, ts_us, event_id, x AS value,
        |  fr[CAST(greatest(1, ceil(0.9 * len(fr))) AS INTEGER)]
        |    AS rolling_p90_value
        |FROM f""".stripMargin) { (s, dir) =>
    graft.tsdf.Stats.rollingQuantile(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "ts", "value", Seq("user_id"), window = 20, p = 0.9,
      tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("value"), col("rolling_p90_value"))
  }

  /** Per-session rollup over 30-minute inactivity sessions: span, event
    * count, purchases, exact cent totals — the composition of sessionize +
    * one aggregate every clickstream pipeline runs. */
  // per-session rollup over the q_sessionize assignment: exact integer
  // spans/counts/cents
  spec("q_session_stats", """WITH l AS (SELECT user_id, epoch_us(ts) AS ts_us, ts, event_type,
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
        |FROM a GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    graft.tsdf.Sessionize.assign(
      events(s, dir).select(col("user_id"), col("ts"), col("event_type"),
        col("value")),
      "ts", Seq("user_id"), gapSeconds = 1800)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(usec(col("ts"))).alias("start_us"),
        max(usec(col("ts"))).alias("end_us"),
        count(lit(1)).alias("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .alias("n_purchases"),
        sum(cents(col("value")).cast(LongType)).alias("total_cents"))
      .withColumn("duration_s",
        expr("(end_us - start_us) div 1000000"))
  }

  /** One-scan multi-granularity rollup: (event_type, day, hour) leaves
    * plus per-day, per-type and grand-total levels from a single expand
    * + aggregate, levels tagged by the SQL-standard grouping bitmask. */
  // l-diversity: exact distinct-sensitive counts per quasi group,
  // joined back row-level. Null-safe LEFT join + NULL-sensitive
  // exclusion mirror Pii.lDiversity's explicit NULL policy.
  // Rollup replay: GROUP BY ROLLUP with the SQL-standard GROUPING
  // bitmask (verified identical to Spark's grouping_id convention)
  spec("q_time_rollup", """WITH t AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS day,
        |  (epoch_us(ts) % 86400000000) // 3600000000 AS hr,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_type, day, hr,
        |  CAST(GROUPING(event_type, day, hr) AS BIGINT) AS gid,
        |  count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM t GROUP BY ROLLUP(event_type, day, hr)""".stripMargin) { (s, dir) =>
    graft.pipeline.Analytics.timeRollup(
      events(s, dir), "ts", Seq("event_type"), cents(col("value")))
      .select(col("event_type"), col("day"), col("hr"), col("gid"),
        col("n_events"), col("sum_cents"))
  }

  /** Inter-arrival gap statistics per user: mean gap + coefficient of
    * variation from exact second-quantized BIGINT moment sums. */
  // inter-arrival stats: second-quantized exact BIGINT moment sums,
  // fixed IEEE mean/sd/cv assembly (sqrt is correctly rounded)
  spec("q_interarrival", """WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS tu,
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
        |FROM a""".stripMargin) { (s, dir) =>
    graft.pipeline.Analytics.interArrival(events(s, dir), "ts",
      Seq("user_id"), tieCols = Seq("event_id"))
  }

  /** EW mean/variance recursion (shared by the batch query and its
    * streaming twin). */
  private lazy val ewmVarSql =
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

  /** EW mean + variance (RiskMetrics volatility), α = 0.25; recursive-CTE
    * oracle replays the one-pass recursion bit-for-bit. */
  spec("q_ewm_var", ewmVarSql) { (s, dir) =>
    eventsTsdf(s, dir, "user_id", col("value"))
      .ewmVolatility("value", alpha = 0.25)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("ewm_mean_value"), col("ewm_var_value"))
  }

  /** Hampel despike (±3 rows, k = 3): replace with the frame median when
    * more than k·MAD away — exact selections, fixed IEEE comparisons. */
  // Hampel despike: frame median and MAD are exact selections from the
  // sorted ±3 frame list; k·MAD comparison is fixed IEEE arithmetic
  spec("q_hampel", """WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
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
        |FROM d""".stripMargin) { (s, dir) =>
    graft.tsdf.Stats.hampel(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "ts", "value", Seq("user_id"), w = 3, k = 3.0,
      tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("value"), col("value_spike"), col("value_hampel"))
  }

  /** Streaming EW mean/variance twin — shares q_ewm_var's recursive-CTE
    * oracle (same IEEE recursion, same columns). */
  spec("q_stream_ewm_var", ewmVarSql) { (s0, dir) =>
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.ewmVolatility(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value", alpha = 0.25)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("ewm_mean_value"), col("ewm_var_value"))
  }

  /** Streaming Wilder RSI twin — shares q_rsi's recursive-CTE oracle. */
  spec("q_stream_rsi", rsiSql) { (s0, dir) =>
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.rsi(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value", n = 14)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("rsi_value"))
  }

  /** Streaming MACD twin — shares q_macd's recursive-CTE oracle. */
  spec("q_stream_macd", macdSql) { (s0, dir) =>
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.macd(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value")
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("macd_value"), col("macd_signal_value"),
      col("macd_hist_value"))
  }

  /** Streaming threshold-crossing twin — shares q_threshold_cross's oracle
    * (event timestamps are unique per user, so the tie column the batch
    * query carries is inert). */
  spec("q_stream_threshold", thresholdCrossSql) { (s0, dir) =>
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.thresholdCrossings(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value", threshold = 50.0)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      usec(col("prev_ts")).alias("prev_ts_us"), col("prev_value"),
      col("value"), col("direction"))
  }

  /** Streaming Donchian-channel twin — shares q_donchian's oracle. */
  spec("q_stream_donchian", donchianSql) { (s0, dir) =>
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.donchian(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value", window = 20)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("dc_upper"), col("dc_lower"), col("dc_mid"))
  }

  /** The same Holt-Winters recursion over the RAW per-user event series
    * (the streaming twin's input — no bar aggregation upstream of the
    * stateful operator). */
  private lazy val holtWintersRawSql: String = holtWintersRec(
    """b AS (
      |SELECT user_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS x,
      |row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      |FROM events)""".stripMargin)

  /** Streaming Holt-Winters twin on the raw per-user series (m=24) —
    * oracle is the same recursion replayed over raw values. */
  spec("q_stream_hw", holtWintersRawSql) { (s0, dir) =>
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.holtWinters(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value",
      alpha = 0.5, beta = 0.25, gamma = 0.5, m = 24)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value").alias("x"), col("hw_level"), col("hw_trend"),
      col("hw_seasonal"))
  }

  /** Streaming stochastic-oscillator twin — shares q_stochastic's oracle. */
  spec("q_stream_stochastic", stochasticSql) { (s0, dir) =>
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.stochastic(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value", window = 14)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("pct_k"), col("pct_d"))
  }

  /** Streaming drawdown as a single-batch streaming query — running max is
    * order-independent, so the twin shares q_drawdown's math on the
    * unique-per-user event timestamps. */
  // streaming drawdown twin: running max per user over unique-per-user
  // event timestamps — same math as q_drawdown, no tie column needed
  spec("q_stream_drawdown", """WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |  CAST(value AS DOUBLE) AS x,
        |  max(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id
        |    ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |FROM events)
        |SELECT user_id, ts_us, x AS value, peak AS peak_value,
        |  peak - x AS drawdown_value FROM t""".stripMargin) { (s0, dir) =>
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.drawdown(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value")
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("peak_value"), col("drawdown_value"))
  }

  /** Per-training-sequence fill report from the same packing pass. */
  // per-sequence fill report: the q_pack_sequences CTE + one groupBy
  spec("q_seq_fill", {
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
    }) { (s, dir) =>
    graft.pipeline.Packing.sequenceFill(
      docs(s, dir), "text", "doc_id", Seq("source"), capacity = 2048)
  }

  // median/MAD anomaly summary: both medians by the same lower-rank
  // convention as q_quantiles; dev/threshold arithmetic is the identical
  // IEEE op sequence in both engines
  spec("q_anomaly_mad", s"""WITH r AS (SELECT user_id, value,
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
         |FROM m2 GROUP BY user_id""".stripMargin) { (s, dir) =>
    graft.tsdf.Stats.robustAnomalies(
      events(s, dir).select(col("user_id"), col("value")),
      "value", Seq("user_id"), k = 3.0)
  }

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

  /** Per-series autocorrelation at lags 1..3 of the cent-quantized value —
    * exact BIGINT moment sums assembled into the ACF ratio in one fixed
    * operation order, so the doubles replay bit-for-bit in DuckDB. */
  // ACF replay: the BIGINT moment sums (DuckDB promotes sum() to HUGEINT;
  // the integer values are identical) assembled with the same operation
  // order as Stats.acf — mu, then den = s2 − 2·mu·s + n·mu², then
  // num_l = sxy_l − mu·(sx_l + sy_l) + nl_l·mu².
  spec("q_acf", acfSql) { (s, dir) =>
    graft.tsdf.Stats.acf(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", "vc", Seq("user_id"), maxLag = 3, tieCols = Seq("event_id"))
  }

  /** Durbin–Levinson PACF over the q_acf estimates
    * ([[graft.tsdf.Stats.pacf]]): the recursion unrolled into one shared
    * expression string both engines parse. */
  // PACF replay: pivot the acf rows to one row per series, then the
  // IDENTICAL unrolled Durbin-Levinson expression strings the Spark
  // side parses (Stats.pacfExprStrings) — same text, same op tree,
  // bit-identical doubles
  spec("q_pacf", {
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
    }) { (s, dir) =>
    graft.tsdf.Stats.pacf(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", "vc", Seq("user_id"), maxLag = 3, tieCols = Seq("event_id"))
  }

  /** Calendar covariates from exact integer epoch-µs arithmetic. */
  // calendar features: sub-day fields from exact integer epoch-us
  // division, date fields from the shared proleptic-Gregorian functions
  spec("q_time_features", """SELECT event_id, epoch_us(ts) AS ts_us,
        |  CAST(year(ts) AS BIGINT) AS year,
        |  CAST(month(ts) AS BIGINT) AS month,
        |  CAST(day(ts) AS BIGINT) AS day,
        |  (CAST(month(ts) AS BIGINT) + 2) // 3 AS quarter,
        |  (epoch_us(ts) // 3600000000) % 24 AS hour,
        |  (epoch_us(ts) // 60000000) % 60 AS minute,
        |  ((epoch_us(ts) // 86400000000) + 3) % 7 AS dow,
        |  ((epoch_us(ts) // 86400000000) + 3) % 7 >= 5 AS is_weekend
        |FROM events""".stripMargin) { (s, dir) =>
    events(s, dir).select(col("event_id") +:
      usec(col("ts")).alias("ts_us") +:
      graft.tsdf.TimeFeatures.calendar(col("ts")): _*)
  }

  /** Per-user winsorization of the raw value at the exact 5th/95th
    * percentile bounds. */
  // winsorize: clip bounds via the q_quantiles rank convention, the clip
  // itself is pure selection (least/greatest), engine-exact
  spec("q_winsorize", """WITH r AS (SELECT user_id, ts, event_id, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY value) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n FROM events),
        |b AS (SELECT *,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * n) AS BIGINT))
        |    THEN value END) OVER (PARTITION BY user_id) AS lo,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
        |    THEN value END) OVER (PARTITION BY user_id) AS hi
        |  FROM r)
        |SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
        |  least(greatest(value, lo), hi) AS value_w FROM b""".stripMargin) { (s, dir) =>
    graft.tsdf.Stats.winsorize(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "value", Seq("user_id"), pLo = 0.05, pHi = 0.95)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("value"), col("value_w"))
  }

  /** Rolling trend correlation over the trailing 20 observations of the
    * cent-quantized value, per user. */
  // rolling trend correlation: exact BIGINT frame sums of (value, index),
  // r assembled in the same fixed operand order as Stats.rollingTrendCorr
  spec("q_rolling_corr", """WITH c AS (SELECT user_id, ts, event_id,
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
        |FROM r""".stripMargin) { (s, dir) =>
    graft.tsdf.Stats.rollingTrendCorr(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", "vc", Seq("user_id"), window = 20, tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("vc"), col("trend_corr_vc"))
  }

  /** CUSUM change-point per user: argmax_t |Σ_{i≤t} c_i − t·μ| over the
    * cent-quantized value, ties to the earliest row. */
  // CUSUM replay: exact BIGINT prefix sums; |S_t| = abs(cum − rn·mu) with
  // mu = s/n computed first, matching Stats.cusum's operand order.
  spec("q_cusum", """WITH c AS (SELECT user_id, ts, event_id,
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
        |FROM r WHERE pick = 1""".stripMargin) { (s, dir) =>
    graft.tsdf.Stats.cusum(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", "vc", Seq("user_id"), tieCols = Seq("event_id"))
      .select(col("user_id"), col("n"), col("cusum_max_abs"),
        usec(col("changepoint_ts")).alias("changepoint_ts_us"))
  }

  /** Page's CUSUM control chart per user vs a 50.00 target (cents: 5000),
    * slack 5.00, threshold 200.00 — both chart sides are exact BIGINTs
    * from the reflection-identity window plan. */
  // Page's CUSUM control chart: the clamped recursion unrolled by the
  // reflection identity S_t = P_t - min(0, min_j P_j) -- two exact
  // BIGINT window aggregates per side, no recursive CTE
  spec("q_cusum_control", """WITH c AS (SELECT user_id, ts, event_id,
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
        |FROM m""".stripMargin) { (s, dir) =>
    graft.tsdf.Stats.cusumControl(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", "vc", Seq("user_id"), target = 5000L, slack = 500L,
      threshold = 20000L, tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("vc"), col("cusum_hi"), col("cusum_lo"), col("alert"))
  }

  /** Streaming CUSUM control chart as a real single-batch streaming query —
    * the same exact integers as the batch plan by construction (per-user
    * timestamps are unique, so ordering agrees). */
  // streaming twin: same integers, no event_id in the projection
  // (per-user timestamps are unique, so the ordering agrees)
  spec("q_stream_cusum", """WITH c AS (SELECT user_id, ts,
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
        |FROM m""".stripMargin) { (s0, dir) =>
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.cusumControl(
      eventsStream(s, dir).select(col("user_id"), col("ts"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", Seq("user_id"), "vc", target = 5000L, slack = 500L,
      threshold = 20000L)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("vc"), col("cusum_hi"), col("cusum_lo"), col("alert"))
  }

  /** Streaming DTW: per-(user, hour-of-day) cent-sum DELTAS from the
    * ingest stream ([[graft.streaming.StreamingTSDF.sumDeltas]] — sums
    * are additive, so the fold equals the batch grouped sums for any
    * micro-batching), assembled into the same 24-slot profiles and run
    * through the same nested-HOF DP — behavioral-shape distances that
    * stay current as events arrive, sharing q_dtw's oracle verbatim. */
  spec("q_stream_dtw", dtwSql) { (s0, dir) =>
    val s = streamSession(s0)
    val ev = eventsStream(s, dir)
      .filter(col("user_id") < 40 && col("value").isNotNull)
    val deltas = graft.streaming.StreamingTSDF.sumDeltas(
      ev, Seq("user_id"), hour(col("ts")), cents(col("value")))
    val sums = runStream(s, deltas)
      .groupBy(col("user_id"), col("key"))
      .agg(sum(col("s")).alias("__s"))
    val prof = graft.tsdf.Dtw.profilesFromHourSums(
      sums, "user_id", col("key"), col("__s"))
    val a = prof.select(col("user_id").alias("user_a"),
      col("profile").alias("__pa"))
    val b = prof.select(col("user_id").alias("user_b"),
      col("profile").alias("__pb"))
    a.join(b, col("user_b") === col("user_a") + 1)
      .select(col("user_a"), col("user_b"),
        graft.tsdf.Dtw.dtwDistance(col("__pa"), col("__pb")).alias("dtw"))
  }

  /** Rolling OLS slope of the cent-quantized value over the trailing 20
    * observations, per user. */
  // rolling OLS slope: exact BIGINT frame sums, one fixed-order division
  spec("q_rolling_slope", """WITH c AS (SELECT user_id, ts, event_id,
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
        |FROM r""".stripMargin) { (s, dir) =>
    graft.tsdf.Stats.rollingSlope(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", "vc", Seq("user_id"), window = 20, tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("vc"), col("slope_vc"))
  }

  /** ft values are emitted as rounded cents: the FFT groups its float
    * additions differently from the oracle's O(n²) DFT, so raw doubles
    * differ in the last ulps; 2-decimal rounding absorbs that while still
    * validating the transform. The rounding bias is +0.25 (not +0.5): the
    * structured DFT bins (k = 0, n/2, n/4...) produce coefficients exactly
    * on the half-cent lattice, which IS the +0.5 bin edge — a +0.25 bias
    * puts every edge 0.0025 away from any attainable coefficient. `freq` =
    * k/(n·d) on exact integers is bit-identical unrounded. */
  // O(n²) DFT as ground truth for the FFT: X_k = Σ_j v_j·e^{-2πi·jk/n}.
  // ft values compare as rounded cents (the FFT sums floats in a different
  // order); freq = k/(n·1.0) on exact integers compares unrounded.
  spec("q_fourier", """WITH x AS (SELECT user_id, ts, value,
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
        |FROM d""".stripMargin) { (s, dir) =>
    eventsTsdf(s, dir, "user_id", col("value"))
      .fourierTransform(timestep = 1.0, valueCol = "value")
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("freq"),
        floor(col("ft_real") * 100 + 0.25).cast(LongType).alias("ft_real_c"),
        floor(col("ft_imag") * 100 + 0.25).cast(LongType).alias("ft_imag_c"))
  }

  /** The feature tensor is emitted as JSON of integer cents — an
    * array<array<double>> column is not hashable by the driver's comparator,
    * and integer payloads serialize identically in Spark and DuckDB. */
  spec("q_lookback", """WITH x AS (SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |f AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |  list([c]) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS fl
        |  FROM x)
        |SELECT user_id, ts_us, CAST(to_json(fl) AS VARCHAR) AS features
        |FROM f WHERE len(fl) = 3""".stripMargin) { (s, dir) =>
    eventsTsdf(s, dir, "user_id", cents(col("value")).alias("c"))
      .withLookbackFeatures(Seq("c"), lookbackWindowSize = 3)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        to_json(transform(col("features"),
          a => transform(a, x => x.cast(LongType)))).alias("features"))
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tsdf.{TSDF, Resample, Stats, Interpolation}
import graft.intervals.IntervalsDF
import graft.ml.TimeSeriesCrossValidator
import graft.pipeline.{Dedup, Similarity, TextAnalysis, Multimodal, Pii, Retrieval}

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2 + training-data pipeline ops), each with a DuckDB-runnable
  * oracle in `oracleSql` where SQL-expressible.
  *
  * Determinism strategy (the driver hash-compares values): float aggregates
  * are computed on integer-scaled metrics (cents / milli-units) whose sums
  * are exact in double regardless of summation order, timestamps are output
  * as integer epoch-µs, and scalar float expressions keep identical operation
  * order on both sides — so Spark and DuckDB produce bit-identical values.
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events.ts arrives either as parquet TIMESTAMP(NANOS) read as raw longs
    * (nanosAsLong, pre-r9 testdata) or as TIMESTAMP(MICROS) read as
    * TIMESTAMP_NTZ (r9+ testdata) — normalize both to a UTC-instant
    * TimestampType column (sessions pin timeZone=UTC, so the NTZ cast is
    * wall-clock-preserving and matches DuckDB's naive TIMESTAMP). */
  private def events(s: SparkSession, dir: String) = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = tbl(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  private def docs(s: SparkSession, dir: String) = tbl(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = tbl(s, dir, "embeddings")

  private val usec: Column => Column = c => unix_micros(c.cast(TimestampType))
  /** exact integer cents of a 2-decimal double (bit-reproducible sums) */
  private def cents(c: Column): Column = round(c * 100)

  private def eventsTsdf(s: SparkSession, dir: String, series: String,
      extraCols: Column*): TSDF = {
    val df = events(s, dir).select(col(series) +: col("ts") +: extraCols: _*)
    TSDF(df, "ts", Seq(series))
  }

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): as-of join of
    * click events against the prevailing purchase, per user. */
  def entry(spark: SparkSession): DataFrame =
    qAsof(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------ TSDF
  private def qSliceBetween(s: SparkSession, dir: String): DataFrame =
    TSDF(events(s, dir), "ts", Seq("user_id"))
      .between("2024-01-10 00:00:00", "2024-01-20 00:00:00")
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("event_id"), col("event_type"), col("value"))

  /** The point-slice family (at/before/after/atOrBefore/atOrAfter via
    * priorTo/subsequentTo/latest/earliest) in one tagged union. `at` anchors
    * on the global min ts (a one-row eager lookup, like the reference's
    * display helpers) so it provably matches rows. */
  private def qSliceOps(s: SparkSession, dir: String): DataFrame = {
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

  private def qLatestN(s: SparkSession, dir: String): DataFrame =
    TSDF(events(s, dir), "ts", Seq("user_id")).latest(3)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("event_id"), col("event_type"), col("value"))

  private def qEarliestN(s: SparkSession, dir: String): DataFrame =
    TSDF(events(s, dir), "ts", Seq("user_id")).earliest(2)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("event_id"), col("event_type"), col("value"))

  /** `select` invariant-keeping projection, `withPartitionCols` series
    * rebinding and `showSlice` top-k in one tagged union — §2 rows 6/13/15,
    * previously verified only by the sbt suite. `event_id` as sequenceCol
    * makes latest()'s tie-break deterministic in both engines. */
  private def qTsdfProjection(s: SparkSession, dir: String): DataFrame = {
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

  private def qAsof(s: SparkSession, dir: String): DataFrame =
    asofOut(clicks(s, dir).asofJoin(purchases(s, dir)).df)

  private def qAsofTolerance(s: SparkSession, dir: String): DataFrame =
    asofOut(clicks(s, dir).asofJoin(purchases(s, dir), tolerance = Some(3600.0)).df)

  private def qAsofBcast(s: SparkSession, dir: String): DataFrame =
    asofOut(clicks(s, dir).asofJoin(purchases(s, dir), sqlJoinOpt = true).df)

  private def qAsofSkew(s: SparkSession, dir: String): DataFrame =
    asofOut(clicks(s, dir)
      .asofJoin(purchases(s, dir), tsPartitionVal = Some(86400L), fraction = 0.5).df)

  /** Forward as-of: each click attaches the NEXT purchase (right.ts >= ts). */
  private def qAsofNext(s: SparkSession, dir: String): DataFrame =
    asofOut(clicks(s, dir).asofJoinNext(purchases(s, dir)).df)

  /** Nearest as-of: each click attaches the CLOSEST purchase in time,
    * backward winning ties. */
  private def qAsofNearest(s: SparkSession, dir: String): DataFrame =
    asofOut(clicks(s, dir).asofJoinNearest(purchases(s, dir)).df)

  private def qResampleAvg(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "event_type", cents(col("value")).alias("c"))
      .resample("1 hour", "mean")
      .df.select(col("event_type"), usec(col("ts")).alias("ts_us"),
        (col("c") / 100.0).alias("avg_value"))

  private def qResampleFloor(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "user_id", col("value"), col("event_id"))
      .resample("1 day", "floor")
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("value"), col("event_id"))

  private def qResampleCeil(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "user_id", col("value"), col("event_id"))
      .resample("1 day", "ceil")
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("value"), col("event_id"))

  /** Extreme-preserving decimation: per (user, hour) keep the rows with
    * the min and max value — ≤ 2 rows per bucket, ties by (value, ts). */
  private def qDownsampleMinmax(s: SparkSession, dir: String): DataFrame =
    Resample.downsampleMinMax(
      eventsTsdf(s, dir, "user_id", col("value"), col("event_id")),
      "1 hour", "value")
      .select(col("user_id"), usec(col("bucket_ts")).alias("bucket_us"),
        usec(col("ts")).alias("ts_us"), col("value"), col("event_id"))

  /** Per-bucket totals: sum of exact cents and row count per hour. */
  private def qResampleSum(s: SparkSession, dir: String): DataFrame = {
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
  private def qResampleMedian(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "user_id", cents(col("value")).cast(LongType).alias("vc"))
      .resample("1 day", "median")
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("vc").alias("median_vc"))

  /** Step-function TWAP per (user, 6 h bucket): exact integer-µs weights
    * over cent values, one double division per bucket. */
  private def qTwap(s: SparkSession, dir: String): DataFrame =
    Stats.twap(eventsTsdf(s, dir, "user_id",
        cents(col("value")).cast(LongType).alias("vc"), col("event_id")),
      "6 hours", "vc", tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("bucket_ts")).alias("bucket_us"),
        col("n_obs"), col("span_us"), col("twap"))

  /** Level-50 crossing report on the raw double values (comparisons
    * only — no quantization needed). */
  private def qThresholdCross(s: SparkSession, dir: String): DataFrame =
    Stats.thresholdCrossings(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "ts", "value", Seq("user_id"), threshold = 50.0,
      tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"),
        usec(col("prev_ts")).alias("prev_ts_us"), col("prev_value"),
        col("value"), col("direction"))

  /** Bollinger bands (window 20, k = 2) from exact BIGINT frame sums. */
  private def qBollinger(s: SparkSession, dir: String): DataFrame =
    Stats.rollingBands(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", "vc", Seq("user_id"), window = 20, k = 2.0,
      tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("vc"), col("bb_mid"), col("bb_upper"), col("bb_lower"))

  private def qUpsampleFill(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "event_type", cents(col("value")).alias("c"))
      .resample("1 hour", "mean", fill = true)
      .df.select(col("event_type"), usec(col("ts")).alias("ts_us"),
        (col("c") / 100.0).alias("avg_value"))

  private def interp(s: SparkSession, dir: String, method: String): DataFrame =
    eventsTsdf(s, dir, "user_id", cents(col("value")).alias("c"))
      .resample("1 hour", "mean")
      .interpolate(method, showInterpolated = true)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        (col("c") / 100.0).alias("value"),
        col("is_ts_interpolated"), col("is_interpolated_c").alias("is_interpolated_value"))

  private def qInterpLinear(s: SparkSession, dir: String): DataFrame = interp(s, dir, "linear")
  private def qInterpFfill(s: SparkSession, dir: String): DataFrame = interp(s, dir, "ffill")
  private def qInterpBfill(s: SparkSession, dir: String): DataFrame = interp(s, dir, "bfill")
  private def qInterpZero(s: SparkSession, dir: String): DataFrame = interp(s, dir, "zero")

  private def qRangeStats(s: SparkSession, dir: String): DataFrame =
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

  private def qGroupedStats(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "event_type", cents(col("value")).alias("c"))
      .withGroupedStats(Seq("c"), "1 hour")
      .df.select(col("event_type"), usec(col("ts")).alias("ts_us"),
        (col("mean_c") / 100.0).alias("mean_value"),
        col("count_c").alias("count_value"),
        (col("min_c") / 100.0).alias("min_value"),
        (col("max_c") / 100.0).alias("max_value"),
        (col("sum_c") / 100.0).alias("sum_value"),
        (col("stddev_c") / 100.0).alias("stddev_value"))

  private def qVwap(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_shipdate"), col("l_quantity"),
        cents(col("l_extendedprice")).alias("pc"))
    TSDF(li, "l_shipdate", Seq("l_returnflag"))
      .vwap("D", volumeCol = "l_quantity", priceCol = "pc")
      .df.select(col("l_returnflag"), usec(col("l_shipdate")).alias("ts_us"),
        (col("vwap") / 100.0).alias("vwap"),
        (col("max_pc") / 100.0).alias("max_price"))
  }

  private def qEma(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "user_id", col("value"))
      .ema("value", window = 5, expFactor = 0.2)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("ema_value"))

  /** Contamination check: near-dups between the corpus and a deterministic
    * "eval" subset (doc_id % 7 = 0) — overlapping docs pair with themselves
    * at jaccard 1.0 plus any genuine near-dups across the sides. */
  private def qContamination(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Dedup.crossCorpusNearDuplicates(
      docs(s, dir), docs(s, dir).filter(col("doc_id") % 7 === 0),
      "text", "doc_id", shingleWidth = 2, bands = 6, rowsPerBand = 3,
      threshold = 0.7)

  /** 80/10/10 deterministic train/val/test assignment over documents. */
  private def qSplitAssign(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Splits.assign(
      docs(s, dir).select("doc_id"), "doc_id", Seq(8, 1, 1))

  private def qSessionize(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "user_id", col("value"))
      .sessionize(gapSeconds = 1800)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("session_id"))

  private def qQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.quantiles(
      events(s, dir).select(col("user_id"), col("value")),
      "value", Seq("user_id"), Seq(0.5, 0.9, 0.99))

  private def qEmaExact(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "user_id", col("value"))
      .emaExact("value", alpha = 0.5)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("ema_exact_value"))

  /** Exact Holt level+trend smoothing (α=0.5, β=0.25 — exact binary
    * fractions, so the recursive-CTE oracle replays bit-for-bit). */
  private def qHoltExact(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "user_id", col("value"))
      .holtExact("value", alpha = 0.5, beta = 0.25)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("holt_level_value"), col("holt_trend_value"))

  /** 1-D local-level Kalman filter per user (q = 0.25, r = 4.0, p0 = r):
    * every step is a fixed-order IEEE expression, replayed by a
    * recursive CTE in the oracle. */
  private def qKalman(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "user_id", col("value"))
      .kalmanLevel("value", q = 0.25, r = 4.0)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("kalman_level_value"), col("kalman_var_value"),
        col("kalman_gain_value"))

  /** Running peak + drawdown per user over raw value doubles (running max
    * is order-independent — no quantization needed). */
  private def qDrawdown(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.drawdown(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "ts", "value", Seq("user_id"), tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("value"), col("peak_value"), col("drawdown_value"))

  /** Wilder RSI (n = 14, EMA-seeded) per user; recursive-CTE oracle. */
  private def qRsi(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "user_id", col("value"))
      .rsi("value", n = 14)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("rsi_value"))

  /** MACD 12/26/9 per user; one oracle recursion carries all three EMA
    * states. */
  private def qMacd(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "user_id", col("value"))
      .macd("value")
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("macd_value"), col("macd_signal_value"), col("macd_hist_value"))

  /** ATR-14 over daily OHLC bars per user (Wilder recursion replayed by a
    * recursive-CTE oracle over the same bar aggregate). */
  private def qAtr(s: SparkSession, dir: String): DataFrame = {
    val bars = eventsTsdf(s, dir, "user_id", col("value"))
      .calcBars("1 day", Seq("value")).df
    Stats.atr(bars, "ts", Seq("user_id"),
        "high_value", "low_value", "close_value", n = 14)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("high_value"), col("low_value"), col("close_value"),
        col("tr"), col("atr"))
  }

  /** Stochastic oscillator %K(14)/%D(3) per user on the raw event series. */
  private def qStochastic(s: SparkSession, dir: String): DataFrame =
    Stats.stochastic(
        events(s, dir).select(col("user_id"), col("ts"), col("value")),
        "ts", "value", Seq("user_id"), window = 14)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("pct_k"), col("pct_d"))

  /** On-balance volume over daily bars per user: close = last value of the
    * day, volume = event count (exact BIGINT accumulation). */
  private def qObv(s: SparkSession, dir: String): DataFrame = {
    val bars = events(s, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).alias("ts"))
      .agg(max_by(col("value"), col("ts")).alias("close_value"),
        count(lit(1)).alias("volume"))
    Stats.obv(bars, "ts", Seq("user_id"), "close_value", "volume")
      .select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("close_value"), col("volume"), col("obv"))
  }

  /** Donchian channels (20) per user on the raw event series. */
  private def qDonchian(s: SparkSession, dir: String): DataFrame =
    Stats.donchian(
        events(s, dir).select(col("user_id"), col("ts"), col("value")),
        "ts", "value", Seq("user_id"), window = 20)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("dc_upper"), col("dc_lower"), col("dc_mid"))

  /** Williams %R(14) per user on the raw event series. */
  private def qWilliamsR(s: SparkSession, dir: String): DataFrame =
    Stats.williamsR(
        events(s, dir).select(col("user_id"), col("ts"), col("value")),
        "ts", "value", Seq("user_id"), window = 14)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("pct_r"))

  /** Additive Holt-Winters (α=.5, β=.25, γ=.5, m=24) on hourly mean-cents
    * bars per user — null through the first 24 bars (the warm-up
    * season). */
  private def qHoltWinters(s: SparkSession, dir: String): DataFrame = {
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
  private def qSax(s: SparkSession, dir: String): DataFrame =
    Stats.sax(
        events(s, dir).select(col("user_id"), col("ts"),
          cents(col("value")).cast(LongType).alias("c")),
        "ts", "c", Seq("user_id"), segmentRows = 20, alphabet = 4)
      .select(col("user_id"), col("segment"), col("start_ts_us"),
        col("n_rows"), col("seg_sum"), col("z"), col("symbol"))

  /** SAX motif discovery ([[graft.tsdf.Stats.saxMotifs]]): each user's
    * best non-overlapping repeated 4-word motif — candidates bucketed by
    * (user, SAX word), verified by the exact integer distance over the
    * aligned segment sums, best pair under the (dist², p1, p2) total
    * order. The symbolic-sketch-then-exact-verify discipline on the
    * time-series side. */
  private def qSaxMotifs(s: SparkSession, dir: String): DataFrame =
    Stats.saxMotifs(
        events(s, dir).select(col("user_id"), col("ts"),
          cents(col("value")).cast(LongType).alias("c")),
        "ts", "c", Seq("user_id"), segmentRows = 5, alphabet = 4,
        wordLen = 3, maxPerWord = 64)
      .select(col("user_id"), col("word"), col("p1"), col("p2"),
        col("dist2"))

  /** 10-row rate-of-change and momentum per user. */
  private def qRoc(s: SparkSession, dir: String): DataFrame =
    Stats.rocMomentum(
        events(s, dir).select(col("user_id"), col("ts"), col("value")),
        "ts", "value", Seq("user_id"), n = 10)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("momentum"), col("roc"))

  /** Strict local maxima within ±3 rows per user. */
  private def qPeaks(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.peaks(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "ts", "value", Seq("user_id"), w = 3, tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("value"), col("excess"))

  /** CCF between hourly activity (row count) and hourly value totals per
    * user at lags −2..2 — does activity lead value or trail it? Both
    * metrics exact integers over one resample + one series exchange. */
  private def qCcf(s: SparkSession, dir: String): DataFrame = {
    val hourly = events(s, dir)
      .groupBy(col("user_id"),
        date_trunc("hour", col("ts")).alias("ts"))
      .agg(sum(cents(col("value")).cast(LongType)).alias("xc"),
        count(lit(1)).alias("yn"))
    graft.tsdf.Stats.ccf(hourly, "ts", "xc", "yn", Seq("user_id"), maxLag = 2)
  }

  /** Exact 5-row rolling median per user (lower-median rank convention). */
  private def qRollingMedian(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.rollingMedian(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "ts", "value", Seq("user_id"), window = 5, tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("rolling_median_value"))

  /** Observation gaps longer than 6 hours per user. */
  private def qGaps(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.gaps(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id")),
      "ts", Seq("user_id"), minGapSeconds = 21600L, tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("gap_start")).alias("gap_start_us"),
        usec(col("gap_end")).alias("gap_end_us"), col("gap_seconds"))

  private def qStateIntervals(s: SparkSession, dir: String): DataFrame = {
    val base = events(s, dir).select(col("user_id"), col("ts"),
      (col("value") >= 10.0).alias("high"))
    TSDF(base, "ts", Seq("user_id"))
      .extractStateIntervals(Seq("high"))
      .select(col("user_id"), usec(col("start_ts")).alias("start_us"),
        usec(col("end_ts")).alias("end_us"))
  }

  private def qBars(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "user_id", col("value"))
      .calcBars("1 day", Seq("value"))
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("open_value"), col("high_value"), col("low_value"), col("close_value"))

  // ------------------------------------------------------------- intervals
  private def qIntervalsPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val stacked = events(s, dir).select(col("user_id"),
      date_trunc("hour", col("ts")).alias("start_ts"),
      (date_trunc("hour", col("ts")) + expr("interval 1 hour")).alias("end_ts"),
      col("event_type"), col("value"))
    IntervalsDF.fromStackedMetrics(stacked, "start_ts", "end_ts", Seq("user_id"),
      "event_type", "value", metricNames = types)
      .df.select(Seq(col("user_id"), usec(col("start_ts")).alias("start_us"),
        usec(col("end_ts")).alias("end_us")) ++ types.map(col): _*)
  }

  private def qIntervalsStack(s: SparkSession, dir: String): DataFrame = {
    val iv = IntervalsDF(
      tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").alias("start_ts"),
        (col("l_shipdate") + expr("interval 1 day")).alias("end_ts"),
        col("l_quantity"), col("l_discount"), col("l_tax")),
      "start_ts", "end_ts", Seq("l_orderkey", "l_linenumber"))
    iv.toStacked()
      .select(col("l_orderkey"), col("l_linenumber"),
        usec(col("start_ts")).alias("start_us"), usec(col("end_ts")).alias("end_us"),
        col("metric_name"), col("metric_value"))
  }

  /** Scalable interval overlap join: click 2h-windows vs purchase
    * 2h-windows per user, decomposed into a time-bin equi-join (never a
    * per-series cross product); each true pair emitted once by its
    * overlap-start bin. */
  private def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    def iv(t: String) = IntervalsDF(
      ev.filter(col("event_type") === t).select(col("user_id"),
        col("ts").alias("start_ts"),
        (col("ts") + expr("interval 2 hours")).alias("end_ts"),
        col("event_id")),
      "start_ts", "end_ts", Seq("user_id"))
    iv("click").overlapJoin(iv("purchase"), binSeconds = 3600L)
      .select(col("user_id"), col("event_id"),
        usec(col("start_ts")).alias("start_us"),
        col("right_event_id"),
        usec(col("right_start_ts")).alias("right_start_us"),
        usec(col("overlap_start_ts")).alias("ov_start_us"),
        usec(col("overlap_end_ts")).alias("ov_end_us"))
  }

  /** Coverage set algebra between the click- and purchase-derived
    * interval sets: disjoint intervals of A∩B / A\B per user via the
    * boundary-delta sweep (no join, no explode). */
  private def qIntervalAlgebra(s: SparkSession, dir: String,
      op: String): DataFrame = {
    val ev = events(s, dir)
    def iv(t: String) = IntervalsDF(
      ev.filter(col("event_type") === t).select(col("user_id"),
        col("ts").alias("start_ts"),
        (col("ts") + expr("interval 2 hours")).alias("end_ts")),
      "start_ts", "end_ts", Seq("user_id"))
    val a = iv("click"); val b = iv("purchase")
    val r = if (op == "intersect") a.intersectCoverage(b)
            else a.subtractCoverage(b)
    r.df.select(col("user_id"), usec(col("start_ts")).alias("start_us"),
      usec(col("end_ts")).alias("end_us"))
  }
  private def qIntervalIntersect(s: SparkSession, dir: String): DataFrame =
    qIntervalAlgebra(s, dir, "intersect")
  private def qIntervalSubtract(s: SparkSession, dir: String): DataFrame =
    qIntervalAlgebra(s, dir, "subtract")

  /** Tag click events with the purchase-derived interval containing them. */
  private def qPointInInterval(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val iv = IntervalsDF(
      ev.filter(col("event_type") === "purchase").select(col("user_id"),
        col("ts").alias("start_ts"),
        (col("ts") + expr("interval 2 hours")).alias("end_ts"),
        col("event_id").alias("iv_id")),
      "start_ts", "end_ts", Seq("user_id"))
    val pts = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    iv.pointJoin(pts, "ts", binSeconds = 3600L)
      .select(col("user_id"), col("event_id"), usec(col("ts")).alias("ts_us"),
        col("interval_iv_id"),
        usec(col("interval_start_ts")).alias("iv_start_us"),
        usec(col("interval_end_ts")).alias("iv_end_us"))
  }

  private def qIntervalsDisjoint(s: SparkSession, dir: String): DataFrame = {
    val iv = IntervalsDF(
      events(s, dir).select(col("user_id"), col("ts").alias("start_ts"),
        (col("ts") + expr("interval 2 hours")).alias("end_ts"), col("value")),
      "start_ts", "end_ts", Seq("user_id"))
    iv.makeDisjoint()
      .df.select(col("user_id"), usec(col("start_ts")).alias("start_us"),
        usec(col("end_ts")).alias("end_us"), col("value"))
  }

  /** Positional union + by-name union (with reordered columns) of interval
    * frames, intervals.py:280-339. */
  private def qIntervalsUnion(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    def iv(t: String) = IntervalsDF(
      ev.filter(col("event_type") === t).select(col("user_id"),
        col("ts").alias("start_ts"),
        (col("ts") + expr("interval 1 hour")).alias("end_ts"), col("value")),
      "start_ts", "end_ts", Seq("user_id"))
    val a = iv("click")
    val b = iv("purchase")
    val reordered = b.copy(df = b.df.select("end_ts", "value", "user_id", "start_ts"))
    a.union(b).unionByName(reordered)
      .df.select(col("user_id"), usec(col("start_ts")).alias("start_us"),
        usec(col("end_ts")).alias("end_us"), col("value"))
  }

  /** Write through the time-partitioned sink, read the files back, and emit
    * the persisted columns (incl. the derived event_dt partition and
    * event_time) — proving the io path round-trips values exactly. */
  private def qWriteRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val t = TSDF(events(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"))
    val path = System.getProperty("java.io.tmpdir") +
      "/graft_roundtrip_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    graft.io.TSDFWriter.write(t, path)
    s.read.parquet(path).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("event_time"),
      datediff(col("event_dt"), lit("1970-01-01")).cast(LongType).alias("event_dt_days"))
  }

  /** Series-bucketed catalog-table round-trip: bucketBy(user_id) +
    * sortBy(user_id, ts), read back value-faithfully (the shuffle-free
    * read plans are asserted in BucketedWriteSpec). */
  private def qWriteBucketed(s: SparkSession, dir: String): DataFrame = {
    val t = TSDF(events(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"))
    val table = "graft_bucketed_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    // idempotent across sessions: a prior session's managed-table location
    // survives in the warehouse dir without a catalog entry, and
    // saveAsTable then refuses with LOCATION_ALREADY_EXISTS
    s.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir") + "/" + table)
    loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
    graft.io.TSDFWriter.writeBucketedTable(t, table, numBuckets = 8)
    s.table(table).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"))
  }

  /** Same round-trip as [[qWriteRoundtrip]] but laid out along the Z-curve
    * of (ts, value) — covers MortonInterleave + ZOrder.zvalue end-to-end;
    * the oracle is layout-independent (sorted-multiset compare). */
  private def qWriteZorder(s: SparkSession, dir: String): DataFrame = {
    val t = TSDF(events(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"))
    val path = System.getProperty("java.io.tmpdir") +
      "/graft_zorder_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    graft.io.TSDFWriter.write(t, path, zorderCols = Seq("ts", "value"))
    s.read.parquet(path).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("event_time"),
      datediff(col("event_dt"), lit("1970-01-01")).cast(LongType).alias("event_dt_days"))
  }

  /** Hilbert-curve index gate: the codegen'd rotate-and-reflect walk
    * ([[graft.functions.Hilbert2]], order 8) over integer grid coordinates
    * derived from the orders table, replayed in the oracle as a recursive
    * CTE running the SAME per-level arithmetic — pins the curve the
    * hilbert write layout sorts by ([[graft.io.ZOrder.hvalue]]). */
  private def qHilbert(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders").filter(col("o_orderkey") < 4000)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(256L)).cast(LongType).alias("x"),
        pmod(col("o_custkey"), lit(256L)).cast(LongType).alias("y"))
    o.select(col("o_orderkey"), col("x"), col("y"),
      org.apache.spark.sql.GraftColumns.column(graft.functions.Hilbert2(8,
        org.apache.spark.sql.GraftColumns.expression(col("x")),
        org.apache.spark.sql.GraftColumns.expression(col("y"))))
        .alias("hilbert_d"))
  }

  private def qTimeHorizon(s: SparkSession, dir: String): DataFrame =
    TSDF(events(s, dir).select("user_id", "ts"), "ts", Seq("user_id"))
      .timeHorizonPerSeries("1 hour")
      .select(col("user_id"), usec(col("min_ts")).alias("min_ts_us"),
        usec(col("max_ts")).alias("max_ts_us"), col("actual_rows"), col("num_values"))

  /** Full describe() output (all six summary rows — mean/stddev render as
    * deterministic fixed-4-decimal strings, so no row filter is needed). The
    * ts_dbl helper column stays excluded: its min/max stringify in
    * engine-specific scientific notation. */
  private def qDescribe(s: SparkSession, dir: String): DataFrame =
    TSDF(events(s, dir), "ts", Seq("user_id")).describe()
      .select(col("summary"), col("unique_time_series_count"), col("min_ts"),
        col("max_ts"), col("granularity"),
        col("event_id"), col("user_id"), col("event_type"), col("value"))

  /** Nanosecond path end-to-end: raw TIMESTAMP(NANOS) longs → 9-digit
    * fractional strings → parseNanosTimestamp double epoch → as-of join on
    * the double ts (the reference's nanos trade: double keeps ~µs-accurate
    * ordering for current epochs while carrying the parsed nanos digits). */
  private def qAsofNanos(s: SparkSession, dir: String): DataFrame = {
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

  // ------------------------------------------------------------------- ml
  private def qCvFolds(s: SparkSession, dir: String): DataFrame =
    TimeSeriesCrossValidator.withSplitIndex(
      events(s, dir).select("user_id", "ts", "event_id"), "ts", Seq("user_id"), 6)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("split_idx").cast(LongType).alias("split_idx"))

  // ---------------------------------------------------------------- tpch
  private def qPricingSummary(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00"))
      .withColumn("epc", cents(col("l_extendedprice")))
      .withColumn("dc", cents(col("l_discount")))
      .withColumn("tc", cents(col("l_tax")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).alias("sum_qty"),
        // sum the integer-scaled terms as LONGs: the charge sum passes 2^53
        // at sf1, where a double sum loses exactness and goes order-
        // dependent (observed as a last-ulp oracle mismatch); long sums stay
        // exact to 9.2e18 and the final long->double division is the same
        // rounding in every engine
        (sum(col("epc").cast("long")) / 100.0).alias("sum_base_price"),
        (sum((col("epc") * (lit(100) - col("dc"))).cast("long")) / 10000.0)
          .alias("sum_disc_price"),
        (sum((col("epc") * (lit(100) - col("dc")) * (lit(100) + col("tc"))).cast("long"))
          / 1000000.0).alias("sum_charge"),
        avg(col("l_quantity")).alias("avg_qty"),
        (avg(col("epc")) / 100.0).alias("avg_price"),
        (avg(col("dc")) / 100.0).alias("avg_disc"),
        count(lit(1)).alias("count_order"))

  private def qRevenueNation(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(tbl(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg((sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
        / 10000.0).alias("revenue"))

  private def qTopOrders(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    tbl(s, dir, "orders")
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("o_custkey"), col("rank"), col("o_orderkey"), col("o_totalprice"))
  }

  // ------------------------------------------------------------- pipeline
  /** Exact normalized-text dedup THROUGH the library API
    * ([[graft.pipeline.Dedup.exactNormalized]] — the single
    * min-struct aggregate): canonical (lowest) id and group size per
    * fingerprint. */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactNormalized(docs(s, dir).select(col("doc_id"), col("text")),
        "text", "doc_id", fpCol = Some("fp"), countCol = Some("n_dups"))
      .select(col("fp"), col("doc_id").alias("keep_id"), col("n_dups"))

  /** Corpus duplication sizing report
    * ([[graft.pipeline.Dedup.duplicationStats]]): one row — docs,
    * distinct fingerprints, droppable dups, dup rate. */
  private def qDupStats(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicationStats(docs(s, dir), "text")

  /** Exact all-pairs ground truth over HASHED token sets: the quadratic
    * per-language join intersects arrays of 61-bit polynomial hashes rather
    * than strings (long equality beats string hashing inside the 10⁷-pair
    * `array_intersect` hot loop), with the lossless size-ratio bound
    * short-circuiting ahead of each intersect. The oracle replays the same
    * hashing, so the comparison stays bit-exact. */
  private def qJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    // token sets sorted ONCE per doc so every pair verifies with the
    // codegen'd two-pointer merge instead of a per-pair hash-set build
    val d = docs(s, dir).select(col("doc_id"), col("lang"),
      array_sort(Dedup.shingleHashes(Dedup.shingles(col("text"), 1))).alias("toks"))
    val a = d.select(col("doc_id").alias("doc_id_a"), col("lang"), col("toks").alias("ta"))
    val b = d.select(col("doc_id").alias("doc_id_b"), col("lang"), col("toks").alias("tb"))
    val ratio = least(size(col("ta")), size(col("tb"))).cast(DoubleType) /
      greatest(size(col("ta")), size(col("tb")))
    a.join(b, Seq("lang"))
      .filter(col("doc_id_a") < col("doc_id_b") && ratio >= 0.5 &&
        Dedup.jaccardSorted(col("ta"), col("tb")) >= 0.5)
      .select(col("doc_id_a"), col("doc_id_b"),
        Dedup.jaccardSorted(col("ta"), col("tb")).alias("jaccard"))
  }

  /** Banding retuned r2→r3: rowsPerBand=2 collided ~s² per band and the
    * candidate set exploded (81% of the round-2 bench); with b=6/r=3 spurious
    * collisions scale as s³, plus bucket clamping and a lossless size-ratio
    * prefilter before the exact-Jaccard verify. */
  private def qMinhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDuplicates(docs(s, dir), "text", "doc_id",
      shingleWidth = 2, bands = 6, rowsPerBand = 3, threshold = 0.4,
      maxBucketSize = 50)

  private def qSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(docs(s, dir), "text", "doc_id")

  /** SimHash-banded near-dup pairs, hamming ≤ 3: 4 bands of ~15 bits, so a
    * spurious band collision is ~1/32k per pair — candidate volume stays
    * linear-ish at scale (hamming ≤ 6's 9-bit bands collided 64× more). */
  private def qSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(s, dir), "text", "doc_id", maxHamming = 3)

  /** Near-dup clusters from the simhash pair graph: connected-component
    * labels (min-label propagation), cluster sizes, and the keep-one
    * canonical flag — pairwise dedup made actionable. */
  private def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val edges = Dedup.simhashPairs(docs(s, dir), "text", "doc_id", maxHamming = 3)
    Dedup.dedupClusters(docs(s, dir), "doc_id", edges)
  }

  /** Score-aware canonical pick per near-dup cluster (longest normalized
    * text wins, ties to min id — [[graft.pipeline.Dedup
    * .canonicalByScore]] over the same simhash edges as
    * q_dedup_clusters). */
  private def qDedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val edges = Dedup.simhashPairs(d, "text", "doc_id", maxHamming = 3)
    Dedup.canonicalByScore(d, "doc_id", edges,
      length(Dedup.normalizeText(col("text"))).cast(LongType))
  }

  /** Walk-forward purged CV with a 1-hour embargo
    * ([[graft.pipeline.Splits.walkForwardFolds]]): per eval fold, its
    * validation rows plus strictly-earlier training rows clearing the
    * embargo before the fold start. */
  private def qWalkForward(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Splits.walkForwardFolds(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id")),
      "ts", Seq("user_id"), nFolds = 5, embargoSecs = 3600L)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("event_id"), col("fold"), col("fold_eval"), col("role"))

  /** Group-leakage-safe split: the hash split keyed on the GROUP column
    * (source), so every document of a domain lands in the same split —
    * near-duplicates within a domain cannot straddle train/test. */
  private def qSplitGroup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), col("source"))
      .withColumn("split",
        graft.pipeline.Splits.splitIndex(col("source"), Seq(8, 1, 1)))

  /** milli-quantized embeddings: integer-valued doubles → order-independent
    * exact dot products */
  private def quantized(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => round(x.cast(DoubleType) * 1000)).alias("q"))

  private def qEmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir).withColumn("__n", Similarity.l2norm(col("q")))
    val a = d.select(col("vec_id").alias("vec_id_a"), col("label"),
      col("q").alias("qa"), col("__n").alias("na"))
    val b = d.select(col("vec_id").alias("vec_id_b"), col("label"),
      col("q").alias("qb"), col("__n").alias("nb"))
    a.join(b, Seq("label"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .withColumn("cosine",
        Similarity.dot(col("qa"), col("qb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= 0.3)
      .select(col("vec_id_a"), col("vec_id_b"), col("cosine"))
  }

  private def qAnnTopk(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir)
    Similarity.bruteForceTopK(
      d.filter(col("vec_id") < 20), d, "vec_id", "q", k = 3)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("cosine"))
  }

  /** Per-label embedding centroids ([[graft.pipeline.Similarity
    * .groupCentroids]]): exact integer per-dimension sums + one division
    * — the embedding-space cohort profile. */
  private def qEmbedCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.groupCentroids(quantized(s, dir), "label", "q")
      .select(col("grp").alias("label"), col("dim").cast(LongType).alias("dim"),
        col("n"), col("s"), col("mean"))

  /** Pairwise centroid cosine drift matrix ([[graft.pipeline.Similarity
    * .centroidCosines]]): scale-free cosine on the exact sum vectors. */
  private def qCentroidCosine(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidCosines(quantized(s, dir), "label", "q")
      .select(col("grp_a").alias("label_a"), col("grp_b").alias("label_b"),
        col("dot"), col("qa"), col("qb"), col("cosine"))

  /** Hard-negative mining ([[graft.pipeline.Similarity.hardNegatives]]):
    * per anchor, the 3 most-similar embeddings with a DIFFERENT label —
    * contrastive-training pair prep. Bounded anchor set (the q_ann_topk
    * ground-truth convention); the label filter composes before the
    * top-k window on any candidate generator. */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir)
    Similarity.hardNegatives(
      d.filter(col("vec_id") < 20), d, "vec_id", "q", "label", k = 3)
      .select(col("anchor_id"), col("rank").cast(LongType).alias("rank"),
        col("negative_id"), col("cosine"))
  }

  /** Multi-probe ANN: same ground-truth query set as q_ann_topk, probing the
    * full ≤3-bit perturbation sequence (recall ≥ 0.9 vs brute force,
    * asserted in PipelineUnitSpec). */
  private def qAnnMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir)
    Similarity.lshTopKMultiProbe(d.filter(col("vec_id") < 20), d, "vec_id", "q",
      dim = 64, k = 3, nBits = 6, probes = 41)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("cosine"))
  }

  /** The ANN fixture's codebooks over the quantized embeddings `d`: the
    * coarse codebook is the 16 lowest-id vectors (deterministic,
    * oracle-replayable; a k-means codebook drops in the same way), and the
    * PQ sub-codebooks are the same 16 vectors' M = 4 subvectors of dim 16. */
  private def annCodebooks(d: DataFrame)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val cents = d.filter(col("vec_id") < 16).orderBy("vec_id")
      .select("q").collect().map(_.getSeq[Double](0).toSeq).toSeq
    (cents, (0 until 4).map(m => cents.map(_.slice(m * 16, m * 16 + 16))))
  }

  /** IVF ANN on the same ground-truth query set: the [[annCodebooks]]
    * coarse codebook, nprobe = 4 of 16 cells. */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir)
    val (centroids, _) = annCodebooks(d)
    Similarity.ivfTopK(d.filter(col("vec_id") < 20), d, "vec_id", "q",
      k = 3, centroids = centroids, nprobe = 4)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("cosine"))
  }

  /** The PERSISTED cell-partitioned IVF index end to end
    * ([[graft.pipeline.Similarity.writeIvfIndex]] +
    * [[graft.pipeline.Similarity.ivfTopKIndexed]]): same codebook, probes
    * and arithmetic as q_ann_ivf — the probe scan reads only the probed
    * cells' directories (partition pruning, plan-asserted in
    * PlanShapeSpec). Shares q_ann_ivf's oracle verbatim. */
  private def qAnnIvfIndexed(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir)
    val (centroids, _) = annCodebooks(d)
    // built ONCE per sf dir and reused (the postingsIndex convention: an
    // index is a materialized artifact — the bench measures the amortized
    // PROBE path, warm-up builds, corpus data under an sf dir immutable)
    val path = System.getProperty("java.io.tmpdir") +
      "/graft_ivf_index_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path + "/_SUCCESS")))
      Similarity.writeIvfIndex(d, "vec_id", "q", centroids, path)
    Similarity.ivfTopKIndexed(d.filter(col("vec_id") < 20), path, "vec_id",
      "q", k = 3, centroids = centroids, nprobe = 4)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("cosine"))
  }

  /** Exact integer Gram matrix of the milli-quantized embeddings in ONE
    * pass through the mergeable [[graft.functions.GramMatrixAgg]] buffer
    * ([[graft.pipeline.Pca.gramMatrix]]) — the PCA/covariance trainer's
    * corpus scan, 2080 upper-triangle rows at dim 64. */
  private def qGramMatrix(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Pca.gramMatrix(quantized(s, dir), col("q"), 64)

  /** End-to-end PCA ([[graft.pipeline.Pca]]): one-pass Gram train (d = 8
    * components at dim 64) + literal-projection of every embedding.
    * Oracle-gated via [[dynamicOracleSql]]: the replay restates the
    * trained components as CAST('…' AS DOUBLE) literals and re-runs the
    * projection fold in the identical IEEE op order (the eigensolve
    * itself is driver-side and deterministic; its Gram input is gated by
    * q_gram_matrix, and PipelineUnitSpec pins projection equality and
    * component orthonormality). */
  private def qPcaProject(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir)
    val model = graft.pipeline.Pca.train(d, col("q"), dim = 64, d = 8)
    graft.pipeline.Pca.project(d, col("q"), model)
      .select(col("vec_id") +: (0 until 8).map(i => col(s"pc$i")): _*)
  }

  /** Embedding QA ([[graft.pipeline.Similarity.embeddingQa]]): per
    * vector, exact squared norm / zero count / max |component| — the
    * degenerate-embedding gate before indexing. */
  private def qEmbedQa(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingQa(quantized(s, dir), "vec_id", "q")

  /** Embedding-space eval contamination
    * ([[graft.pipeline.Similarity.embeddingContamination]]): the
    * semantic decontamination gate — eval = the bounded vec_id < 20
    * set, corpus = the rest, τ = 0.999 (near-duplicates); exact hit
    * counts + max cosine per eval vector. */
  private def qEmbedContamination(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir)
    Similarity.embeddingContamination(
      d.filter(col("vec_id") < 20), d.filter(col("vec_id") >= 20),
      "vec_id", "q", tau = 0.999)
      .select(col("eval_id"), col("n_hits"), col("max_cosine"),
        col("contaminated"))
  }

  /** Positive-pair mining ([[graft.pipeline.Similarity.positivePairs]]):
    * per anchor, the 3 most-similar SAME-label embeddings (self
    * excluded) — the paraphrase/positive side of the contrastive pair
    * set, same bounded-anchor convention as q_hard_negatives. */
  private def qPositivePairs(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir)
    Similarity.positivePairs(
      d.filter(col("vec_id") < 20), d, "vec_id", "q", "label", k = 3)
      .select(col("anchor_id"), col("rank").cast(LongType).alias("rank"),
        col("positive_id"), col("cosine"))
  }

  /** PCA whitening ([[graft.pipeline.Pca.whiten]]): the q_pca_project
    * projection with each coordinate scaled by 1/√λ — identity-covariance
    * embeddings from the same one-pass train, one terminal
    * correctly-rounded division per coordinate (dynamic oracle restates
    * the trained literals AND the driver-computed √λ as
    * CAST('…' AS DOUBLE)). */
  private def qWhiten(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir)
    val model = graft.pipeline.Pca.train(d, col("q"), dim = 64, d = 8)
    graft.pipeline.Pca.whiten(d, col("q"), model)
      .select(col("vec_id") +: (0 until 8).map(i => col(s"wc$i")): _*)
  }

  /** The trained IVF codebook itself as the query output: k-means over the
    * quantized embeddings (nlist=4, iters=2), emitted as one row per
    * (cell, 1-based dim). The oracle unrolls both Lloyd iterations as
    * DuckDB CTEs — exact-integer vectors make every per-cell mean an exact
    * sum/count, so the codebook doubles match bit-for-bit. */
  private def qIvfTrain(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir).select(col("vec_id"), col("q"))
    val cb = Similarity.trainIvfCodebook(d, "vec_id", "q", nlist = 4, iters = 2)
    val rows = for ((c, cell) <- cb.zipWithIndex; (v, pos) <- c.zipWithIndex)
      yield (cell.toLong, pos.toLong + 1L, v)
    val s2 = s
    import s2.implicits._
    rows.toDF("cell", "pos", "mean_value")
  }

  /** IVF-PQ over the [[annCodebooks]] coarse and sub-codebooks. Integer
    * vectors keep every distance exact. */
  private def qAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir)
    val (cents, codebooks) = annCodebooks(d)
    Similarity.ivfPqTopK(d.filter(col("vec_id") < 20), d, "vec_id", "q",
      k = 3, centroids = cents, nprobe = 4, codebooks = codebooks)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("adc_dist"))
  }

  /** Residual IVF-PQ: same codebooks, vectors encoded against their cell
    * centroid (FAISS-style IVF-ADC). Integer residuals stay exact. */
  private def qAnnIvfPqRes(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir)
    val (cents, codebooks) = annCodebooks(d)
    Similarity.ivfPqTopK(d.filter(col("vec_id") < 20), d, "vec_id", "q",
      k = 3, centroids = cents, nprobe = 4, codebooks = codebooks,
      residual = true)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("adc_dist"))
  }

  /** Two-stage retrieval: the q_ann_ivfpq ADC shortlist widened to
    * k·refine = 9 candidates, then re-ranked by exact cosine over the true
    * vectors (corpus joins the broadcast shortlist by id — codes drive the
    * scan, full-precision vectors are read for the shortlist only). */
  private def qAnnRerank(s: SparkSession, dir: String): DataFrame = {
    val d = quantized(s, dir)
    val (cents, codebooks) = annCodebooks(d)
    Similarity.ivfPqTopKRerank(d.filter(col("vec_id") < 20), d, "vec_id", "q",
      k = 3, centroids = cents, nprobe = 4, codebooks = codebooks, refine = 3)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("cosine"))
  }

  // ------------------------------------------- streaming (single-batch runs)
  /** Unique in-session memory-sink names: these queries re-run across
    * verify/bench passes within one session. */
  private val sinkId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Stream-stream tolerance join as a REAL streaming query: clicks and
    * purchases arrive through two file-source streams in one AvailableNow
    * batch, the watermarked join runs to completion into a parquet sink.
    * Single-batch execution makes the result equal the batch range join by
    * construction, so the DuckDB oracle replays it exactly; multi-batch
    * randomized equivalence lives in StreamingBatchDifferentialSpec. */
  /** The single-batch streaming twins run on a cloned session with few
    * shuffle partitions: stream state-store commit cost is per partition per
    * micro-batch (each store fsyncs a delta file), so 32 partitions × four
    * join state stores dominated wall time for a 40k-row batch that needs no
    * such parallelism. Conf isolation via `newSession` (shared catalog and
    * SparkContext, fresh conf) — the caller's session keeps its
    * partitioning. */
  /** Per-stream-query session. `SPARK_GRAFT_STATESTORE=rocksdb` flips
    * every stateful operator onto the RocksDB state store provider —
    * Spark's shipped answer to 100-TB streaming state (the
    * HDFSBackedStateStore default holds each partition's full state map
    * on-heap per executor; RocksDB spills to local disk with changelog
    * checkpointing). The oracle gate itself runs under either provider
    * (the SPARK_GRAFT_MATERIALIZER passthrough convention) — operators
    * never read this conf, so outputs are provider-identical by
    * construction and the q_stream_* rows verify it. */
  private def streamSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", 4)
    if (sys.env.get("SPARK_GRAFT_STATESTORE").contains("rocksdb"))
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    ss
  }

  /** File-source stream over events.parquet with the physical schema (ts =
    * raw nanos long): the feed stays DISTRIBUTED — the MemoryStream harness
    * it replaces collected the whole input to the driver and shipped it
    * inside every task binary (46 MiB tasks at sf1). One parquet file and
    * no per-trigger limits ⇒ AvailableNow processes everything as a single
    * micro-batch, preserving the single-batch = batch-oracle equality. */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = s.read.parquet(s"$dir/events.parquet").schema
    // the file source wants a DIRECTORY; the glob filter pins the one table
    val src = s.readStream.schema(sch).option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    sch("ts").dataType match {
      case LongType =>
        src.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => src.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Run a streaming frame to completion through a PARQUET sink (results
    * never gather on the driver, unlike the memory sink) and read the
    * output back as a plain DataFrame.
    *
    * The scratch checkpoint + sink live on tmpfs when available: a
    * single-batch AvailableNow run pays ~20 fsyncs (offset/commit WALs,
    * per-partition state deltas, sink manifest) that are pure harness
    * overhead for a throwaway query — production deployments point the
    * checkpoint at durable storage and none of this path changes. */
  /** Scratch dir on tmpfs when available (see [[runStream]]'s rationale),
    * deleted at JVM exit so repeated bench/verify passes don't accumulate
    * dead checkpoints and index copies in RAM. */
  private def scratchDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val dir = (if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, prefix)
    else java.nio.file.Files.createTempDirectory(prefix))
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () }))
    dir.toString
  }

  private def runStream(s: SparkSession, out: DataFrame): DataFrame = {
    val dst = scratchDir("graft_stream_out_")
    val t0 = System.nanoTime()
    val q = out.writeStream.format("parquet")
      .option("path", s"$dst/data")
      .option("checkpointLocation", s"$dst/chk")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val t1 = System.nanoTime()
    q.awaitTermination()
    val t2 = System.nanoTime()
    // Floor decomposition for the bench's 52 single-batch streams
    // (guide §1: measure first): per-batch durationMs breakdown + the
    // start/await wall split, printed to stderr only when asked.
    if (sys.env.contains("SPARK_GRAFT_STREAM_PROFILE")) {
      System.err.println(f"[streamprof] start=${(t1 - t0) / 1e9}%.3f await=${(t2 - t1) / 1e9}%.3f batches=${q.recentProgress.length}")
      q.recentProgress.foreach(p => System.err.println("[streamprof] " + p.json))
      q.explain() // last micro-batch physical plan, for plans/rNN evidence
    }
    // the result schema is the stream frame's own — passing it skips the
    // footer-sampling schema-inference job on every read-back
    s.read.schema(out.schema).parquet(s"$dst/data")
  }

  /** Streaming Holt as a REAL single-batch streaming query — bit-identical
    * to the batch window aggregate by construction, so it shares
    * q_holt_exact's recursive-CTE oracle. */
  private def qStreamHolt(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.holt(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value", alpha = 0.5, beta = 0.25)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("holt_level_value"), col("holt_trend_value"))
  }

  /** Streaming HLL distinct-user sketch per event type: the register
    * CHANGELOG from the stateful builder
    * ([[graft.streaming.StreamingTSDF.hllRegisters]]) max-rolled into the
    * register file, then estimated with the batch reader — the oracle
    * replays the equivalent batch build (stream == batch by construction;
    * the cells come from the same expressions). */
  private def qStreamHll(s0: SparkSession, dir: String): DataFrame = {
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

  /** Streaming histogram sketch: per-batch bin-count DELTAS
    * ([[graft.streaming.StreamingTSDF.histogramDeltas]]) sum-rolled into
    * the exact batch histogram, quantiles read with the batch reader —
    * same final answer as q_hist_quantile (identical data, identical
    * bins), so it shares that oracle. */
  private def qStreamHist(s0: SparkSession, dir: String): DataFrame = {
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

  /** Streaming Kalman as a single-batch streaming query — shares
    * q_kalman's recursive-CTE oracle (same IEEE recursion). */
  private def qStreamKalman(s0: SparkSession, dir: String): DataFrame = {
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
  private def qStreamRollMed(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.rollingMedian(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value", window = 5)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("rolling_median_value"))
  }

  private def qStreamToleranceJoin(s0: SparkSession, dir: String): DataFrame = {
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

  /** Streaming PQ top-k against the static quantized corpus, run as a real
    * watermarked streaming query (one data batch + one sentinel batch that
    * advances the watermark to seal the top-k aggregate). Same codebook
    * convention and parameters as q_ann_ivfpq, so the same DuckDB PQ replay
    * is the oracle. */
  private def qStreamPqTopk(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = s.sqlContext
    val d = quantized(s, dir)
    val (cents, codebooks) = annCodebooks(d)
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val queryRows = d.filter(col("vec_id") < 20).orderBy("vec_id")
      .select("vec_id", "q").as[(Long, Seq[Double])].collect().toSeq
      .map { case (id, v) =>
        (id, new java.sql.Timestamp(base.getTime + id * 1000L), v)
      }
    val sentinel = (999999L,
      java.sql.Timestamp.valueOf("2024-03-02 00:00:00"), queryRows.head._3)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
    // Encode + persist the static corpus ONCE: the stream-static join
    // re-evaluates the static plan every micro-batch otherwise.
    val encoded = Similarity.pqEncodeCorpus(
      d.select(col("vec_id"), col("q").alias("v")), "vec_id", "v",
      cents, codebooks).persist()
    val out = graft.streaming.StreamingAnn.pqTopKStream(
      mem.toDF().toDF("vec_id", "ts", "v"),
      d.select(col("vec_id"), col("q").alias("v")), "vec_id", "ts", "v",
      k = 3, centroids = cents, nprobe = 4, codebooks = codebooks,
      watermarkDelay = "0 seconds", encodedCorpus = Some(encoded))
    val name = s"stream_pq_sink_${sinkId.incrementAndGet()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    mem.addData(queryRows: _*)
    q.processAllAvailable()
    mem.addData(sentinel)
    q.processAllAvailable()
    q.stop()
    encoded.unpersist()
    s.table(name).filter(col("query_id") =!= 999999L)
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "c")))
      .select(col("query_id"), (col("pos") + 1).cast(LongType).alias("rank"),
        col("c.neighbor_id"), col("c.adc_dist"))
  }

  private def qAnnLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(quantized(s, dir), "vec_id", "q", dim = 64, k = 3, nBits = 6)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("cosine"))

  private def qLangId(s: SparkSession, dir: String): DataFrame = {
    val scoreCols = TextAnalysis.langScores(col("text")).map { case (l, c) =>
      c.cast(LongType).alias(s"${l}_score")
    }
    docs(s, dir).select(
      (col("doc_id") +: scoreCols) :+
        TextAnalysis.detectLanguage(col("text")).alias("pred_lang"): _*)
  }

  private def qQuality(s: SparkSession, dir: String): DataFrame = {
    val comps = TextAnalysis.qualityScore(col("text"))
    docs(s, dir).select(col("doc_id") +: comps.head.cast(LongType).alias("n_tokens") +:
      comps.tail: _*)
  }

  private def qQualityV2(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id") +: TextAnalysis.repetitionSignals(col("text")): _*)

  /** Char-weighted Gopher repetition family (Table A1 thresholds) — the
    * companion to q_quality_v2's count-based signals, and like it a plain
    * scan projection: the one-pass [[graft.functions.TextKernels
    * .repetition]] kernel costs O(chars) per row, so no exchange spreads
    * the rows. */
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id") +: TextAnalysis.charRepetitionSignals(col("text")): _*)

  /** The synthetic corpus contains no PII, so every doc gets deterministic
    * id-derived addresses/numbers appended before detection — the regex
    * machinery is exercised on every row and both engines see identical
    * input. */
  private def piiInjectedText: Column = concat(col("text"),
    lit(" Contact user"), col("doc_id").cast(StringType),
    lit("@example.com from 10.0."),
    (col("doc_id") % 256).cast(StringType), lit(".7 call 555-"),
    lpad((col("doc_id") % 1000).cast(StringType), 3, "0"), lit("-"),
    lpad((col("doc_id") % 10000).cast(StringType), 4, "0"),
    lit(" ssn 123-45-6789"))

  private def qPii(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), piiInjectedText.alias("__t"))
      .select(col("doc_id") +: (Pii.counts(col("__t")) :+
        md5(Pii.redact(col("__t"))).alias("redacted_md5")): _*)

  /** Query terms for the BM25 oracle query — all present in the synthetic
    * vocabulary with different document frequencies. */
  val Bm25Terms: Seq[String] = Seq("customer", "vector", "stream", "window")

  private def qBm25(s: SparkSession, dir: String): DataFrame =
    Retrieval.bm25TopK(docs(s, dir), "text", "doc_id", Bm25Terms, k = 20)

  /** Query batch for the multi-query BM25 oracle — overlapping term sets so
    * shared terms are aggregated once and fanned out per query. */
  val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("customer", "vector"),
    2L -> Seq("stream", "window"),
    3L -> Seq("customer", "stream", "window"))

  private def qBm25Multi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Bm25Queries.toDF("query_id", "terms")
    Retrieval.bm25TopKMultiQuery(docs(s, dir), "text", "doc_id",
      queries, "query_id", "terms", k = 10)
  }

  /** Index-backed BM25 against a term-sorted parquet postings layout
    * (row-group pruning on the term filter) — bit-identical to
    * q_bm25_multi, so it shares that oracle. The index is built ONCE per
    * sf dir and reused across calls (the `_SUCCESS` marker gates the
    * build): an index is a materialized artifact — rebuilding it per
    * query batch would charge the one-time build cost to every batch,
    * which is exactly what the index exists to avoid. The bench therefore
    * measures the amortized QUERY path (warm-up builds; the corpus data
    * under an sf dir is immutable). */
  /** Build-once-per-sf-dir postings index (term-sorted parquet), shared
    * by every index-backed retrieval query. */
  private def postingsIndex(s: SparkSession, dir: String): DataFrame = {
    val path = System.getProperty("java.io.tmpdir") +
      "/graft_postings_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path + "/_SUCCESS")))
      Retrieval.buildPostingsIndex(docs(s, dir), "text", "doc_id")
        .repartition(8, col("term")).sortWithinPartitions("term")
        .write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  private def qBm25Indexed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Retrieval.bm25TopKFromIndex(postingsIndex(s, dir), "doc_id",
      Bm25Queries.toDF("query_id", "terms"), "query_id", "terms", k = 10)
  }

  /** TF-IDF (log-tf · smooth-idf) over the same postings index and query
    * batch — the length-normalization-free ranking twin of q_bm25_indexed. */
  private def qTfidf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Retrieval.tfidfTopKFromIndex(postingsIndex(s, dir), "doc_id",
      Bm25Queries.toDF("query_id", "terms"), "query_id", "terms", k = 10)
  }

  /** Hybrid-retrieval fusion ([[graft.pipeline.Retrieval.rrfFuse]]):
    * reciprocal-rank fusion of the BM25 and TF-IDF top-10 lists over the
    * shared postings index — rank-only merging (no score calibration),
    * c = 60, one full-outer join of two top-k lists per query. */
  private def qRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Bm25Queries.toDF("query_id", "terms")
    val idx = postingsIndex(s, dir)
    Retrieval.rrfFuse(
      Retrieval.bm25TopKFromIndex(idx, "doc_id", queries,
        "query_id", "terms", k = 10),
      Retrieval.tfidfTopKFromIndex(idx, "doc_id", queries,
        "query_id", "terms", k = 10),
      "query_id", "doc_id")
  }

  /** TRUE hybrid retrieval: RRF over the lexical BM25 list and the
    * embedding ANN list — the standard lexical × semantic fusion (the
    * q_rrf pair was two lexical lists). Each query in the shared batch
    * carries a term list AND a probe embedding (its query-id'd document's
    * vector; vec_id ≡ doc_id in the corpus), so the fused ranking merges
    * "matches the words" with "means the same thing". Pure composition:
    * the two gated rankers feed the same [[graft.pipeline.Retrieval
    * .rrfFuse]]; ANN side is the bounded-anchor brute face (the IVF/LSH
    * candidate paths drop in at scale — same (query_id, doc_id, rank)
    * contract). */
  private def qRrfHybrid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Bm25Queries.toDF("query_id", "terms")
    val lex = Retrieval.bm25TopKFromIndex(postingsIndex(s, dir), "doc_id",
      queries, "query_id", "terms", k = 10)
    val d = quantized(s, dir)
    val qids = Bm25Queries.map(_._1)
    val sem = Similarity.bruteForceTopK(
        d.filter(col("vec_id").isin(qids: _*)), d, "vec_id", "q", k = 10)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id").alias("doc_id"))
    Retrieval.rrfFuse(lex, sem, "query_id", "doc_id")
  }

  /** Per-document keyword extraction
    * ([[graft.pipeline.Retrieval.keywordsPerDoc]]): top-5 TF-IDF terms
    * per doc off the shared postings index — document tagging, the
    * per-doc inversion of the retrieval rankings. */
  private def qKeywords(s: SparkSession, dir: String): DataFrame =
    Retrieval.keywordsPerDoc(postingsIndex(s, dir), "doc_id", k = 5)

  /** SQ8 scalar-quantized ANN: per-dimension bounds from one aggregate
    * pass, 0..255 byte codes, exact integer squared-L2 in code space. */
  private def qAnnSq8(s: SparkSession, dir: String): DataFrame = {
    val d = emb(s, dir).select(col("vec_id"), col("embedding"))
    val (mins, maxs) = Similarity.sq8TrainBounds(d, "embedding", 64)
    Similarity.sq8TopK(d.filter(col("vec_id") < 20), d, "vec_id",
      "embedding", mins, maxs, k = 3)
      .select(col("query_id"), col("rank").cast(LongType).alias("rank"),
        col("neighbor_id"), col("code_dist").cast(LongType).alias("code_dist"))
  }

  /** KMV distinct-token estimate per source (k = 256 minimum hash values;
    * groups under k report exact counts). */
  private def qKmv(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("source"),
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("tok"))
    graft.pipeline.Sketch.kmvDistinct(toks, Seq("source"), col("tok"), k = 256)
  }

  /** The WIDE-family twin of q_kmv_distinct: same corpus, same k, the
    * [[graft.pipeline.Hashing.PW]] ≈ 10¹⁸ CRT-pair hash space — the
    * production path for groups whose distinct counts can approach the
    * 30-bit family's ~10⁹ ceiling. Still exact 64-bit integer arithmetic,
    * still DuckDB-replayed value-exactly. */
  private def qKmvWide(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("source"),
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("tok"))
    graft.pipeline.Sketch.kmvDistinct(toks, Seq("source"), col("tok"),
      k = 256, wide = true)
  }

  /** Cross-source vocabulary overlap from KMV k-min sets
    * ([[graft.pipeline.Sketch.kmvJaccardPairs]]): per source pair,
    * Jaccard/union/intersection estimates from ONE bounded aggregate —
    * no pairwise token join anywhere. */
  private def qKmvJaccard(s: SparkSession, dir: String): DataFrame = {
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
  private def qHll(s: SparkSession, dir: String): DataFrame = {
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

  /** The WIDE-family twin of q_hll_distinct: same corpus, same shard
    * merge, cells addressed through the ~10¹⁸ CRT-pair space (60-bit HLL
    * words, rho out of 55) — the register file that keeps resolving past
    * the narrow family's ~10⁹ ceiling. Integer-space harmonic sum stays
    * ≤ m·2^55 < 2^62: still exact, still replayed value-exactly. */
  private def qHllWide(s: SparkSession, dir: String): DataFrame = {
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
  private def qStreamHllWide(s0: SparkSession, dir: String): DataFrame = {
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
  private def qExactQuantile(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sketch.exactQuantiles2Pass(
      events(s, dir).select(col("value")), col("value"),
      Seq(0.5, 0.9, 0.99), 0.0, 512.0, 256)

  /** Pairwise Pearson correlation of the lineitem numeric columns from
    * ONE pass of exact fixed-point moments ([[graft.pipeline.Profile
    * .pairwiseCorrelation]]; scales sized so every moment stays below
    * 2^63 at sf1000 — dollar resolution for extendedprice). */
  private def qCorr(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Profile.pairwiseCorrelation(tbl(s, dir, "lineitem"),
      Seq("l_quantity" -> 100L, "l_extendedprice" -> 1L,
        "l_discount" -> 10000L, "l_tax" -> 10000L))

  /** Term-weighted (tf-cosine) near-duplicate pairs through the pruned
    * postings self-join ([[graft.pipeline.Dedup.tfCosinePairs]]); terms
    * in more than 100 docs dropped before the join (the quadratic-fan-out
    * stop-term guard). */
  private def qTfcosPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.tfCosinePairs(docs(s, dir), "text", "doc_id",
      threshold = 0.5, maxDf = 100)

  /** Order-independent orders-table fingerprint over its non-float
    * columns ([[graft.pipeline.Profile.tableFingerprint]]) — snapshot
    * equality as three integers. */
  private def qTableFp(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Profile.tableFingerprint(tbl(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))

  /** Key-skew diagnostic: the 20 heaviest l_suppkey values with exact
    * shares ([[graft.pipeline.Profile.keySkew]]) — the pre-join probe
    * that picks plain shuffle vs salting vs AQE skew split. */
  private def qKeySkew(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Profile.keySkew(tbl(s, dir, "lineitem"),
      col("l_suppkey"), k = 20)

  /** Simpson repeated-token concentration per document — shuffle-free
    * in-row fold ([[graft.pipeline.TextAnalysis.simpsonDiversity]]),
    * replayed relationally by the oracle. */
  private def qSimpson(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id") +: TextAnalysis.simpsonDiversity(col("text")): _*)

  /** Histogram-sketch quantiles of event value per type: 256 exact-count
    * bins over [0, 512) built on the two user_id-parity shards and MERGED
    * (sum per bin — the deterministic 100 TB quantile sketch; see
    * [[graft.pipeline.Sketch.histogram]]), then p50/p90/p99 read as first
    * cumulative-rank bin edges. */
  private def qHistQuantile(s: SparkSession, dir: String): DataFrame = {
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

  /** Character-trigram LM fluency score: model trained on the even-doc_id
    * half of the corpus (one aggregate pass; ≤ |Σ|³ rows — broadcast-sized
    * by construction), every document scored by average trigram
    * probability in integer micro-units; odd docs can hit OOV trigrams.
    * See [[graft.pipeline.LangModel]]. */
  private def qLmScore(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val model = graft.pipeline.LangModel.trainCharTrigramModel(
      d.filter(col("doc_id") % 2 === 0), col("text"))
    graft.pipeline.LangModel.scoreDocs(d, Seq("doc_id"), col("text"), model)
  }

  /** DSIR-style importance weights against the English slice as the
    * target domain ([[graft.pipeline.Dsir.importanceWeights]]): hashed
    * unigram+bigram profiles (4096 buckets), exact micro-unit likelihood
    * ratios, mean ratio per doc — the domain-targeted data-selection
    * score. */
  private def qDsir(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.pipeline.Dsir.importanceWeights(
      d.select(col("doc_id"), col("text")),
      d.filter(col("lang") === "en").select(col("text")),
      "text", "doc_id", buckets = 4096)
  }

  /** Corpus-wide score-percentile calibration over the event values
    * ([[graft.pipeline.Sketch.withScorePercentile]]): each event's
    * bin-granular ECDF rank in milli-units from the 256-bin histogram
    * sketch — exact integers, no global sort. */
  private def qScoreCalib(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sketch.withScorePercentile(
      events(s, dir).select(col("event_id"), col("value")),
      col("value"), 0.0, 512.0, 256)
      .select(col("event_id"), col("percentile_milli"))

  /** Count-Min sketch (width 512 × depth 3) over the corpus tokens, probed
    * with every token whose exact count ≥ 50: the CMS estimate is an upper
    * bound (never under, over only on collisions), and the exact counts
    * sit alongside so the error is visible in the output. */
  private def qCmsHeavy(s: SparkSession, dir: String): DataFrame = {
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

  /** Bloom filter (2^15 bits, 3 hashes) over the normalized-text
    * fingerprints of the "historical" docs (doc_id % 3 ≠ 0), probed with
    * every doc: zero false negatives by construction; hits outside the
    * history are hash collisions or genuine duplicate texts. */
  private def qBloom(s: SparkSession, dir: String): DataFrame = {
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

  /** Recall@3 of the IVF index (nprobe 4 of 16 cells) against brute-force
    * cosine on the shared 20-query ground-truth set — the ANN quality
    * gauge as a first-class operator. */
  private def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    Similarity.annRecall(qAnnIvf(s, dir), qAnnTopk(s, dir), k = 3)
  }

  /** ANN method report: recall@3 vs the brute-force ground truth for every
    * approximate method in the family, one row per method — the
    * recall-vs-cost tradeoff as a single regression-checked artifact
    * (each method's oracle replay already exists; the report joins each
    * against the exact top-3 and counts hits with exact integers). */
  private def qAnnMethods(s: SparkSession, dir: String): DataFrame = {
    // the exact ground truth joins once per method — without a boundary
    // the brute-force top-k pass re-runs 7x (one per union arm)
    val exact = graft.pipeline.Materializer(
      qAnnTopk(s, dir).select(col("query_id"), col("neighbor_id")),
      eager = false)
    // Shared corpus-scale stages, run ONCE instead of once per arm
    // (guide §1.2 step 1): the 4 IVF-family arms previously each re-ran
    // the coarse-quantizer assignment over the whole corpus (and the two
    // non-residual PQ arms each re-encoded it); the centroid collect also
    // ran once per arm. Same centroids, same expressions, materialized at
    // one lazy boundary each — every arm's candidate set (and the report)
    // is bit-identical to the standalone queries', which keep their own
    // single-arm pipelines.
    val d = quantized(s, dir)
    val (cents, codebooks) = annCodebooks(d)
    val qs = d.filter(col("vec_id") < 20)
    val assigned = graft.pipeline.Materializer(
      Similarity.ivfAssignCorpus(d, "vec_id", "q", cents), eager = false)
    val coded = graft.pipeline.Materializer(
      Similarity.pqEncodeCorpus(d, "vec_id", "q", cents, codebooks),
      eager = false)
    val methods: Seq[(String, DataFrame)] = Seq(
      "lsh" -> Similarity.lshTopK(d, "vec_id", "q", dim = 64, k = 3, nBits = 6),
      "multiprobe" -> Similarity.lshTopKMultiProbe(qs, d, "vec_id", "q",
        dim = 64, k = 3, nBits = 6, probes = 41),
      "ivf" -> Similarity.ivfTopK(qs, d, "vec_id", "q", k = 3,
        centroids = cents, nprobe = 4, assignedCorpus = Some(assigned)),
      "ivfpq" -> Similarity.ivfPqTopK(qs, d, "vec_id", "q", k = 3,
        centroids = cents, nprobe = 4, codebooks = codebooks,
        codedCorpus = Some(coded)),
      "ivfpq_res" -> Similarity.ivfPqTopK(qs, d, "vec_id", "q", k = 3,
        centroids = cents, nprobe = 4, codebooks = codebooks,
        residual = true),
      "sq8" -> qAnnSq8(s, dir),
      "rerank" -> Similarity.ivfPqTopKRerank(qs, d, "vec_id", "q", k = 3,
        centroids = cents, nprobe = 4, codebooks = codebooks, refine = 3,
        codedCorpus = Some(coded)))
    methods.map { case (name, df) =>
      val a = df.select(col("query_id"), col("neighbor_id"))
        .withColumn("__hit", lit(1L))
      exact.join(a, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).alias("n_possible"),
          coalesce(sum(col("__hit")), lit(0L)).alias("n_hits"))
        .select(lit(name).alias("method"), col("n_possible"), col("n_hits"),
          (col("n_hits").cast(DoubleType) / col("n_possible"))
            .alias("recall_at_3"))
    }.reduce(_ unionByName _)
  }

  /** Hour-of-day seasonal decomposition of per-user hourly cent totals
    * (freq = 1 hour, period = 24): phase mean from exact integer sums,
    * deseasonalized = total − phase_mean. */
  private def qSeasonal(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.seasonalAdjust(
      events(s, dir).select(col("user_id"), col("ts"),
        cents(col("value")).alias("vc")),
      "ts", "vc", Seq("user_id"), freq = "1 hour", period = 24)
      .select(col("user_id"), usec(col("bucket_ts")).alias("bucket_ts_us"),
        col("phase"), col("total"), col("phase_mean"), col("deseasonalized"))

  /** Robust scaling of event values per user: (x − median) / IQR with
    * exact selected quantiles (nulls where IQR = 0). */
  private def qRobustScale(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.robustScale(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "value", Seq("user_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("value"), col("value_robust"))

  /** Top-3 power-spectrum bins per user: power from the SAME quantized
    * cents as q_fourier (rc² + ic² — exact integers, so the ranking is
    * engine-deterministic), positive frequencies only, ties by freq. */
  private def qSpectrum(s: SparkSession, dir: String): DataFrame = {
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

  /** Flesch reading ease per doc from exact integer word/sentence/syllable
    * counts, fixed IEEE assembly. */
  private def qReadability(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id") +:
      TextAnalysis.readability(col("text")): _*)

  /** Snapshot diff between two simulated corpus versions: old = doc_id
    * % 4 ≠ 1, new = doc_id % 4 ≠ 2 with every 10th doc's text amended —
    * classifies added / removed / changed / unchanged by normalized-text
    * fingerprint. */
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
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
  private def qProfile(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Profile.describe(tbl(s, dir, "lineitem"),
      Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate",
        "l_discount"))

  /** MinHash candidates verified by exact Levenshtein ≤ 50 on normalized
    * text — the in-place-edit near-dup detector next to the Jaccard one. */
  private def qEditdistPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.editDistanceNearDup(docs(s, dir), "text", "doc_id", maxDist = 50)

  /** k-anonymity gate on (event_type, hour-of-day) quasi-identifiers,
    * k = 60: exact combination counts, releasable flag per row. */
  /** Encoding-QA (mojibake) signals over documents, with a deterministic
    * corruption injected on every 7th doc (café as Ã©, a curly quote as
    * â€™, a replacement char, a BEL control — each restated by the
    * oracle's chr() concat), so both the clean and corrupted paths of
    * every counter are oracle-exercised. */
  /** Unicode-normalization QA
    * ([[graft.pipeline.TextAnalysis.normalizationSignals]]): NFD
    * combining marks, fullwidth forms and zero-width characters — the
    * q_mojibake convention: a deterministic injection on every 9th doc
    * (NFD "e"+U+0301, a fullwidth Ａ, a ZWSP) so both clean and dirty
    * paths of every counter are oracle-gated. */
  private def qNormalizationQa(s: SparkSession, dir: String): DataFrame = {
    val bad = concat(col("text"),
      lit(" cafe\u0301 \uFF21 a\u200Bb"))
    val t = when(col("doc_id") % 9 === 0, bad).otherwise(col("text"))
    docs(s, dir).select(
      (col("doc_id") +: TextAnalysis.normalizationSignals(t)): _*)
  }

  private def qMojibake(s: SparkSession, dir: String): DataFrame = {
    val bad = concat(col("text"),
      lit(" caf\u00C3\u00A9 \u00E2\u0080\u0099 x\uFFFD \u0007"))
    val t = when(col("doc_id") % 7 === 0, bad).otherwise(col("text"))
    docs(s, dir).select(
      (col("doc_id") +: TextAnalysis.encodingSignals(t)): _*)
  }

  /** t-closeness release gate over (event_type, hour) quasi groups with
    * the value OCTILE (floor(value/64), exact: 64 is a power of two) as
    * the ordered sensitive attribute — all-integer EMD numerator, one
    * terminal division. */
  /** DTW behavioral-shape distance ([[graft.tsdf.Dtw]]): consecutive-id
    * user pairs in a bounded anchor set, each user's hour-of-day
    * cent-sum profile; the elastic distance runs as ONE nested-HOF
    * integer DP per pair (pure Column expression, no UDF) and the
    * oracle replays it as the identical nested DuckDB list_reduce. */
  private def qDtw(s: SparkSession, dir: String): DataFrame = {
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

  /** Theil–Sen robust slope per user ([[graft.pipeline.Regression
    * .theilSen]]): lower median of pairwise cent-per-microsecond slopes
    * over the bounded anchor set (user_id < 40, the q_dtw convention) —
    * the outlier-immune trend next to the OLS/Hampel family. */
  private def qTheilSen(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Regression.theilSen(
      events(s, dir).filter(col("user_id") < 40 && col("value").isNotNull),
      Seq("user_id"), unix_micros(col("ts")), cents(col("value")),
      col("event_id"))

  /** Mann–Kendall monotone-trend test per user — Theil–Sen's classical
    * companion over the same bounded anchor set; exact integer S and
    * variance numerator, continuity-corrected z. */
  private def qMannKendall(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Regression.mannKendall(
      events(s, dir).filter(col("user_id") < 40 && col("value").isNotNull),
      Seq("user_id"), unix_micros(col("ts")), cents(col("value")),
      col("event_id"))

  private def qTCloseness(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Pii.tCloseness(
      events(s, dir).select(col("event_type"),
        hour(col("ts")).cast(LongType).alias("hr"),
        floor(col("value") / 64).cast(LongType).alias("vbin")),
      Seq("event_type", "hr"), "vbin", t = 0.15)
      .select(col("event_type"), col("hr"), col("group_n"),
        col("emd_num"), col("emd"), col("t_close_ok"))

  private def qKAnon(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Pii.kAnonymize(
      events(s, dir).select(col("event_id"), col("event_type"),
        hour(col("ts")).cast(LongType).alias("hr")),
      Seq("event_type", "hr"), k = 60)

  /** Trailing-7-day distinct-user ESTIMATE per day from merged per-day
    * KMV sets (k = 64) — the sketch-merge scale path next to q_wau's
    * exact day-explode twin. */
  private def qWauKmv(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sketch.kmvDistinctTrailing(
      events(s, dir).select(col("ts"), col("user_id")),
      expr("unix_micros(ts) div 86400000000"),
      col("user_id").cast(StringType), k = 64, windowBuckets = 7)

  /** Trailing-7-day WAU via merged HLL register files
    * ([[graft.pipeline.Sketch.hllDistinctTrailing]]) — the register-merge
    * sibling of q_wau_kmv over the same day buckets. */
  private def qWauHll(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sketch.hllDistinctTrailing(
      events(s, dir).select(col("ts"), col("user_id")),
      expr("unix_micros(ts) div 86400000000"),
      col("user_id").cast(StringType), windowBuckets = 7)
      .select(col("win"), col("n_zero"), col("s_int"), col("hll_est"))

  /** SCD2 dimension build from the event log: per user, event_type
    * versions with [valid_from, valid_to) validity, no-op re-emits
    * collapsed ([[graft.pipeline.Cdc.scd2FromLog]]). */
  private def qScd2(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Cdc.scd2FromLog(
      events(s, dir).select(col("user_id"), col("ts"), col("event_type"),
        col("event_id")),
      "user_id", "ts", Seq("event_type"), tieCols = Seq("event_id"))
      .select(col("user_id"), col("event_type"),
        usec(col("valid_from")).alias("valid_from_us"),
        usec(col("valid_to")).alias("valid_to_us"), col("is_current"))

  /** Point-in-time dimension lookup: every event joined to the version
    * live at its timestamp from a dim built on a THIRD of the log
    * (facts before the first version get nulls — the no-leakage
    * training-data join, [[graft.pipeline.Cdc.asOfLookup]]). */
  private def qScd2Lookup(s: SparkSession, dir: String): DataFrame = {
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
  private def qCrossZ(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.crossSectionalZ(
      events(s, dir).select(col("event_id"), col("user_id"), col("ts"),
        col("value")),
      Seq("event_id", "user_id"),
      expr("unix_micros(ts) div 3600000000"), col("value"))

  /** LTTB shape-preserving downsample to 16 points per user
    * ([[graft.functions.LttbSelect]] — deterministic integer buckets +
    * fixed-IEEE triangle areas; the oracle replays the sequential
    * selection as a recursive candidate-scan CTE). */
  private def qLttb(s: SparkSession, dir: String): DataFrame = {
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
  private def qRollingP90(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.rollingQuantile(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "ts", "value", Seq("user_id"), window = 20, p = 0.9,
      tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("value"), col("rolling_p90_value"))

  /** Per-session rollup over 30-minute inactivity sessions: span, event
    * count, purchases, exact cent totals — the composition of sessionize +
    * one aggregate every clickstream pipeline runs. */
  private def qSessionStats(s: SparkSession, dir: String): DataFrame =
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

  /** Market-basket co-occurrence with exact lift over session item sets. */
  private def qCooccur(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Analytics.cooccurrence(sessionBaskets(s, dir),
      Seq("user_id", "session_id"), "item")

  /** Exact-integer PageRank (10 iterations) over the symmetric session
    * co-occurrence item graph. Kept fully declarative after an r18 A/B:
    * the static plan holds ~418 Exchange nodes but runtime exchange
    * reuse collapses them — persistEdges (4.7 s) and checkpointEvery=5
    * (9.4 s) both measured SLOWER than the declarative form (2.7 s
    * isolated at sf0.1); the persist/checkpoint seams remain the
    * documented deep-run knobs on [[graft.pipeline.Analytics.pagerank]]
    * for cluster-scale iteration counts where driver re-planning, not
    * executor time, dominates. */
  private def qPagerank(s: SparkSession, dir: String): DataFrame = {
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
  private def qTriangles(s: SparkSession, dir: String): DataFrame = {
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
  private def qRfm(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Analytics.rfm(
      tbl(s, dir, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).alias("o_date"),
        cents(col("o_totalprice")).cast(LongType).alias("price_cents")),
      "o_custkey", "o_date", "price_cents", buckets = 5)
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary"), col("r"), col("f"), col("m"), col("rfm_segment"))

  /** l-diversity gate over (event_type, hour) groups with user_id as the
    * sensitive attribute, l = 20. */
  private def qLDiversity(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Pii.lDiversity(
      events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), hour(col("ts")).cast(LongType).alias("hr")),
      Seq("event_type", "hr"), "user_id", l = 20)
      .select(col("event_id"), col("event_type"), col("hr"),
        col("group_l"), col("l_diverse_ok"))

  /** Benford first-digit audit of cents(value) per event type. */
  private def qBenford(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Profile.benfordDigits(
      events(s, dir).select(col("event_type"),
        cents(col("value")).cast(LongType).alias("c")),
      "c", Seq("event_type"))
      .select(col("event_type"), col("digit"), col("n"), col("n_total"),
        col("observed_p"), col("expected_p"), col("dev"))

  /** OOV ratio per document against the corpus top-500 vocabulary. */
  private def qOov(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.oovStats(docs(s, dir), "text", "doc_id", vocabSize = 500)
      .select(col("doc_id"), col("n_tokens"), col("n_oov"), col("oov_ratio"))

  /** Ordered view→click→purchase funnel per user: earliest re-anchored
    * completion chain, selected timestamps only. */
  private def qFunnel(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Analytics.funnel(events(s, dir), "ts", "user_id",
      "event_type", Seq("view", "click", "purchase"))

  /** One-scan multi-granularity rollup: (event_type, day, hour) leaves
    * plus per-day, per-type and grand-total levels from a single expand
    * + aggregate, levels tagged by the SQL-standard grouping bitmask. */
  private def qTimeRollup(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Analytics.timeRollup(
      events(s, dir), "ts", Seq("event_type"), cents(col("value")))
      .select(col("event_type"), col("day"), col("hr"), col("gid"),
        col("n_events"), col("sum_cents"))

  /** Regex sequence-pattern detection per user: "a view, any amount of
    * browsing (views/other), then a click IMMEDIATELY followed by a
    * purchase" — adjacency a chained funnel join cannot express. */
  private def qSeqPattern(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Analytics.sequencePattern(
      events(s, dir), "ts", Seq("user_id"), "event_type",
      Map("view" -> "v", "click" -> "c", "purchase" -> "p"),
      pattern = "v[vo]*cp", tieCols = Seq("event_id"))
      .select(col("user_id"), col("trace_len"), col("n_matches"),
        col("first_pos"))

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
  private def qStreamSeqPattern(s0: SparkSession, dir: String): DataFrame = {
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
  private def qRetention(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Analytics.retentionCohorts(events(s, dir), "ts",
      "user_id", periodDays = 7)

  /** Trailing-7-day active users per observed day (WAU) via the
    * day-explode decomposition — exact distinct, no sliding state. */
  private def qWau(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Analytics.slidingActiveUsers(events(s, dir), "ts",
      "user_id", windowDays = 7)

  /** Inter-arrival gap statistics per user: mean gap + coefficient of
    * variation from exact second-quantized BIGINT moment sums. */
  private def qInterArrival(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Analytics.interArrival(events(s, dir), "ts",
      Seq("user_id"), tieCols = Seq("event_id"))

  /** Nucleus vocabulary coverage
    * ([[graft.pipeline.TextAnalysis.nucleusCoverage]]): per source, the
    * smallest k types covering 90% of token mass — the template-spam /
    * tokenizer-sizing diagnostic, all exact integers (cross-multiplied
    * coverage test, no division). */
  private def qNucleus(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextAnalysis.nucleusCoverage(
      docs(s, dir), "text", "source", pPercent = 90)

  /** Zipf slope ([[graft.pipeline.TextAnalysis.zipfSlope]]): the log-log
    * frequency-vs-rank OLS slope per source — the power-law diagnostic
    * (natural text ≈ −1), milli-quantized ln moments in exact BIGINTs,
    * scale-invariant fixed-order slope. */
  private def qZipf(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextAnalysis.zipfSlope(docs(s, dir), "text", "source")

  /** Word-bigram LM quality scoring
    * ([[graft.pipeline.TextAnalysis.lmBigramScore]]): per-doc average
    * log-prob under the add-one-smoothed corpus bigram model —
    * sequence-level gibberish detection next to q_lm_score's
    * char-trigram model. */
  private def qLmBigram(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextAnalysis.lmBigramScore(docs(s, dir), "text", "doc_id")

  /** Interpolated Kneser–Ney smoothed bigram LM — the CCNet-class
    * perplexity filter: discounted seen mass interpolated with the
    * continuation distribution (distinct-context counts, a second
    * aggregate over the MODEL, not a second corpus scan). */
  private def qLmKn(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextAnalysis.lmKneserNeyScore(docs(s, dir), "text",
      "doc_id")

  /** MODIFIED Kneser–Ney bigram LM
    * ([[graft.pipeline.TextAnalysis.lmModKneserNeyScore]]): q_lm_kn
    * with the production discount schedule — per-count-class discounts
    * D₁/D₂/D₃₊ estimated from the model's count-of-counts (Chen &
    * Goodman 1999, the KenLM default) instead of one fixed D. Zero
    * extra corpus scans: the count-of-counts are one more aggregate
    * over the bigram model table. */
  private def qLmMkn(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextAnalysis.lmModKneserNeyScore(docs(s, dir), "text",
      "doc_id")

  /** MODIFIED Kneser–Ney TRIGRAM LM
    * ([[graft.pipeline.TextAnalysis.lmModKneserNey3Score]]): q_lm_kn3
    * with per-ORDER Chen & Goodman discount schedules — order 3
    * estimated from the trigram count-of-counts, order 2 from the
    * continuation-count table's own count-of-counts. Zero extra corpus
    * scans or joins over q_lm_kn3: both schedules fold into the one
    * broadcast scalar row. */
  private def qLmMkn3(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextAnalysis.lmModKneserNey3Score(docs(s, dir), "text",
      "doc_id")

  /** CCNet-style perplexity buckets (Wenzek et al. 2020): docs ranked by
    * smoothed-LM score and cut into head/middle/tail terciles — the
    * standard quality-stratified sampling artifact. ntile over the total
    * order (score desc, doc_id) is engine-identical; the scores already
    * hash-match in q_lm_kn, so the ordering does too. The global sort is
    * report-shaped: at 100 TB the same cut comes from two quantile
    * thresholds instead of a full ntile — the operator exists for the
    * artifact, not the sort. */
  private def qPplBuckets(s: SparkSession, dir: String): DataFrame = {
    val kn = graft.pipeline.TextAnalysis.lmKneserNeyScore(
      docs(s, dir), "text", "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("avg_logp").desc_nulls_last, col("doc_id"))
    kn.withColumn("ppl_bucket", ntile(3).over(w).cast(LongType))
      .select(col("doc_id"), col("n_bigrams"), col("ppl_bucket"))
  }

  /** Trigram interpolated Kneser–Ney — the production LM order for
    * CCNet-class filters: raw counts at the trigram level backing off to
    * continuation-count bigram and add-one-floored unigram
    * distributions, every lower order an aggregate OVER THE MODEL
    * ([[graft.pipeline.TextAnalysis.lmKneserNey3Score]]). */
  private def qLmKn3(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextAnalysis.lmKneserNey3Score(docs(s, dir), "text",
      "doc_id")

  /** q_lm_kn3's MATERIALIZED bench face — same rows, same oracle, but
    * the per-trigram contributions pass an eager [[graft.pipeline
    * .Materializer]] boundary before the doc fold. The plain row's
    * bench number is count-pruned (the finish is a LEFT JOIN of the doc
    * universe with a unique-key score table, so Catalyst correctly
    * eliminates the scoring joins under `count()` — measured, SURVEY
    * §21.3); this face pins the scoring work inside the timed region so
    * the flagship LM family has an honest bench row. */
  private def qLmKn3Mat(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.pipeline.TextAnalysis.lmKneserNey3Finish(
      graft.pipeline.Materializer(
        graft.pipeline.TextAnalysis.lmKneserNey3Contribs(d, d, "text",
          "doc_id"), eager = true),
      d.select(col("doc_id")), "doc_id")
  }

  /** [[qLmMkn3]]'s materialized bench face — the [[qLmKn3Mat]]
    * convention on the modified-KN model: the per-trigram contributions
    * cross an eager Materializer boundary before the doc fold, so the
    * bench row pays the real scoring cost the count-pruned q_lm_mkn3
    * number elides. Same rows, same oracle. */
  private def qLmMkn3Mat(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.pipeline.TextAnalysis.lmKneserNey3Finish(
      graft.pipeline.Materializer(
        graft.pipeline.TextAnalysis.lmModKneserNey3Contribs(d, d, "text",
          "doc_id"), eager = true),
      d.select(col("doc_id")), "doc_id")
  }

  /** The 100-TB face of [[qPplBuckets]]: the same CCNet head/middle/tail
    * artifact from TWO THRESHOLD SCORES (exact distributed radix
    * selection over the integer score key) and a stateless per-doc cut —
    * zero global sorts, zero single-partition windows anywhere
    * ([[graft.pipeline.TextAnalysis.pplBucketsByThreshold]]). Ties share
    * a bucket (counts match ntile exactly only on tie-free data — the
    * honest threshold semantics Wenzek et al. actually computed). */
  private def qPplBucketsScaled(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextAnalysis.pplBucketsByThreshold(
      graft.pipeline.TextAnalysis.lmKneserNeyScore(
        docs(s, dir), "text", "doc_id"), "doc_id")

  /** The production CCNet composition: the flagship filter
    * ([[qPplBucketsScaled]]'s radix threshold-cut — zero global sorts)
    * bucketing on the flagship model's scores (modified Kneser–Ney
    * TRIGRAM, [[qLmMkn3]] — the per-count-class Chen & Goodman
    * schedule CCNet's actual KenLM filter runs). Same two plan shapes
    * composed, no new operators; ties share the upper bucket exactly as
    * the bigram face documents. */
  private def qPplBucketsMkn(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextAnalysis.pplBucketsByThreshold(
      graft.pipeline.TextAnalysis.lmModKneserNey3Score(
        docs(s, dir), "text", "doc_id"), "doc_id", "n_trigrams")

  /** Streaming Kneser–Ney perplexity gate: the model trains batch-side
    * (corpus under an sf dir is immutable — the dsir/bpe convention) and
    * every ARRIVING doc's bigram contributions emit through stateless
    * stream-static model joins; the per-doc fold runs over the sink
    * ([[graft.pipeline.TextAnalysis.lmKneserNeyFinish]]). Shares
    * q_lm_kn's replay verbatim. */
  private def qStreamLmKn(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val sink = runStream(s, graft.pipeline.TextAnalysis.lmKneserNeyContribs(
      docs(s, dir), docsStream(s, dir).select(col("doc_id"), col("text")),
      "text", "doc_id"))
    graft.pipeline.TextAnalysis.lmKneserNeyFinish(sink,
      docs(s, dir).select(col("doc_id")), "doc_id")
  }

  /** Streaming TRIGRAM Kneser–Ney perplexity gate — the production LM
    * order at the ingest boundary: the frozen trigram model's joins are
    * all stream-static (one level deeper than [[qStreamLmKn]], same
    * stateless-contribs contract), the per-doc fold runs over the sink
    * ([[graft.pipeline.TextAnalysis.lmKneserNey3Finish]]). Shares
    * q_lm_kn3's replay verbatim. */
  private def qStreamLmKn3(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val sink = runStream(s, graft.pipeline.TextAnalysis.lmKneserNey3Contribs(
      docs(s, dir), docsStream(s, dir).select(col("doc_id"), col("text")),
      "text", "doc_id"))
    graft.pipeline.TextAnalysis.lmKneserNey3Finish(sink,
      docs(s, dir).select(col("doc_id")), "doc_id")
  }

  /** Streaming conformal coverage gate — q_conformal's verdicts at the
    * ingest boundary: the per-group conformal model AND the held-out
    * test-row keys freeze batch-side (corpus under an sf dir is
    * immutable — the lm-KN convention), every ARRIVING event joins the
    * test-key table and the model stream-statically and emits its 0/1
    * verdict with zero state; the per-group fold runs over the sink
    * ([[graft.pipeline.Regression.conformalFinish]]). Shares
    * q_conformal's replay verbatim. */
  private def qStreamConformal(s0: SparkSession, dir: String): DataFrame = {
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

  /** Grouped multivariate OLS ([[graft.pipeline.Regression.groupOls2]]):
    * per user, cent value regressed on (hour-of-day, weekday) — exact
    * integer moment sums, fixed-order Cramer solve, null βs on
    * singular groups. */
  private def qGroupOls(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Regression.groupOls2(events(s, dir), Seq("user_id"),
      hour(col("ts")).cast(LongType), weekday(col("ts")).cast(LongType),
      cents(col("value")).cast(LongType))

  /** Split-conformal prediction intervals per user
    * ([[graft.pipeline.Regression.conformalSplit]]): chronological
    * 60/20/20 split of each user's event values, train-mean predictor
    * kept as an exact rational, calibration-residual conformal quantile
    * at α = 0.1, coverage measured on the held-out tail — the
    * distribution-free interval artifact next to q_walk_forward's point
    * forecasts. */
  private def qConformal(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Regression.conformalSplit(
      events(s, dir).filter(col("ts").isNotNull && col("value").isNotNull),
      Seq("user_id"), cents(col("value")).cast(LongType),
      Seq(col("ts"), col("event_id")), alphaMilli = 100L)

  /** Gini concentration ([[graft.pipeline.Profile.giniConcentration]]):
    * per nation, how concentrated is order revenue across customers —
    * exact rank/moment integers + two fixed-order terminal divisions. */
  private def qGini(s: SparkSession, dir: String): DataFrame = {
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
  private def qFd(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Profile.fdCheck(tbl(s, dir, "orders"),
      col("o_custkey"), col("o_orderpriority"))
      .select(col("x").alias("o_custkey"), col("n_rows"),
        col("n_distinct_y"), col("is_violation"))

  /** Categorical mutual information ([[graft.pipeline.Drift.mutualInfo]]):
    * dependence between event_type and hour-of-day — exact integer MI
    * numerator over micro-quantized cell PMIs, one terminal division. */
  private def qMi(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Drift.mutualInfo(events(s, dir),
      col("event_type"), hour(col("ts")).cast(LongType))

  /** PMI collocation mining ([[graft.pipeline.TextAnalysis.pmiBigrams]]):
    * adjacent-token PMI over the corpus in the overflow-safe sum form,
    * micro-unit quantized (the BM25 ln discipline), min-count 5. */
  private def qPmi(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextAnalysis.pmiBigrams(docs(s, dir), "text",
      minCount = 5L)

  /** Jaro-Winkler ER verify ([[graft.pipeline.StringSim.jaroWinkler]]):
    * consecutive-key part-name pairs in a bounded set (the blocking
    * stage's candidate shape); the greedy window matching replays in
    * DuckDB as a filter-inside-reduce fold (see OracleSql.jaroSql for
    * why not reduce-inside-reduce). */
  private def qJaro(s: SparkSession, dir: String): DataFrame = {
    val p = tbl(s, dir, "part").select(col("p_partkey"), col("p_name"))
      .filter(col("p_partkey") < 40)
    val pairs = p.select(col("p_partkey").alias("part_a"),
        col("p_name").alias("__na"))
      .join(p.select(col("p_partkey").alias("part_b"),
        col("p_name").alias("__nb")),
        col("part_b") === col("part_a") + 1)
    graft.pipeline.StringSim.jaroWinkler(pairs, col("__na"), col("__nb"))
      .select(col("part_a"), col("part_b"), col("la"), col("lb"),
        col("m"), col("t2"), col("prefix"), col("jw"))
  }

  /** Token-level LCS ([[graft.pipeline.StringSim.lcsTokenLength]]):
    * consecutive-doc pairs in a bounded anchor set (the q_jaro blocking
    * convention), LCS DP over the first 24 normalized token hashes as
    * one nested fold; the oracle replays the identical nested
    * list_reduce (fixed padded length — hazard-immune). */
  private def qLcs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("doc_id") < 40)
      .select(col("doc_id"), col("text"))
    val pairs = d.select(col("doc_id").alias("doc_a"),
        col("text").alias("__ta"))
      .join(d.select(col("doc_id").alias("doc_b"),
        col("text").alias("__tb")),
        col("doc_b") === col("doc_a") + 1)
    graft.pipeline.StringSim.lcsTokenLength(pairs, col("__ta"), col("__tb"))
      .select(col("doc_a"), col("doc_b"), col("la"), col("lb"),
        col("lcs_len"), col("lcs_sim"))
  }

  /** Kaplan–Meier survival per event_type
    * ([[graft.pipeline.Analytics.kaplanMeier]]): duration = ⌊value⌋,
    * right-censored where event_id % 4 == 0; exact integer risk sets,
    * left-to-right fold for the survival product. */
  private def qKaplanMeier(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Analytics.kaplanMeier(
      events(s, dir).filter(col("value").isNotNull),
      Seq("event_type"),
      floor(col("value")).cast(LongType),
      col("event_id") % 4 =!= 0)

  /** Streaming Kaplan–Meier: additive (group, t) grid deltas
    * ([[graft.streaming.StreamingTSDF.kmDeltas]]) fold to the exact
    * batch grid, then the shared batch tail — shares q_kaplan_meier's
    * oracle verbatim. */
  private def qStreamKaplanMeier(s0: SparkSession, dir: String): DataFrame = {
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

  /** First-order Markov transition matrix
    * ([[graft.pipeline.Analytics.transitionMatrix]]): adjacent
    * event-type steps per user in (ts, event_id) order, exact counts +
    * one terminal division for the transition probability. */
  private def qTransitions(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Analytics.transitionMatrix(events(s, dir), "ts",
      Seq("user_id"), "event_type", tieCols = Seq("event_id"))

  /** EW mean + variance (RiskMetrics volatility), α = 0.25; recursive-CTE
    * oracle replays the one-pass recursion bit-for-bit. */
  private def qEwmVar(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "user_id", col("value"))
      .ewmVolatility("value", alpha = 0.25)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("value"),
        col("ewm_mean_value"), col("ewm_var_value"))

  /** Hampel despike (±3 rows, k = 3): replace with the frame median when
    * more than k·MAD away — exact selections, fixed IEEE comparisons. */
  private def qHampel(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.hampel(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "ts", "value", Seq("user_id"), w = 3, k = 3.0,
      tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("value"), col("value_spike"), col("value_hampel"))

  /** Streaming EW mean/variance twin — shares q_ewm_var's recursive-CTE
    * oracle (same IEEE recursion, same columns). */
  private def qStreamEwmVar(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.ewmVolatility(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value", alpha = 0.25)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("ewm_mean_value"), col("ewm_var_value"))
  }

  /** Streaming Wilder RSI twin — shares q_rsi's recursive-CTE oracle. */
  private def qStreamRsi(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.rsi(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value", n = 14)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("rsi_value"))
  }

  /** Streaming MACD twin — shares q_macd's recursive-CTE oracle. */
  private def qStreamMacd(s0: SparkSession, dir: String): DataFrame = {
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
  private def qStreamThreshold(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.thresholdCrossings(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value", threshold = 50.0)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      usec(col("prev_ts")).alias("prev_ts_us"), col("prev_value"),
      col("value"), col("direction"))
  }

  /** Streaming Donchian-channel twin — shares q_donchian's oracle. */
  private def qStreamDonchian(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.donchian(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value", window = 20)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("dc_upper"), col("dc_lower"), col("dc_mid"))
  }

  /** Streaming Holt-Winters twin on the raw per-user series (m=24) —
    * oracle is the same recursion replayed over raw values. */
  private def qStreamHw(s0: SparkSession, dir: String): DataFrame = {
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
  private def qStreamStochastic(s0: SparkSession, dir: String): DataFrame = {
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
  private def qStreamDrawdown(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.drawdown(
      eventsStream(s, dir).select(col("user_id"), col("ts"), col("value")),
      "ts", Seq("user_id"), "value")
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("value"), col("peak_value"), col("drawdown_value"))
  }

  /** Registered-domain rollup over synthesized URLs (5 hosts across 3
    * registered domains, one blocklisted): doc counts + total chars +
    * blocked flag per domain. */
  private def qDomainStats(s: SparkSession, dir: String): DataFrame = {
    val host = col("doc_id") % 5
    val url = when(host === 0, lit("https://WWW.News.Example.COM/a"))
      .when(host === 1, lit("http://blog.example.com:8080/p?x=1"))
      .when(host === 2, lit("https://spam.tracker.net/lp"))
      .when(host === 3, lit("https://Docs.Example.ORG/ref#top"))
      .otherwise(lit("https://example.com/"))
    val blocklist = Seq("tracker.net")
    docs(s, dir)
      .withColumn("domain", TextAnalysis.registeredDomain(url))
      .groupBy(col("domain"))
      .agg(count(lit(1)).alias("n_docs"),
        sum(col("n_chars")).alias("total_chars"))
      .withColumn("blocked", col("domain").isin(blocklist: _*))
  }

  /** Histogram-partitioned curriculum shards: 4 shards of ~equal token
    * mass in descending n_chars order — no global row sort. */
  private def qCurriculum(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Splits.curriculumShards(
      docs(s, dir).select(col("doc_id"), col("n_chars"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).alias("n_tokens")),
      "n_chars", "n_tokens", nShards = 4)
      .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("shard"))

  /** The postings index itself, oracle-gated row-for-row (restricted to a
    * doc_id slice to keep the dump small — the full index is
    * corpus-token-sized). */
  private def qPostingsIndex(s: SparkSession, dir: String): DataFrame =
    Retrieval.buildPostingsIndex(
      docs(s, dir).filter(col("doc_id") % 17 === 0), "text", "doc_id")

  /** Per-language sampling fractions — `es`/`zh` fall through to the
    * default, exercising that path. */
  val StratifiedFractions: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2)

  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Splits.stratifiedSample(
      docs(s, dir).select(col("doc_id"), col("lang")), "doc_id", "lang",
      StratifiedFractions, defaultFraction = 0.1)

  /** Footer lines injected so the single-line synthetic corpus exercises
    * boilerplate detection (same trick as q_pii): one line shared by every
    * doc, one per source (25 docs at sf0.01), one rare (doc_id % 50). With
    * minDocs = 20 the rare line survives at sf0.01. */
  private def boilerInjectedText: Column = concat(col("text"),
    lit("\nSubscribe to our newsletter"),
    lit("\nCopyright "), col("source"),
    when(col("doc_id") % 50 === 0, lit("\nRare footer")).otherwise(lit("")))

  private def qBoilerplate(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Dedup.removeBoilerplateLines(
      docs(s, dir).select(col("doc_id"), boilerInjectedText.alias("__t")),
      "__t", "doc_id", minDocs = 20)
      .select(col("doc_id"), col("n_lines").cast(LongType).alias("n_lines"),
        col("n_removed"), col("clean_fp"))

  /** Per-source token budgets: two named sources capped hard, the rest at
    * the small default — exercises both the named and fall-through paths. */
  val MixtureBudgets: Map[String, Long] = Map("src0" -> 1000L, "src1" -> 500L)

  private def qMixtureBudget(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Splits.tokenBudgetMixture(
      docs(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.bpeTokenEstimate(col("text")).cast(LongType).alias("tokens")),
      "doc_id", "source", "tokens", MixtureBudgets, defaultBudget = 200L)

  /** Temperature-flattened source mixture (α = 0.5 — the sqrt point of
    * the exponentiated-sampling family, chosen for bit-exact cross-engine
    * replay): per-source sampling probability and integer token budget
    * over the same tokenizer-estimate counts as q_mixture_budget; the
    * budgets drive [[graft.pipeline.Splits.tokenBudgetMixture]]. */
  private def qTemperatureMix(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Splits.temperatureBudgets(
      docs(s, dir).select(col("source"),
        TextAnalysis.bpeTokenEstimate(col("text")).cast(LongType)
          .alias("tokens")),
      "source", "tokens", totalBudget = 100000L)

  /** Span-level 3-gram decontamination against the same deterministic eval
    * subset as q_contamination (doc_id % 7) — eval docs hit themselves at
    * frac 1.0; genuine shared spans show up as partial fractions. */
  private def qDecontamNgram(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Dedup.ngramDecontaminate(
      docs(s, dir), docs(s, dir).filter(col("doc_id") % 7 === 0),
      "text", "doc_id", w = 3)
      .select(col("doc_id"), col("n_grams").cast(LongType).alias("n_grams"),
        col("hit_grams"), col("hit_frac"))

  /** Cross-source 3-gram overlap matrix
    * ([[graft.pipeline.Dedup.sourceOverlapMatrix]]): the corpus-pair
    * contamination/duplication sizing artifact — exact shared-vocabulary
    * counts per source pair off one distinct (source, gram) aggregate. */
  private def qSourceOverlap(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Dedup.sourceOverlapMatrix(docs(s, dir), "text", "source")

  private def qPackSequences(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.packSequences(
      docs(s, dir), "text", "doc_id", Seq("source"), capacity = 2048)

  /** Per-training-sequence fill report from the same packing pass. */
  private def qSeqFill(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.sequenceFill(
      docs(s, dir), "text", "doc_id", Seq("source"), capacity = 2048)

  private def qAnomalyMad(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.robustAnomalies(
      events(s, dir).select(col("user_id"), col("value")),
      "value", Seq("user_id"), k = 3.0)

  /** Per-series autocorrelation at lags 1..3 of the cent-quantized value —
    * exact BIGINT moment sums assembled into the ACF ratio in one fixed
    * operation order, so the doubles replay bit-for-bit in DuckDB. */
  private def qAcf(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.acf(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", "vc", Seq("user_id"), maxLag = 3, tieCols = Seq("event_id"))

  /** Durbin–Levinson PACF over the q_acf estimates
    * ([[graft.tsdf.Stats.pacf]]): the recursion unrolled into one shared
    * expression string both engines parse. */
  private def qPacf(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.pacf(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", "vc", Seq("user_id"), maxLag = 3, tieCols = Seq("event_id"))

  /** Calendar covariates from exact integer epoch-µs arithmetic. */
  private def qTimeFeatures(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(col("event_id") +:
      usec(col("ts")).alias("ts_us") +:
      graft.tsdf.TimeFeatures.calendar(col("ts")): _*)

  /** Per-user winsorization of the raw value at the exact 5th/95th
    * percentile bounds. */
  private def qWinsorize(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.winsorize(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      "value", Seq("user_id"), pLo = 0.05, pHi = 0.95)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("value"), col("value_w"))

  /** Rolling trend correlation over the trailing 20 observations of the
    * cent-quantized value, per user. */
  private def qRollingCorr(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.rollingTrendCorr(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", "vc", Seq("user_id"), window = 20, tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("vc"), col("trend_corr_vc"))

  /** CUSUM change-point per user: argmax_t |Σ_{i≤t} c_i − t·μ| over the
    * cent-quantized value, ties to the earliest row. */
  private def qCusum(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.cusum(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", "vc", Seq("user_id"), tieCols = Seq("event_id"))
      .select(col("user_id"), col("n"), col("cusum_max_abs"),
        usec(col("changepoint_ts")).alias("changepoint_ts_us"))

  /** Page's CUSUM control chart per user vs a 50.00 target (cents: 5000),
    * slack 5.00, threshold 200.00 — both chart sides are exact BIGINTs
    * from the reflection-identity window plan. */
  private def qCusumControl(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.cusumControl(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", "vc", Seq("user_id"), target = 5000L, slack = 500L,
      threshold = 20000L, tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("vc"), col("cusum_hi"), col("cusum_lo"), col("alert"))

  /** Streaming CUSUM control chart as a real single-batch streaming query —
    * the same exact integers as the batch plan by construction (per-user
    * timestamps are unique, so ordering agrees). */
  private def qStreamCusum(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.cusumControl(
      eventsStream(s, dir).select(col("user_id"), col("ts"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", Seq("user_id"), "vc", target = 5000L, slack = 500L,
      threshold = 20000L)
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("vc"), col("cusum_hi"), col("cusum_lo"), col("alert"))
  }

  /** File-source stream over documents.parquet (one file ⇒ a single
    * AvailableNow micro-batch, like [[eventsStream]]). */
  private def docsStream(s: SparkSession, dir: String): DataFrame = {
    val sch = s.read.parquet(s"$dir/documents.parquet").schema
    s.readStream.schema(sch).option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
  }

  /** File-source stream over embeddings.parquet (same single-micro-batch
    * AvailableNow shape as [[docsStream]]). */
  private def embStream(s: SparkSession, dir: String): DataFrame = {
    val sch = s.read.parquet(s"$dir/embeddings.parquet").schema
    s.readStream.schema(sch).option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)
  }

  /** Streaming DSIR gate as a real streaming query: the ratio table is
    * trained batch-side ([[graft.pipeline.Dsir.collectRatios]] — bounded
    * by the bucket count) and every ARRIVING document scores through the
    * join-free map-literal expression
    * ([[graft.pipeline.Dsir.scoreColumn]]) — stateless, so any
    * micro-batching gives the same answer; shares q_dsir's oracle
    * verbatim. */
  /** Trained-once-per-sf-dir DSIR ratio table (a model is a materialized
    * artifact — the postingsIndex convention; corpus data under an sf dir
    * is immutable, so the stream gate measures the SCORING path). */
  private val dsirRatioCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Long, Long]]()

  private def qStreamDsir(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val ratios = dsirRatioCache.computeIfAbsent(dir, _ => {
      val d = docs(s, dir)
      graft.pipeline.Dsir.collectRatios(
        d.filter(col("lang") === "en").select(col("text")),
        graft.pipeline.Dsir.hashedGramCounts(d, col("text"), 4096),
        col("text"), 4096)
    })
    val out = docsStream(s, dir).select(col("doc_id"),
        graft.pipeline.Dsir.scoreColumn(col("text"), ratios, 4096).alias("__s"))
      .select(col("doc_id"), col("__s.n_grams").alias("n_grams"),
        col("__s.sum_ratio_milli").alias("sum_ratio_milli"),
        col("__s.dsir_weight").alias("dsir_weight"))
    runStream(s, out)
  }

  /** Streaming KMV distinct-token sketch ([[graft.streaming.StreamingTSDF
    * .kmvMins]]): each (input partition, micro-batch) emits its own k
    * smallest distinct hashes per source — a hash may be emitted by
    * several of them, the sink is a superset of the final k-min set, and
    * the batch k-min fold
    * ([[graft.pipeline.Sketch.kmvFromHashes]]) over the sink reproduces
    * the batch sketch exactly for any micro-batch split — so the query
    * shares q_kmv_distinct's oracle verbatim. */
  private def qStreamKmv(s0: SparkSession, dir: String): DataFrame = {
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
  private def qStreamKmvWide(s0: SparkSession, dir: String): DataFrame = {
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
  private def qStreamCms(s0: SparkSession, dir: String): DataFrame = {
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
  private def qStreamBloom(s0: SparkSession, dir: String): DataFrame = {
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

  /** Streaming Gram trainer feed: exact integer second-moment DELTAS from
    * the embedding ingest stream ([[graft.streaming.StreamingTSDF
    * .gramDeltas]], corpus-global accumulation emitted per input partition
    * and micro-batch) sum-rolled per cell into the exact batch grid — Gram sums
    * are additive, so the roll equals [[graft.pipeline.Pca.gramMatrix]]
    * for any micro-batching and the query shares q_gram_matrix's oracle
    * verbatim. This is the streaming face of the one-pass PCA/covariance
    * trainer: an incremental model refresh folds the sink and re-runs the
    * driver-side eigensolve without ever rescanning the corpus. */
  private def qStreamGram(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val vecs = embStream(s, dir).select(
      transform(col("embedding"),
        x => round(x.cast(DoubleType) * 1000)).alias("q"))
    val deltas = graft.streaming.StreamingTSDF.gramDeltas(
      vecs, col("q"), dim = 64)
    val folded = runStream(s, deltas)
      .groupBy(col("k"))
      .agg(sum(col("s")).alias("s"), sum(col("n")).alias("n"))
    val pairs = for { i <- 0 until 64; j <- i until 64 } yield (i, j)
    val iLit = typedLit(pairs.map(_._1.toLong))
    val jLit = typedLit(pairs.map(_._2.toLong))
    folded.select(
      element_at(iLit, col("k").cast(IntegerType) + 1).alias("i"),
      element_at(jLit, col("k").cast(IntegerType) + 1).alias("j"),
      col("n"), col("s"))
  }

  /** Streaming DTW: per-(user, hour-of-day) cent-sum DELTAS from the
    * ingest stream ([[graft.streaming.StreamingTSDF.sumDeltas]] — sums
    * are additive, so the fold equals the batch grouped sums for any
    * micro-batching), assembled into the same 24-slot profiles and run
    * through the same nested-HOF DP — behavioral-shape distances that
    * stay current as events arrive, sharing q_dtw's oracle verbatim. */
  private def qStreamDtw(s0: SparkSession, dir: String): DataFrame = {
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

  /** Streaming embedding-centroid maintenance: per-(label, dim) sums are
    * ADDITIVE, so [[graft.streaming.StreamingTSDF.statsDeltas]] keyed on
    * (label, dim) folds to the exact batch per-dimension sums for any
    * micro-batching — incremental cohort-centroid refresh (and, via the
    * [[graft.pipeline.Similarity.centroidCosines]] tail, drift matrices)
    * with no corpus rescan. Shares q_embed_centroids' oracle verbatim. */
  private def qStreamCentroids(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val cells = embStream(s, dir).select(col("label"),
        posexplode(transform(col("embedding"),
          x => round(x.cast(DoubleType) * 1000))).as(Seq("dim", "__x")))
    val deltas = graft.streaming.StreamingTSDF.statsDeltas(
      cells, Seq("label", "dim"), col("__x"))
    runStream(s, deltas)
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("n")).alias("n"), sum(col("s1")).alias("s"))
      .select(col("label"), col("dim").cast(LongType).alias("dim"),
        col("n"), col("s"),
        (col("s").cast(DoubleType) / col("n").cast(DoubleType)).alias("mean"))
  }

  /** Streaming Markov transitions: adjacent-step COUNT DELTAS from the
    * ingest stream ([[graft.streaming.StreamingTSDF.transitionDeltas]] —
    * one (ts, tie, type) triple of state per series owns the
    * batch-boundary step, so the fold equals the batch lead-window
    * counts for any micro-batching), finished by the shared
    * [[graft.pipeline.Analytics.transitionMatrixFromCounts]] tail;
    * shares q_transitions' oracle verbatim. */
  private def qStreamTransitions(s0: SparkSession, dir: String): DataFrame = {
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

  /** Streaming interval algebra — the §2.6 family's streaming face
    * ([[graft.streaming.StreamingTSDF.disjointIntervals]]): state per
    * series is the elementary disjoint grid with per-segment winner
    * structs; each touched series emits its full coalesced snapshot per
    * batch under a monotone rev, and "latest rev per series" IS the batch
    * makeDisjoint of everything ingested for ANY micro-batch split (the
    * randomized differential pins arbitrary arrival ORDER too). Shares
    * q_intervals_disjoint's oracle verbatim. */
  private def qStreamIntervals(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val iv = eventsStream(s, dir).select(col("user_id"),
      col("ts").alias("start_ts"),
      (col("ts") + expr("interval 2 hours")).alias("end_ts"), col("value"))
    val snap = graft.streaming.StreamingTSDF.disjointIntervals(
      iv, "start_ts", "end_ts", Seq("user_id"), "value")
    val sink = runStream(s, snap)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    sink.withColumn("__mx", max(col("rev")).over(w))
      .filter(col("rev") === col("__mx"))
      .select(col("user_id"), col("start_us"), col("end_us"), col("value"))
  }

  /** Two-metric streaming makeDisjoint — the per-metric-winner face of
    * the maintainer: value and score carry INDEPENDENT null patterns
    * (id-derived), so segments exist whose metrics resolve from
    * different covering intervals. */
  private def qStreamIntervals2(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val iv = eventsStream(s, dir).select(col("user_id"),
      col("ts").alias("start_ts"),
      (col("ts") + expr("interval 2 hours")).alias("end_ts"),
      when(col("event_id") % 5 =!= 0, col("value")).alias("value"),
      when(col("event_id") % 3 =!= 0,
        (col("event_id") % 100).cast(DoubleType)).alias("score"))
    val snap = graft.streaming.StreamingTSDF.disjointIntervals(
      iv, "start_ts", "end_ts", Seq("user_id"), Seq("value", "score"))
    val sink = runStream(s, snap)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    sink.withColumn("__mx", max(col("rev")).over(w))
      .filter(col("rev") === col("__mx"))
      .select(col("user_id"), col("start_us"), col("end_us"),
        col("value"), col("score"))
  }

  /** Streaming whitening gate: the PCA model trains batch-side (one
    * corpus pass, q_whiten's trainer — a model is a materialized
    * artifact, the dsirRatio/bpeMerges convention) and every ARRIVING
    * embedding whitens through the pure literal projection — stateless,
    * so any micro-batching gives the same answer; shares q_whiten's
    * dynamic oracle verbatim. */
  private def qStreamWhiten(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val model = graft.pipeline.Pca.train(
      quantized(s, dir), col("q"), dim = 64, d = 8)
    val vecs = embStream(s, dir).select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast(DoubleType) * 1000)).alias("q"))
    val out = graft.pipeline.Pca.whiten(vecs, col("q"), model)
      .select(col("vec_id") +: (0 until 8).map(i => col(s"wc$i")): _*)
    runStream(s, out)
  }

  /** Streaming PMI: bigram COUNT DELTAS from the document ingest stream
    * ([[graft.streaming.StreamingTSDF.pairCountDeltas]] — bigrams live
    * inside single documents, so deltas need no state and fold exactly
    * for any micro-batching), finished by the shared
    * [[graft.pipeline.TextAnalysis.pmiFromBigramCounts]] tail (marginals
    * are sums OF THE GRID, identical to the batch occurrence counts);
    * shares q_pmi's oracle verbatim. */
  private def qStreamPmi(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val bg = graft.pipeline.TextAnalysis.bigramPairs(docsStream(s, dir), "text")
    val deltas = graft.streaming.StreamingTSDF.pairCountDeltas(
      bg, col("w1"), col("w2"))
    val grid = runStream(s, deltas)
      .groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).alias("n_ab"))
    graft.pipeline.TextAnalysis.pmiFromBigramCounts(grid, minCount = 5L)
  }

  /** Streaming grouped OLS: nine exact moment DELTAS per user from the
    * ingest stream ([[graft.streaming.StreamingTSDF.olsMomentDeltas]] —
    * moments are additive, so the fold equals the batch aggregate for
    * any micro-batching), solved by the shared pinned-order Cramer tail
    * ([[graft.pipeline.Regression.olsFromMoments]]) — incremental model
    * refit with no history rescan; shares q_group_ols' oracle
    * verbatim. */
  private def qStreamGroupOls(s0: SparkSession, dir: String): DataFrame = {
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

  /** Streaming keyword extraction: (doc, term) tf COUNT DELTAS from the
    * ingest stream ([[graft.streaming.StreamingTSDF.pairCountDeltas]] —
    * a document's tokens arrive whole, so deltas need no state and fold
    * exactly for any micro-batching), then the same per-doc TF-IDF
    * top-k off the folded grid (df and N derive FROM the grid, equal to
    * the batch postings identities); shares q_keywords' oracle
    * verbatim. */
  private def qStreamKeywords(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val toks = docsStream(s, dir).select(
      col("doc_id").cast(StringType).alias("did"),
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("term"))
    val deltas = graft.streaming.StreamingTSDF.pairCountDeltas(
      toks, col("did"), col("term"))
    val postings = runStream(s, deltas)
      .groupBy(col("w1"), col("w2"))
      .agg(sum(col("cnt")).alias("tf"))
      .select(col("w1").cast(LongType).alias("doc_id"),
        col("w2").alias("term"), col("tf"))
    Retrieval.keywordsPerDoc(postings, "doc_id", k = 5)
  }

  /** Streaming Zipf: (source, token) count DELTAS from the ingest stream
    * (pairCountDeltas — stateless, tokens arrive inside whole docs),
    * folded to the exact type table and finished by the shared
    * [[graft.pipeline.TextAnalysis.zipfFromCounts]] tail — the power-law
    * diagnostic stays current as a crawl streams in; shares q_zipf's
    * oracle verbatim. */
  private def qStreamZipf(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val toks = docsStream(s, dir).select(col("source"),
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("t"))
      .filter(col("t") =!= "")
    val deltas = graft.streaming.StreamingTSDF.pairCountDeltas(
      toks, col("source"), col("t"))
    val counts = runStream(s, deltas)
      .groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).alias("__c"))
      .select(col("w1").alias("source"), col("w2").alias("__t"), col("__c"))
    graft.pipeline.TextAnalysis.zipfFromCounts(counts, "source")
  }

  /** Streaming nucleus coverage: the same stateless (source, token)
    * count-delta fold as q_stream_zipf, finished by the shared
    * [[graft.pipeline.TextAnalysis.nucleusFromCounts]] tail — the
    * vocabulary-concentration gate stays current on ingest; shares
    * q_nucleus' oracle verbatim. */
  private def qStreamNucleus(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val toks = docsStream(s, dir).select(col("source"),
      explode(split(Dedup.normalizeText(col("text")), " ")).alias("t"))
      .filter(col("t") =!= "")
    val deltas = graft.streaming.StreamingTSDF.pairCountDeltas(
      toks, col("source"), col("t"))
    val counts = runStream(s, deltas)
      .groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).alias("__c"))
      .select(col("w1").alias("source"), col("w2").alias("__t"), col("__c"))
    graft.pipeline.TextAnalysis.nucleusFromCounts(counts, "source", 90)
  }

  /** Streaming trailing-7-day WAU via the KMV changelog: per-DAY running
    * k-min sets stream through [[graft.streaming.StreamingTSDF.kmvMins]]
    * (day = the series key), and the batch trailing merge
    * ([[graft.pipeline.Sketch.kmvTrailingFromHashes]]) folds the sink
    * into the identical sliding estimates — the streaming face of
    * q_wau_kmv, sharing its oracle verbatim. */
  private def qStreamWauKmv(s0: SparkSession, dir: String): DataFrame = {
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
  private def qStreamScd2(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val out = graft.streaming.StreamingTSDF.scd2Changelog(
      eventsStream(s, dir).select(col("user_id"), col("ts"),
        col("event_type"), col("event_id")),
      Seq("user_id"), "ts", Seq("event_type"), "event_id")
    runStream(s, out).select(col("user_id"), usec(col("ts")).alias("ts_us"),
      col("event_type"))
  }

  /** Rolling OLS slope of the cent-quantized value over the trailing 20
    * observations, per user. */
  private def qRollingSlope(s: SparkSession, dir: String): DataFrame =
    graft.tsdf.Stats.rollingSlope(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).cast(LongType).alias("vc")),
      "ts", "vc", Seq("user_id"), window = 20, tieCols = Seq("event_id"))
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("vc"), col("slope_vc"))

  /** Incremental dedup: documents with doc_id % 4 == 0 arrive as the new
    * batch; the rest are the accumulated corpus whose fingerprints form
    * the index the batch is triaged against. */
  private def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val index = d.filter(col("doc_id") % 4 =!= 0)
      .select(TextAnalysis.fingerprint(col("text")).alias("fp"))
    Dedup.incrementalDedup(d.filter(col("doc_id") % 4 === 0), index,
      "text", "doc_id")
  }

  /** Intra-document first-occurrence segment dedup at token granularity
    * (sep = " " — the only segmentation this single-line corpus has; the
    * operator's "\n" default covers true paragraphs, unit-tested). */
  private def qParaDedup(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dedupParagraphs(docs(s, dir), "text", "doc_id", sep = " ")

  /** Corpus-wide top-50 word 3-grams by document frequency (vocabulary /
    * boilerplate-phrase mining). */
  private def qTopNgrams(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topNgrams(docs(s, dir), "text", n = 3, k = 50)

  /** RAG-style overlapping token-window chunking: 64-token chunks at
    * stride 32, tail always covered. */
  private def qChunkDocs(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkDocuments(docs(s, dir), "text", "doc_id",
      chunkTokens = 64, strideTokens = 32)

  /** Per-document lexical-diversity profile (TTR / hapax / token length). */
  private def qLexical(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lexicalStats(docs(s, dir), "text", "doc_id")

  /** Containment-verified near-dup pairs over the same LSH candidate chain
    * as q_minhash_pairs — catches short-in-long subsumption. */
  private def qContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentNearDup(docs(s, dir), "text", "doc_id",
      shingleWidth = 2, bands = 6, rowsPerBand = 3, threshold = 0.6,
      maxBucketSize = 50)

  /** Deterministic 5-per-source sample pinned by (hash(doc_id), doc_id). */
  private def qSampleK(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Splits.sampleKPerStratum(
      docs(s, dir).select(col("doc_id"), col("source")),
      "doc_id", "source", k = 5)
      .select(col("doc_id"), col("source"),
        col("sample_rank").cast(LongType).alias("sample_rank"))

  /** ExactSubstr-style chunk dedup over documents: consecutive 8-word
    * chunks deduped corpus-wide, first occurrence wins. */
  private def qExactSubstr(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstringDedup(docs(s, dir), "text", "doc_id", chunkWords = 8)

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

  /** Welch's t-test over the same cohorts as [[qDrift]]
    * ([[graft.pipeline.Drift.welchTTest]]): per length bucket, did the
    * mean quality score move between the two splits? Exact BIGINT
    * moments + fixed-order t / Welch–Satterthwaite df. */
  private def qWelch(s: SparkSession, dir: String): DataFrame = {
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
  private def qStreamWelch(s0: SparkSession, dir: String): DataFrame = {
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
  private def qDriftStats(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("split",
        graft.pipeline.Splits.splitIndex(col("doc_id"), Seq(1, 1)))
      .withColumn("bucket", least(lit(20L), expr("n_chars div 32")))
    graft.pipeline.Drift.driftStats(
      d.filter(col("split") === 0L), d.filter(col("split") === 1L), "bucket")
  }

  /** The corpus carries no markup, so every doc is wrapped in a
    * deterministic HTML shell (tags, a script, a style, entities) before
    * extraction — both engines see identical input and the full rule set
    * fires on every row. */
  private def qStripHtml(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><style type=\"text/css\">body { color: #fff; }</style></head>"),
      lit("<body><h1 class=\"t\">Doc "), col("doc_id").cast(StringType),
      lit("</h1><script>var x = 1 < 2 && 3 > 2;</script><p id=\"b\">"),
      col("text"),
      lit("</p><br/><div>tail &amp;amp; &lt;b&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div></body></html>"))
    docs(s, dir).select(col("doc_id"),
      md5(TextAnalysis.stripHtml(html)).alias("stripped_md5"),
      length(TextAnalysis.stripHtml(html)).cast(LongType).alias("n_chars_stripped"))
  }

  /** The exact-duplicate template injected on doc_id % 10 == 7 (diverse
    * enough to pass the quality gates, so the EXACT-dedup stage is what
    * removes the copies) and the three word-order permutations of one
    * token set injected on doc_id % 10 == 5 by doc_id % 3 (equal sorted
    * distinct-token fingerprints, unequal normalized strings — exact
    * dedup keeps one per spelling, the NEAR-dedup stage collapses the
    * three spellings to one). */
  private[graft] val E2eTemplateA =
    "common crawl boilerplate page about shipping terms and privacy " +
      "policy with contact address and support email for the store"
  private[graft] val E2eTemplateB: Seq[String] = Seq(
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu",
    "mu lambda kappa iota theta eta zeta epsilon delta gamma beta alpha",
    "gamma alpha beta delta zeta epsilon eta iota theta kappa mu lambda")

  /** End-to-end curation in ONE plan ([[graft.pipeline.Curation.curate]]):
    * deterministic duplicate injection → HTML shell → real stripHtml →
    * quality/repetition gates → exact dedup → token-set near dedup →
    * 3-gram decontamination (eval = raw docs with doc_id % 7 == 0) →
    * trained-BPE packing. Every stage keyed on exact integers or
    * fingerprints, so the full chain is one hash-gated oracle; the spec
    * additionally pins that each stage FIRES (templates collapse, eval
    * members drop) and audits the plan's exchange count. */
  private def qPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val injected = when(col("doc_id") % 10 === 7, lit(E2eTemplateA))
      .when(col("doc_id") % 10 === 5,
        when(col("doc_id") % 3 === 0, lit(E2eTemplateB(0)))
          .when(col("doc_id") % 3 === 1, lit(E2eTemplateB(1)))
          .otherwise(lit(E2eTemplateB(2))))
      .otherwise(col("text"))
    val html = concat(
      lit("<html><head><style>p { color: #000; }</style></head><body>" +
        "<script>if (1 < 2) run();</script><p class=\"c\">"),
      injected,
      lit("</p><div>footer &amp; terms&nbsp;apply</div></body></html>"))
    val cleaned = docs(s, dir).select(col("doc_id"), col("source"),
      TextAnalysis.stripHtml(html).alias("text2"))
    val evalDf = docs(s, dir).filter(col("doc_id") % 7 === 0)
      .select(col("text").alias("text2"))
    graft.pipeline.Curation.curate(cleaned, "text2", "doc_id",
      Seq("source"), evalDf, graft.pipeline.Bpe.table(bpeMerges(s, dir)))
  }

  /** Synthetic URL variants per doc — four spellings (case, www, default
    * ports, tracking params, fragments, trailing slash) that collapse
    * pairwise under normalization, so the canonical key dedups across
    * spelling families. */
  private def qUrlDedup(s: SparkSession, dir: String): DataFrame = {
    val stem = expr("doc_id div 4").cast(StringType)
    val url = when(col("doc_id") % 4 === 0, concat(
        lit("HTTP://WWW.Example.COM:80/Docs/"), stem,
        lit("/?utm_source=x&utm_medium=y")))
      .when(col("doc_id") % 4 === 1, concat(
        lit("http://example.com/Docs/"), stem))
      .when(col("doc_id") % 4 === 2, concat(
        lit("https://Sub.Example.com:443/p/"), stem,
        lit("?a=1&utm_campaign=z&fbclid=abc#frag")))
      .otherwise(concat(lit("https://sub.example.com/p/"), stem, lit("?a=1")))
    val withUrl = docs(s, dir).select(col("doc_id"), url.alias("url"))
      .withColumn("canonical_url", TextAnalysis.normalizeUrl(col("url")))
    val winners = withUrl.groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).alias("__winner"))
    withUrl.join(winners, Seq("canonical_url"), "inner")
      .select(col("doc_id"), col("url"), col("canonical_url"),
        (col("doc_id") === col("__winner")).alias("is_kept"))
  }

  /** Quality-weighted sampling: survival probability = the quality score
    * of [[qQuality]]. */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val comps = TextAnalysis.qualityScore(col("text"))
    val scored = docs(s, dir).select(col("doc_id"), comps.last)
    graft.pipeline.Splits.weightedSample(scored, "doc_id", "quality_score")
  }

  private def qTokenCount(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast(LongType).alias("n_tokens"),
      TextAnalysis.bpeTokenEstimate(col("text")).cast(LongType).alias("bpe_tokens"))

  /** Tokenizer-true subword counts: a 200-merge BPE table trained on the
    * corpus itself ([[graft.pipeline.Bpe.train]] — one bounded word-count
    * aggregate + a driver loop over the capped vocab), then one codegen'd
    * scan counting every document. The oracle is DYNAMIC (trained merges
    * embedded at dump time, the q_pca_project discipline) and replays the
    * greedy encode as 200 nested scan-forward `replace` calls over
    * `|`-wrapped symbols — exactly the [[graft.functions.BpeTable]] fold. */
  /** One 200-merge table per sf dir: training is deterministic, and the
    * three BPE queries + three BPE oracles all want the same table — a
    * Verify dump would otherwise train six times. */
  private val bpeMergesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  private def bpeMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergesCache.computeIfAbsent(dir,
      _ => graft.pipeline.Bpe.train(docs(s, dir), "text", numMerges = 200))

  private def qBpeTokens(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.select(col("doc_id"),
      graft.pipeline.Bpe.tokenCount(col("text"), bpeMerges(s, dir))
        .alias("n_bpe_tokens"))
  }

  /** Streaming BPE token counting — the q_stream_dsir discipline applied
    * to the tokenizer: the 200-merge table is a trained, materialized
    * model (per-sf-dir [[bpeMergesCache]]), and every ARRIVING document
    * counts through the SAME codegen'd [[graft.functions.BpeCount]]
    * expression as batch q_bpe_tokens. Stateless per row, so any
    * micro-batch slicing gives identical counts — a token-budget gate can
    * sit directly on an ingest stream at any scale (broadcast-sized model,
    * zero state stores, zero shuffles). Shares q_bpe_tokens' dynamic
    * trained-table oracle verbatim. */
  private def qStreamBpe(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val merges = bpeMerges(s, dir)
    val out = docsStream(s, dir).select(col("doc_id"),
      graft.pipeline.Bpe.tokenCount(col("text"), merges)
        .alias("n_bpe_tokens"))
    runStream(s, out)
  }

  /** Packing under tokenizer-true budgets: the q_pack_sequences layout
    * with [[graft.pipeline.Bpe.tokenCount]] (trained 200-merge table)
    * replacing the char heuristic — the integration seam
    * [[graft.pipeline.Packing.packSequencesByTokens]] exists for. Same
    * two-pass bucketed prefix-sum plan; only the token expression
    * changes. */
  private def qPackBpe(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.pipeline.Packing.packSequencesByTokens(d,
      graft.pipeline.Bpe.tokenCount(col("text"), bpeMerges(s, dir)),
      "doc_id", Seq("source"), capacity = 2048)
  }

  /** Subword-vocabulary usage under the trained 200-merge table
    * ([[graft.pipeline.Bpe.vocabularyReport]]); the oracle replays the
    * encode chain and reads the token list off the SAME wrapped-string
    * form the engine's expression emits. */
  private def qBpeVocab(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Bpe.vocabularyReport(docs(s, dir), "text",
      bpeMerges(s, dir))

  /** Byte-level BPE (GPT-2-style, the no-OOV production mode): RAW text —
    * no normalization — pre-tokenized into alternating space / non-space
    * runs, each run's UTF-8 bytes hex-symbolized and merged under a
    * 200-merge table trained on the corpus's own pieces
    * ([[graft.pipeline.Bpe.trainBytes]]). Emits BOTH the per-doc count and
    * the full wrapped token sequence, so the oracle gates token IDENTITY,
    * not just arithmetic; `decode(encode(x)) == x` is pinned as a property
    * in BpeSpec (the seam char-level BPE cannot offer). */
  private val byteBpeMergesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  private def byteBpeMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    byteBpeMergesCache.computeIfAbsent(dir,
      _ => graft.pipeline.Bpe.trainBytes(docs(s, dir), "text", numMerges = 200))

  private def qBpeBytes(s: SparkSession, dir: String): DataFrame = {
    val t = graft.pipeline.Bpe.byteTable(byteBpeMerges(s, dir))
    docs(s, dir).select(col("doc_id"),
      graft.pipeline.Bpe.byteTokenCount(col("text"), t).alias("n_tokens"),
      graft.pipeline.Bpe.encodeTextWrapped(col("text"), t).alias("toks"))
  }

  /** One trained unigram table per sf dir (deterministic training — the
    * bpeMerges convention). */
  private val unigramTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.functions.UnigramTable]()
  private def unigramTable(s: SparkSession,
      dir: String): graft.functions.UnigramTable =
    unigramTableCache.computeIfAbsent(dir,
      _ => graft.pipeline.Unigram.train(docs(s, dir), "text"))

  /** One EM-refined unigram table per sf dir (one deterministic hard-EM
    * iteration over the frozen count-derived table). */
  private val unigramEmTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.functions.UnigramTable]()
  private def unigramEmTable(s: SparkSession,
      dir: String): graft.functions.UnigramTable =
    unigramEmTableCache.computeIfAbsent(dir,
      _ => graft.pipeline.Unigram.emRefine(docs(s, dir), "text",
        unigramTable(s, dir)))

  /** Unigram tokenizer after ONE hard-EM re-estimation pass
    * ([[graft.pipeline.Unigram.emRefine]]): same vocabulary, piece
    * probabilities re-fit to the corpus's own Viterbi-best usage — the
    * SentencePiece refinement loop's engine-replayable core. Same
    * output contract as [[qUnigramTokens]]; the dynamic oracle embeds
    * the REFINED scores in the identical fixed-length-fold replay. */
  private def qUnigramEm(s: SparkSession, dir: String): DataFrame = {
    val t = unigramEmTable(s, dir)
    docs(s, dir).select(col("doc_id"),
      graft.pipeline.Unigram.tokenCount(col("text"), t)
        .alias("n_unigram_tokens"),
      graft.pipeline.Unigram.tokensWrapped(col("text"), t).alias("toks"))
  }

  /** Unigram-LM (SentencePiece-family) tokenizer face — Viterbi decode
    * under a count-derived vocabulary with integer log-prob scores;
    * emits count AND the wrapped token sequence so the oracle gates
    * token IDENTITY (the q_bpe_bytes convention). The dynamic oracle
    * replays the DP as fixed-length folds with the trained scores
    * embedded verbatim. */
  private def qUnigramTokens(s: SparkSession, dir: String): DataFrame = {
    val t = unigramTable(s, dir)
    docs(s, dir).select(col("doc_id"),
      graft.pipeline.Unigram.tokenCount(col("text"), t)
        .alias("n_unigram_tokens"),
      graft.pipeline.Unigram.tokensWrapped(col("text"), t).alias("toks"))
  }

  /** Tokenizer-fertility comparison — BPE vs unigram-LM token budgets
    * per source under the two trained tables (both frozen per-sf-dir
    * models): the artifact a pipeline owner reads before picking the
    * tokenizer a 100-TB budget is denominated in. Exact integer sums
    * via the two codegen'd count expressions in ONE scan; the ratio is
    * one terminal division of exact integers. */
  private def qTokenizerCompare(s: SparkSession, dir: String): DataFrame = {
    val bpe = graft.pipeline.Bpe.table(bpeMerges(s, dir))
    val uni = unigramTable(s, dir)
    docs(s, dir).select(col("source"),
      graft.pipeline.Bpe.tokenCount(col("text"), bpe).alias("__b"),
      graft.pipeline.Unigram.tokenCount(col("text"), uni).alias("__u"))
      .groupBy(col("source"))
      .agg(count(lit(1)).alias("n_docs"),
        sum(col("__b")).alias("bpe_tokens"),
        sum(col("__u")).alias("unigram_tokens"))
      .withColumn("unigram_per_bpe",
        col("unigram_tokens").cast(DoubleType) /
          col("bpe_tokens").cast(DoubleType))
  }

  /** Packing under unigram-LM budgets — the q_pack_bpe seam with the
    * Viterbi tokenizer's codegen'd count expression: same two-pass
    * bucketed prefix-sum plan, only the token expression changes. */
  private def qPackUnigram(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.packSequencesByTokens(docs(s, dir),
      graft.pipeline.Unigram.tokenCount(col("text"), unigramTable(s, dir)),
      "doc_id", Seq("source"), capacity = 2048)

  /** Streaming unigram tokenization gate — the q_stream_bpe discipline
    * on the Viterbi tokenizer: the table is a frozen trained model
    * (per-sf-dir cache) and every ARRIVING doc counts and encodes
    * through the same codegen'd expressions; stateless per row, shares
    * q_unigram_tokens' dynamic oracle verbatim. */
  private def qStreamUnigram(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val t = unigramTable(s, dir)
    val out = docsStream(s, dir).select(col("doc_id"),
      graft.pipeline.Unigram.tokenCount(col("text"), t)
        .alias("n_unigram_tokens"),
      graft.pipeline.Unigram.tokensWrapped(col("text"), t).alias("toks"))
    runStream(s, out)
  }

  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), col("source"),
      TextAnalysis.fingerprint(col("text")).alias("fp"))

  private def qRollingFp(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), TextAnalysis.rollingHash(col("text")).alias("rh"))

  /** Winnowing fingerprints (Schleimer et al. 2003, the MOSS selection):
    * k-gram polyHashes, rightmost-min window selection, consecutive
    * dedup — one row per selected (pos, fp). Scan-local, zero shuffle.
    * k = 16 by measurement: the synthetic corpus draws on a tiny word
    * vocabulary, so k=5 grams yield only ~1000 distinct fingerprints
    * corpus-wide (min-selection then marks everything boilerplate);
    * 16-char grams span word boundaries and diversity grows with the
    * corpus (25k distinct at sf0.01, 249k at sf0.1). */
  private def qWinnow(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowFingerprints(docs(s, dir), "text", "doc_id", k = 16)

  /** Streaming winnow — stateless per-doc selection (the q_stream_dhash
    * convention: normalize+hash+select are per-row HOF algebra, so any
    * micro-batching emits identical fingerprints); shares q_winnow's
    * oracle verbatim. */
  private def qStreamWinnow(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val out = TextAnalysis.winnowFingerprints(
      docsStream(s, dir).select(col("doc_id"), col("text")),
      "text", "doc_id", k = 16)
    runStream(s, out)
  }

  /** Streaming first-occurrence novelty gate — per-fingerprint first-owner
    * state at ingest time, per-doc scores folded from the ownership sink;
    * one AvailableNow batch has first-arrival == min-id, so it shares
    * q_novelty's replay verbatim. */
  private def qStreamNovelty(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val sink = runStream(s, graft.streaming.StreamingTSDF.noveltyOwnership(
      docsStream(s, dir).select(col("doc_id"), col("text")),
      "text", "doc_id", k = 16))
    graft.streaming.StreamingTSDF.noveltyScores(sink, "doc_id")
  }

  /** First-occurrence novelty over the winnow fingerprints — the
    * per-doc dedup-priority score (templated re-posts ≈ 0, fresh ≈ 1);
    * min-doc_id is the ingestion-order proxy. */
  private def qWinnowNovelty(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowNovelty(docs(s, dir), "text", "doc_id", k = 16)

  /** Winnowing candidate pairs — the MOSS index stage: docs sharing >= 3
    * distinct selected fingerprints after the scale-aware boilerplate
    * cap (df ≤ n/20, bucket ≤ 100). Thresholds measured on the corpus:
    * with k=16 the 5% relative cut keeps the sf0.01 output at ~1% of
    * the quadratic face (1,436 pairs of 124,750 possible) — a candidate
    * set, not a cross product — and stays non-vacuous at the 10×
    * replica where a fixed absolute cap went to zero. */
  private def qWinnowPairs(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowPairs(docs(s, dir), "text", "doc_id", k = 16,
      minShared = 3)

  /** ft values are emitted as rounded cents: the FFT groups its float
    * additions differently from the oracle's O(n²) DFT, so raw doubles
    * differ in the last ulps; 2-decimal rounding absorbs that while still
    * validating the transform. The rounding bias is +0.25 (not +0.5): the
    * structured DFT bins (k = 0, n/2, n/4...) produce coefficients exactly
    * on the half-cent lattice, which IS the +0.5 bin edge — a +0.25 bias
    * puts every edge 0.0025 away from any attainable coefficient. `freq` =
    * k/(n·d) on exact integers is bit-identical unrounded. */
  private def qFourier(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "user_id", col("value"))
      .fourierTransform(timestep = 1.0, valueCol = "value")
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"), col("freq"),
        floor(col("ft_real") * 100 + 0.25).cast(LongType).alias("ft_real_c"),
        floor(col("ft_imag") * 100 + 0.25).cast(LongType).alias("ft_imag_c"))

  /** The feature tensor is emitted as JSON of integer cents — an
    * array<array<double>> column is not hashable by the driver's comparator,
    * and integer payloads serialize identically in Spark and DuckDB. */
  private def qLookback(s: SparkSession, dir: String): DataFrame =
    eventsTsdf(s, dir, "user_id", cents(col("value")).alias("c"))
      .withLookbackFeatures(Seq("c"), lookbackWindowSize = 3)
      .df.select(col("user_id"), usec(col("ts")).alias("ts_us"),
        to_json(transform(col("features"),
          a => transform(a, x => x.cast(LongType)))).alias("features"))

  /** Metadata comes from REAL header parsing over spec-valid synthesized
    * payloads (doc_id-derived arithmetic the oracle replays without bytes);
    * the feature payload stays normalized ASCII text so the JVM byte-level
    * stub hash equals the oracle's codepoint-level hash. */
  private def qMultimodal(s: SparkSession, dir: String): DataFrame = {
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
  private def qFramePlan(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFramePlan(
      Multimodal.withMediaMeta(
        Multimodal.synthesizeMediaPayload(docs(s, dir).select(col("doc_id")), "doc_id"),
        "payload"),
      "doc_id", "media_meta", everyMs = 5000L)

  /** Full differential on the real header parser: every [[Multimodal.MediaMeta]]
    * field parsed back from spec-valid PNG/JPEG/WAV/MP4 bytes, compared to
    * the oracle stating the same fields from doc_id arithmetic alone. */
  private def qMediaMetaReal(s: SparkSession, dir: String): DataFrame =
    Multimodal.withMediaMeta(
      Multimodal.synthesizeMediaPayload(docs(s, dir).select(col("doc_id")), "doc_id"),
      "payload")
      .select(col("doc_id"),
        col("media_meta.media_type").alias("media_type"),
        col("media_meta.format").alias("format"),
        col("media_meta.width").alias("width"),
        col("media_meta.height").alias("height"),
        col("media_meta.duration_ms").alias("duration_ms"))

  /** REAL PNG pixel decode end to end ([[graft.pipeline.Multimodal
    * .decodePng]]): payloads synthesized with genuine zlib streams and all
    * five scanline filters, inflated + unfiltered by the engine, per-image
    * exact sample sums; the oracle restates the sums from the generating
    * doc_id arithmetic without touching a byte. */
  private def qDecodePng(s: SparkSession, dir: String): DataFrame =
    Multimodal.pngPixelStats(
      Multimodal.synthesizePngPayload(
        // a few-KB id scan arrives as 1-2 input partitions, but every row
        // expands into ~KBs of synthesis + inflate + unfilter work: spread
        // the EXPANSION over the cluster before the heavy map (the cheap
        // shuffle moves ids, not payloads)
        docs(s, dir).select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** REAL BMP decode end to end: spec-faithful 24-bit BI_RGB walk
    * (bottom-up rows, 4-byte stride padding, BGR flip) over the
    * deterministic gradient fixture; the oracle restates the decoded
    * sums from the id arithmetic. */
  private def qDecodeBmp(s: SparkSession, dir: String): DataFrame =
    Multimodal.bmpPixelStats(
      Multimodal.synthesizeBmpPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** REAL baseline-JPEG pixel decode end to end ([[graft.pipeline.Jpeg
    * .decodeJpeg]]): flat-block payloads huffman-decoded, dequantized and
    * IDCT'd by the engine — DC-only blocks with quant 8 make the lossy
    * format round-trip its constants exactly, so the oracle restates the
    * decoded sums from the generating doc_id arithmetic while the engine
    * must genuinely parse markers, huffman-decode, and run the IDCT. */
  private def qDecodeJpeg(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Jpeg.jpegPixelStats(
      graft.pipeline.Jpeg.synthesizeJpegPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** REAL WAV PCM sample decode end to end ([[graft.pipeline.Multimodal
    * .decodeWavSamples]]): RIFF chunk walk + sign-extended LE16 reads on
    * synthesized clips; the oracle restates the sample sums from the
    * generating doc_id arithmetic without touching a byte. */
  private def qDecodeWav(s: SparkSession, dir: String): DataFrame =
    Multimodal.wavSampleStats(
      Multimodal.synthesizeWavPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** Per-frame audio features over the REAL RIFF→PCM decode
    * ([[graft.pipeline.Multimodal.wavFrameFeatures]]): 64-sample frames,
    * exact integer energy/peak/zero-crossings and the correctly-rounded
    * RMS — the framing step a speech pipeline runs before any spectral
    * featurization. */
  private def qAudioFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.wavFrameFeatures(
      Multimodal.synthesizeWavPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** Integer-factor audio decimation over the REAL RIFF→PCM decode
    * ([[graft.pipeline.Multimodal.wavDecimate]]): 16-sample boxcar
    * groups, exact integer sums + one correctly-rounded mean — the
    * sample-rate normalization pass before mixing corpora recorded at
    * different rates. */
  private def qAudioDecimate(s: SparkSession, dir: String): DataFrame =
    Multimodal.wavDecimate(
      Multimodal.synthesizeWavPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload", factor = 16)

  /** Sequency-band audio spectrum via the 64-point Walsh-Hadamard
    * transform over the REAL RIFF→PCM decode — the integer-exact analog
    * of a per-frame power spectrum (±1 basis: no trig, so the bands
    * replay bit-for-bit in any engine where an FFT differs in final
    * ulps). The oracle restates the butterfly as the direct
    * (−1)^popcount(k&n) definition over the synthesized samples. */
  private def qAudioSequency(s: SparkSession, dir: String): DataFrame =
    Multimodal.wavSequencyFeatures(
      Multimodal.synthesizeWavPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** Per-frame Fourier spectrogram over the REAL RIFF→PCM decode
    * ([[graft.pipeline.Multimodal.wavSpectrogram]]): the engine's own
    * 64-point radix-2 FFT per frame, bins quantized floor(X/256 + 0.25)
    * and grouped into 8 exact-integer band energies; the oracle replays
    * the O(n²) DFT per frame from the synthesized-sample arithmetic. */
  private def qAudioSpectrogram(s: SparkSession, dir: String): DataFrame =
    Multimodal.wavSpectrogram(
      Multimodal.synthesizeWavPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** MFCC over the real RIFF→PCM decode: quantized FFT bin powers →
    * integer mel-band energies → milli-quantized log → fixed-point
    * DCT-II — exact integers end to end; the oracle replays the O(n²)
    * DFT and the embedded mel-edge/DCT-basis tables. */
  private def qAudioMfcc(s: SparkSession, dir: String): DataFrame =
    Multimodal.wavMfcc(
      Multimodal.synthesizeWavPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** Per-frame spectral descriptors over the spectrogram band energies:
    * exact-integer centroid numerator/denominator, integer-compare
    * rolloff band, L1 spectral flux vs the previous frame. */
  private def qAudioDescriptors(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioDescriptors(
      Multimodal.synthesizeWavPayload(
        docs(s, dir).select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** REAL PROGRESSIVE-JPEG decode end to end: SOF2 multi-scan streams
    * (spectral selection + successive approximation) built by the fixture
    * encoder — the JDK writer cannot emit them — decoded through the full
    * phuff scan loop; flat blocks + flat-8 quant make the decoded sums a
    * pure function of doc_id, restated by the oracle. */
  private def qDecodeJpegProg(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Jpeg.jpegPixelStats(
      graft.pipeline.Jpeg.synthesizeProgressiveJpegPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** REAL video decode end to end ([[graft.pipeline.Video]]): MJPEG-AVI
    * payloads whose RIFF lists the engine walks and whose per-frame JFIF
    * streams it huffman-decodes + IDCTs via [[graft.pipeline.Jpeg
    * .decodeJpeg]]; the oracle restates every frame's decoded sum from the
    * generating doc_id arithmetic without touching a byte. */
  private def qDecodeVideo(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Video.videoFrameStats(
      graft.pipeline.Video.synthesizeAviPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** REAL MP4 video decode end to end: ISO BMFF box walk + stsc/stsz/stco
    * sample-table resolution ([[graft.pipeline.Video.parseMp4Mjpeg]]) to
    * per-sample JFIF payloads, then the same huffman+IDCT decode as the
    * AVI twin. The fixture carries [[graft.pipeline.Video
    * .synthesizeAviPayload]]'s exact frame arithmetic in an MP4
    * container, so this row shares q_decode_video's oracle verbatim —
    * same numbers, different container walked for real. */
  private def qDecodeMp4(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Video.videoFrameStats(
      graft.pipeline.Video.synthesizeMp4Payload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** REAL frame sampling: the q_frame_plan lattice taken all the way to
    * pixels — every 400 ms on the stream clock, the engine indexes the
    * covering frame through the exact strh (rate, scale) rational and
    * decodes THAT frame only. */
  private def qFrameSample(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Video.sampleVideoFrames(
      graft.pipeline.Video.synthesizeAviPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload", everyMs = 400L)

  /** REAL shot-boundary detection ([[graft.pipeline.Video.sceneCuts]]):
    * per-transition SAD over consecutively DECODED frames — the engine
    * walks the container, huffman-decodes + IDCTs every frame, and
    * differences real pixels; a cut fires at mean |Δ| ≥ 64 gray levels.
    * The fixture's +29-per-frame mod-256 block walk makes wrap-around
    * blocks (|Δ| = 227 instead of 29) the cut signal, so flags vary per
    * transition; the oracle restates the SADs from the generating
    * arithmetic. Keyframe-per-shot selection for a video training corpus
    * reads directly off this frame. */
  private def qSceneCuts(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Video.sceneCuts(
      graft.pipeline.Video.synthesizeAviPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload", threshold = 64)

  /** Exact audio dedup by decoded-content fingerprint
    * ([[graft.pipeline.Multimodal.audioDedup]]): every WAV decoded for
    * real, fingerprinted by exact PCM moments (with a position-weighted
    * moment so reorderings separate), grouped to a min-id
    * representative. The fixture folds the sample base to doc_id % 13
    * (content classes every 130 ids) while the sample RATE varies with
    * id % 8 — identical content at different rates collapses. */
  private def qAudioDedup(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioDedup(
      Multimodal.synthesizeWavDedupPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** Streaming video near-dup gate — arriving clips segment and pHash
    * their keyframes STATELESSLY at the ingest boundary
    * ([[graft.pipeline.Video.keyframePHashes]] is a pure per-clip decode
    * map, so any micro-batching emits identical signature rows); the
    * banded-Hamming pair fold runs over the sink (the q_stream_novelty
    * sink-rollup convention). Shares q_video_neardup's replay verbatim. */
  private def qStreamVideoNearDup(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val sink = runStream(s, graft.pipeline.Video.keyframePHashes(
      graft.pipeline.Video.synthesizeAviNearDupPayload(
        docsStream(s, dir).select(col("doc_id")), "doc_id"),
      "doc_id", "payload"))
    graft.pipeline.Video.nearDupPairsFromKeyframes(sink, "doc_id")
  }

  /** Streaming audio near-dup gate — the q_stream_video_neardup shape on
    * [[graft.pipeline.Multimodal.hkFingerprints]] (stateless per-clip
    * Walsh sign hashes at ingest, pair fold over the sink); shares
    * q_audio_neardup's replay verbatim. */
  private def qStreamAudioNearDup(s0: SparkSession, dir: String): DataFrame = {
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
  private def qAudioNearDup(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioNearDupPairs(
      Multimodal.synthesizeWavNearDupPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** Cross-modality media dedup ([[graft.pipeline.Multimodal
    * .mediaDedup]]): a mixed image/audio/video binary column dispatched
    * to the right decoder ONCE per payload by container signature, each
    * modality fingerprinted by its exact-moment string, grouped to
    * min-id representatives within (modality, fp). The mixed fixture
    * folds every arm's content base so all three modalities carry
    * non-vacuous dup groups at correctness scale. */
  private def qMediaDedup(s: SparkSession, dir: String): DataFrame =
    Multimodal.mediaDedup(
      Multimodal.synthesizeMediaDedupPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

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
  private def qMediaNearDupE2E(s: SparkSession, dir: String): DataFrame = {
    val ids = docs(s, dir).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism) // expansion spread
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
  private def qStreamMediaDedup(s0: SparkSession, dir: String): DataFrame = {
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
  private def qVideoDedup(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Video.videoDedup(
      graft.pipeline.Video.synthesizeAviDedupPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** Video NEAR-dup pairs ([[graft.pipeline.Video.videoNearDupPairs]]):
    * per-shot keyframe pHashes, 4×16-bit band bucketing (pigeonhole-exact
    * recall at the default Hamming ≤ 3), popcount verify, matched-shot
    * threshold per clip pair. The fixture's brightness-shifted variants
    * (the deterministic re-encode stand-in) collapse — measured keyframe
    * Hamming 0 across variants — while exact fingerprints separate them;
    * scrambled per-class block patterns keep distinct content apart (a
    * smooth-ramp fixture measured cross-class Hamming 0: pHash is
    * brightness- AND contrast-invariant, so only structure separates). */
  private def qVideoNearDup(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Video.videoNearDupPairs(
      graft.pipeline.Video.synthesizeAviNearDupPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** Keyframe-per-shot selection ([[graft.pipeline.Video.shotKeyframes]]):
    * q_scene_cuts' segmentation taken to the curation artifact — one
    * keyframe row per detected shot, first frame of the shot decoded for
    * real. The oracle re-segments from the replayed SAD flags and reads
    * the keyframe sums off the frame arithmetic. */
  private def qShotKeyframes(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Video.shotKeyframes(
      graft.pipeline.Video.synthesizeAviPayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload", threshold = 64)

  /** Streaming shot-keyframe gate — arriving clips segment and emit
    * keyframe rows at the ingest boundary (the q_stream_dhash
    * convention: the whole operator is a stateless per-clip decode map,
    * so any micro-batching emits identical rows); shares
    * q_shot_keyframes' replay verbatim and completes the multimodal
    * streaming matrix the media-dedup gate started. */
  private def qStreamKeyframes(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val out = graft.pipeline.Video.shotKeyframes(
      graft.pipeline.Video.synthesizeAviPayload(
        docsStream(s, dir).select(col("doc_id")), "doc_id"),
      "doc_id", "payload", threshold = 64)
    runStream(s, out)
  }

  /** REAL decoded-sample histograms over the full codec dispatch: one
    * mixed corpus (PNG / baseline JPEG / PCM WAV / MJPEG AVI by id % 4,
    * every payload carrying real content), every bin count restated by the
    * oracle from the generating arithmetic — the engine must inflate,
    * huffman-decode, sign-extend, and walk RIFF lists to match. */
  private def qPixelHist(s: SparkSession, dir: String): DataFrame =
    Multimodal.pixelHistogram(
      Multimodal.synthesizeDecodablePayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload", nBins = 16)

  /** Histogram-equalization LUT over the real decode dispatch
    * ([[graft.pipeline.Multimodal.histEqualization]] on the q_pixel_hist
    * table): per payload, the contrast-normalization map — exact
    * cumulative counts and the floor-division target level. */
  private def qHistEqualize(s: SparkSession, dir: String): DataFrame =
    Multimodal.histEqualization(
      Multimodal.pixelHistogram(
        Multimodal.synthesizeDecodablePayload(
          docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
            .repartition(s.sparkContext.defaultParallelism),
          "doc_id"),
        "doc_id", "payload", nBins = 16),
      "doc_id", nBins = 16)

  /** REAL image resize end to end: decode (PNG or JPEG) → nearest-neighbor
    * resample to 16×16 → re-encode as a genuine PNG → decode THAT back
    * through [[graft.pipeline.Multimodal.pngPixelStats]]. The oracle
    * restates every resized pixel from the source arithmetic and the
    * nearest-neighbor index map; non-image payloads pass through and fall
    * out of the PNG stats, by construction. */
  private def qResizeReal(s: SparkSession, dir: String): DataFrame = {
    val pay = Multimodal.synthesizeDecodablePayload(
      docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
        .repartition(s.sparkContext.defaultParallelism),
      "doc_id")
    val meta = Multimodal.withMediaMeta(pay, "payload")
    val resized = Multimodal.resizeImages(meta, "doc_id", "payload",
      "media_meta", targetW = 16, targetH = 16)
    Multimodal.pngPixelStats(resized, "doc_id", "payload")
  }

  /** Perceptual dHash over REAL decoded pixels
    * ([[graft.pipeline.Multimodal.imageDHash]]) for the image arms of the
    * mixed decodable corpus — WAV/AVI payloads fall out of decodeImage by
    * contract. */
  private def qImageDhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageDHash(
      Multimodal.synthesizeDecodablePayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** Perceptual DCT hash (pHash) over the same decodable payload set —
    * the blur-robust companion to q_image_dhash, exercising the
    * fixed-point 32-point DCT and exact median selection. */
  private def qImagePhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.imagePHash(
      Multimodal.synthesizeDecodablePayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** Perceptual average hash (aHash) over the same decodable payload set
    * — the triad's cheapest member ([[graft.pipeline.Multimodal
    * .imageAHash]]): 8×8 integer-mean threshold, brightness-shift
    * invariant by construction. */
  private def qImageAhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageAHash(
      Multimodal.synthesizeDecodablePayload(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** Streaming twin of q_image_dhash — the first streaming DECODE
    * operator: synthesize + decode + hash are all stateless per-row
    * mapPartitions, so any micro-batch slicing gives identical
    * signatures and an ingest stream can be pixel-fingerprinted before
    * it ever lands. Shares q_image_dhash's oracle verbatim. */
  private def qStreamDhash(s0: SparkSession, dir: String): DataFrame = {
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
  private def qStreamAhash(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val out = Multimodal.imageAHash(
      Multimodal.synthesizeDecodablePayload(
        docsStream(s, dir).select(col("doc_id")), "doc_id"),
      "doc_id", "payload")
    runStream(s, out)
  }

  /** Banded near-dup join over the dHash signatures — pixel-space LSH
    * dedup with exact Hamming verification at radius 3. */
  private def qImageNeardup(s: SparkSession, dir: String): DataFrame =
    Multimodal.dhashNearDupPairs(qImageDhash(s, dir), "doc_id",
      maxHamming = 3)

  /** Decoder drop-rate report over a corpus that exercises every coverage
    * class: decodable media, header-only containers (including MP4, whose
    * sample decode the engine deliberately lacks), and non-media bytes.
    * The oracle restates the (format, status) counts from the id-derived
    * synthesis plan. */
  private def qMediaCoverage(s: SparkSession, dir: String): DataFrame =
    Multimodal.mediaCoverage(
      Multimodal.synthesizeCoverageCorpus(
        docs(s, dir).select(col("doc_id")) // expansion spread: see qDecodePng
          .repartition(s.sparkContext.defaultParallelism),
        "doc_id"),
      "doc_id", "payload")

  /** Scale-safe embedding near-dup: the bucketed LSH plan (equi-join on the
    * sign-LSH bucket) rather than the per-label all-pairs ground truth. */
  private def qEmbedNearDupLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDup(quantized(s, dir), "vec_id", "q",
      dim = 64, threshold = 0.3, nBits = 6)

  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate CLUSTERS over
    * embeddings — the LSH-bucketed cosine pairs are the edge set, connected
    * components label each group, and the minimum-id member is the one
    * representative a curation pipeline keeps. Pure composition of
    * [[Similarity.embeddingNearDup]] + [[Dedup.dedupClusters]]. */
  private def qSemdedup(s: SparkSession, dir: String): DataFrame = {
    val edges = Similarity.embeddingNearDup(quantized(s, dir), "vec_id", "q",
      dim = 64, threshold = 0.3, nBits = 6)
    Dedup.dedupClusters(emb(s, dir).select(col("vec_id")), "vec_id", edges)
  }

  // ================================================================ registry
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_slice_between" -> qSliceBetween _,
    "q_latest_n" -> qLatestN _,
    "q_earliest_n" -> qEarliestN _,
    "q_tsdf_projection" -> qTsdfProjection _,
    "q_stream_tolerance_join" -> qStreamToleranceJoin _,
    "q_stream_pq_topk" -> qStreamPqTopk _,
    "q_asof" -> qAsof _,
    "q_asof_next" -> qAsofNext _,
    "q_asof_nearest" -> qAsofNearest _,
    "q_asof_tolerance" -> qAsofTolerance _,
    "q_asof_bcast" -> qAsofBcast _,
    "q_asof_skew" -> qAsofSkew _,
    "q_asof_nanos" -> qAsofNanos _,
    "q_time_horizon" -> qTimeHorizon _,
    "q_describe" -> qDescribe _,
    "q_resample_avg" -> qResampleAvg _,
    "q_resample_floor" -> qResampleFloor _,
    "q_resample_ceil" -> qResampleCeil _,
    "q_resample_sum" -> qResampleSum _,
    "q_resample_median" -> qResampleMedian _,
    "q_twap" -> qTwap _,
    "q_threshold_cross" -> qThresholdCross _,
    "q_bollinger" -> qBollinger _,
    "q_downsample_minmax" -> qDownsampleMinmax _,
    "q_upsample_fill" -> qUpsampleFill _,
    "q_interp_linear" -> qInterpLinear _,
    "q_interp_ffill" -> qInterpFfill _,
    "q_interp_bfill" -> qInterpBfill _,
    "q_interp_zero" -> qInterpZero _,
    "q_range_stats" -> qRangeStats _,
    "q_grouped_stats" -> qGroupedStats _,
    "q_vwap" -> qVwap _,
    "q_ema" -> qEma _,
    "q_ema_exact" -> qEmaExact _,
    "q_holt_exact" -> qHoltExact _,
    "q_kalman" -> qKalman _,
    "q_drawdown" -> qDrawdown _,
    "q_rsi" -> qRsi _,
    "q_macd" -> qMacd _,
    "q_atr" -> qAtr _,
    "q_stochastic" -> qStochastic _,
    "q_obv" -> qObv _,
    "q_peaks" -> qPeaks _,
    "q_ccf" -> qCcf _,
    "q_stream_holt" -> qStreamHolt _,
    "q_stream_hll" -> qStreamHll _,
    "q_stream_kalman" -> qStreamKalman _,
    "q_rolling_median" -> qRollingMedian _,
    "q_stream_rollmed" -> qStreamRollMed _,
    "q_gaps" -> qGaps _,
    "q_sessionize" -> qSessionize _,
    "q_contamination" -> qContamination _,
    "q_split_assign" -> qSplitAssign _,
    "q_quantiles" -> qQuantiles _,
    "q_state_intervals" -> qStateIntervals _,
    "q_bars" -> qBars _,
    "q_intervals_pivot" -> qIntervalsPivot _,
    "q_intervals_stack" -> qIntervalsStack _,
    "q_intervals_disjoint" -> qIntervalsDisjoint _,
    "q_interval_join" -> qIntervalJoin _,
    "q_interval_intersect" -> qIntervalIntersect _,
    "q_interval_subtract" -> qIntervalSubtract _,
    "q_point_in_interval" -> qPointInInterval _,
    "q_slice_ops" -> qSliceOps _,
    "q_intervals_union" -> qIntervalsUnion _,
    "q_write_roundtrip" -> qWriteRoundtrip _,
    "q_write_bucketed" -> qWriteBucketed _,
    "q_write_zorder" -> qWriteZorder _,
    "q_hilbert" -> qHilbert _,
    "q_ivf_train" -> qIvfTrain _,
    "q_ann_ivfpq" -> qAnnIvfPq _,
    "q_ann_ivfpq_res" -> qAnnIvfPqRes _,
    "q_ann_rerank" -> qAnnRerank _,
    "q_cv_folds" -> qCvFolds _,
    "q1_pricing_summary" -> qPricingSummary _,
    "q_revenue_nation" -> qRevenueNation _,
    "q_top_orders" -> qTopOrders _,
    "q_dedup_exact" -> qDedupExact _,
    "q_dup_stats" -> qDupStats _,
    "q_jaccard_pairs" -> qJaccardPairs _,
    "q_minhash_pairs" -> qMinhashPairs _,
    "q_containment" -> qContainment _,
    "q_chunk_docs" -> qChunkDocs _,
    "q_lexical" -> qLexical _,
    "q_simhash" -> qSimhash _,
    "q_simhash_pairs" -> qSimhashPairs _,
    "q_dedup_clusters" -> qDedupClusters _,
    "q_embed_neardup" -> qEmbedNearDup _,
    "q_embed_neardup_lsh" -> qEmbedNearDupLsh _,
    "q_semdedup" -> qSemdedup _,
    "q_ann_topk" -> qAnnTopk _,
    "q_embed_centroids" -> qEmbedCentroids _,
    "q_centroid_cosine" -> qCentroidCosine _,
    "q_hard_negatives" -> qHardNegatives _,
    "q_positive_pairs" -> qPositivePairs _,
    "q_embed_contamination" -> qEmbedContamination _,
    "q_embed_qa" -> qEmbedQa _,
    "q_ann_lsh" -> qAnnLsh _,
    "q_ann_multiprobe" -> qAnnMultiprobe _,
    "q_ann_ivf" -> qAnnIvf _,
    "q_ann_ivf_indexed" -> qAnnIvfIndexed _,
    "q_gram_matrix" -> qGramMatrix _,
    "q_pca_project" -> qPcaProject _,
    "q_whiten" -> qWhiten _,
    "q_lang_id" -> qLangId _,
    "q_quality" -> qQuality _,
    "q_strip_html" -> qStripHtml _,
    "q_pipeline_e2e" -> qPipelineE2e _,
    "q_url_dedup" -> qUrlDedup _,
    "q_weighted_sample" -> qWeightedSample _,
    "q_quality_v2" -> qQualityV2 _,
    "q_repetition" -> qRepetition _,
    "q_pii" -> qPii _,
    "q_bm25" -> qBm25 _,
    "q_bm25_multi" -> qBm25Multi _,
    "q_bm25_indexed" -> qBm25Indexed _,
    "q_tfidf" -> qTfidf _,
    "q_rrf" -> qRrf _,
    "q_rrf_hybrid" -> qRrfHybrid _,
    "q_keywords" -> qKeywords _,
    "q_stream_keywords" -> qStreamKeywords _,
    "q_ann_sq8" -> qAnnSq8 _,
    "q_kmv_distinct" -> qKmv _,
    "q_kmv_wide" -> qKmvWide _,
    "q_hll_distinct" -> qHll _,
    "q_hll_wide" -> qHllWide _,
    "q_stream_hll_wide" -> qStreamHllWide _,
    "q_lm_score" -> qLmScore _,
    "q_dsir" -> qDsir _,
    "q_score_calib" -> qScoreCalib _,
    "q_hist_quantile" -> qHistQuantile _,
    "q_corr" -> qCorr _,
    "q_simpson" -> qSimpson _,
    "q_key_skew" -> qKeySkew _,
    "q_tfcos_pairs" -> qTfcosPairs _,
    "q_stream_hist" -> qStreamHist _,
    "q_cms_heavy" -> qCmsHeavy _,
    "q_bloom" -> qBloom _,
    "q_ann_recall" -> qAnnRecall _,
    "q_ann_methods" -> qAnnMethods _,
    "q_seasonal" -> qSeasonal _,
    "q_robust_scale" -> qRobustScale _,
    "q_spectrum" -> qSpectrum _,
    "q_readability" -> qReadability _,
    "q_snapshot_diff" -> qSnapshotDiff _,
    "q_profile" -> qProfile _,
    "q_stream_drawdown" -> qStreamDrawdown _,
    "q_funnel" -> qFunnel _,
    "q_cooccur" -> qCooccur _,
    "q_pagerank" -> qPagerank _,
    "q_retention" -> qRetention _,
    "q_wau" -> qWau _,
    "q_wau_kmv" -> qWauKmv _,
    "q_wau_hll" -> qWauHll _,
    "q_scd2" -> qScd2 _,
    "q_scd2_lookup" -> qScd2Lookup _,
    "q_cross_z" -> qCrossZ _,
    "q_table_fp" -> qTableFp _,
    "q_lttb" -> qLttb _,
    "q_exact_quantile" -> qExactQuantile _,
    "q_dedup_canonical" -> qDedupCanonical _,
    "q_walk_forward" -> qWalkForward _,
    "q_split_group" -> qSplitGroup _,
    "q_rolling_p90" -> qRollingP90 _,
    "q_session_stats" -> qSessionStats _,
    "q_editdist_pairs" -> qEditdistPairs _,
    "q_k_anon" -> qKAnon _,
    "q_t_closeness" -> qTCloseness _,
    "q_dtw" -> qDtw _,
    "q_mojibake" -> qMojibake _,
    "q_seq_pattern" -> qSeqPattern _,
    "q_image_phash" -> qImagePhash _,
    "q_image_ahash" -> qImageAhash _,
    "q_time_rollup" -> qTimeRollup _,
    "q_stream_seq_pattern" -> qStreamSeqPattern _,
    "q_interarrival" -> qInterArrival _,
    "q_transitions" -> qTransitions _,
    "q_jaro" -> qJaro _,
    "q_lcs" -> qLcs _,
    "q_kaplan_meier" -> qKaplanMeier _,
    "q_stream_kaplan_meier" -> qStreamKaplanMeier _,
    "q_pmi" -> qPmi _,
    "q_mi" -> qMi _,
    "q_lm_bigram" -> qLmBigram _,
    "q_lm_kn" -> qLmKn _,
    "q_stream_lm_kn" -> qStreamLmKn _,
    "q_lm_kn3" -> qLmKn3 _,
    "q_lm_mkn" -> qLmMkn _,
    "q_lm_mkn3" -> qLmMkn3 _,
    "q_lm_kn3_mat" -> qLmKn3Mat _,
    "q_lm_mkn3_mat" -> qLmMkn3Mat _,
    "q_stream_lm_kn3" -> qStreamLmKn3 _,
    "q_ppl_buckets" -> qPplBuckets _,
    "q_ppl_buckets_scaled" -> qPplBucketsScaled _,
    "q_ppl_buckets_mkn" -> qPplBucketsMkn _,
    "q_fd" -> qFd _,
    "q_group_ols" -> qGroupOls _,
    "q_conformal" -> qConformal _,
    "q_stream_conformal" -> qStreamConformal _,
    "q_theil_sen" -> qTheilSen _,
    "q_mann_kendall" -> qMannKendall _,
    "q_welch" -> qWelch _,
    "q_stream_welch" -> qStreamWelch _,
    "q_gini" -> qGini _,
    "q_ewm_var" -> qEwmVar _,
    "q_hampel" -> qHampel _,
    "q_stream_ewm_var" -> qStreamEwmVar _,
    "q_stream_rsi" -> qStreamRsi _,
    "q_stream_macd" -> qStreamMacd _,
    "q_stream_threshold" -> qStreamThreshold _,
    "q_stream_stochastic" -> qStreamStochastic _,
    "q_stream_donchian" -> qStreamDonchian _,
    "q_stream_hw" -> qStreamHw _,
    "q_donchian" -> qDonchian _,
    "q_williams_r" -> qWilliamsR _,
    "q_roc" -> qRoc _,
    "q_sax" -> qSax _,
    "q_sax_motifs" -> qSaxMotifs _,
    "q_holt_winters" -> qHoltWinters _,
    "q_triangles" -> qTriangles _,
    "q_rfm" -> qRfm _,
    "q_oov" -> qOov _,
    "q_l_diversity" -> qLDiversity _,
    "q_benford" -> qBenford _,
    "q_domain_stats" -> qDomainStats _,
    "q_curriculum" -> qCurriculum _,
    "q_postings_index" -> qPostingsIndex _,
    "q_stratified_sample" -> qStratifiedSample _,
    "q_decontam_ngram" -> qDecontamNgram _,
    "q_source_overlap" -> qSourceOverlap _,
    "q_pack_sequences" -> qPackSequences _,
    "q_seq_fill" -> qSeqFill _,
    "q_anomaly_mad" -> qAnomalyMad _,
    "q_acf" -> qAcf _,
    "q_pacf" -> qPacf _,
    "q_rolling_corr" -> qRollingCorr _,
    "q_time_features" -> qTimeFeatures _,
    "q_winsorize" -> qWinsorize _,
    "q_cusum" -> qCusum _,
    "q_cusum_control" -> qCusumControl _,
    "q_stream_cusum" -> qStreamCusum _,
    "q_stream_scd2" -> qStreamScd2 _,
    "q_stream_dsir" -> qStreamDsir _,
    "q_stream_kmv" -> qStreamKmv _,
    "q_stream_kmv_wide" -> qStreamKmvWide _,
    "q_stream_cms" -> qStreamCms _,
    "q_stream_bloom" -> qStreamBloom _,
    "q_stream_gram" -> qStreamGram _,
    "q_stream_dtw" -> qStreamDtw _,
    "q_stream_transitions" -> qStreamTransitions _,
    "q_stream_intervals" -> qStreamIntervals _,
    "q_stream_intervals2" -> qStreamIntervals2 _,
    "q_stream_centroids" -> qStreamCentroids _,
    "q_stream_ahash" -> qStreamAhash _,
    "q_stream_whiten" -> qStreamWhiten _,
    "q_stream_pmi" -> qStreamPmi _,
    "q_stream_group_ols" -> qStreamGroupOls _,
    "q_kmv_jaccard" -> qKmvJaccard _,
    "q_stream_wau_kmv" -> qStreamWauKmv _,
    "q_rolling_slope" -> qRollingSlope _,
    "q_drift" -> qDrift _,
    "q_drift_stats" -> qDriftStats _,
    "q_exact_substr" -> qExactSubstr _,
    "q_top_ngrams" -> qTopNgrams _,
    "q_sample_k" -> qSampleK _,
    "q_boilerplate" -> qBoilerplate _,
    "q_mixture_budget" -> qMixtureBudget _,
    "q_temperature_mix" -> qTemperatureMix _,
    "q_token_count" -> qTokenCount _,
    "q_bpe_tokens" -> qBpeTokens _,
    "q_bpe_bytes" -> qBpeBytes _,
    "q_unigram_tokens" -> qUnigramTokens _,
    "q_unigram_em" -> qUnigramEm _,
    "q_stream_unigram" -> qStreamUnigram _,
    "q_tokenizer_compare" -> qTokenizerCompare _,
    "q_pack_unigram" -> qPackUnigram _,
    "q_stream_bpe" -> qStreamBpe _,
    "q_pack_bpe" -> qPackBpe _,
    "q_bpe_vocab" -> qBpeVocab _,
    "q_decode_mp4" -> qDecodeMp4 _,
    "q_fingerprint" -> qFingerprint _,
    "q_dedup_incremental" -> qDedupIncremental _,
    "q_para_dedup" -> qParaDedup _,
    "q_rolling_fp" -> qRollingFp _,
    "q_winnow" -> qWinnow _,
    "q_winnow_pairs" -> qWinnowPairs _,
    "q_stream_winnow" -> qStreamWinnow _,
    "q_stream_novelty" -> qStreamNovelty _,
    "q_novelty" -> qWinnowNovelty _,
    "q_fourier" -> qFourier _,
    "q_lookback" -> qLookback _,
    "q_multimodal" -> qMultimodal _,
    "q_media_meta_real" -> qMediaMetaReal _,
    "q_decode_png" -> qDecodePng _,
    "q_decode_jpeg" -> qDecodeJpeg _,
    "q_decode_jpeg_prog" -> qDecodeJpegProg _,
    "q_decode_video" -> qDecodeVideo _,
    "q_decode_wav" -> qDecodeWav _,
    "q_decode_bmp" -> qDecodeBmp _,
    "q_audio_features" -> qAudioFeatures _,
    "q_audio_sequency" -> qAudioSequency _,
    "q_audio_spectrogram" -> qAudioSpectrogram _,
    "q_audio_descriptors" -> qAudioDescriptors _,
    "q_audio_mfcc" -> qAudioMfcc _,
    "q_audio_decimate" -> qAudioDecimate _,
    "q_hist_equalize" -> qHistEqualize _,
    "q_nucleus" -> qNucleus _,
    "q_zipf" -> qZipf _,
    "q_normalization_qa" -> qNormalizationQa _,
    "q_stream_zipf" -> qStreamZipf _,
    "q_stream_nucleus" -> qStreamNucleus _,
    "q_frame_plan" -> qFramePlan _,
    "q_frame_sample" -> qFrameSample _,
    "q_scene_cuts" -> qSceneCuts _,
    "q_shot_keyframes" -> qShotKeyframes _,
    "q_video_dedup" -> qVideoDedup _,
    "q_video_neardup" -> qVideoNearDup _,
    "q_audio_dedup" -> qAudioDedup _,
    "q_audio_neardup" -> qAudioNearDup _,
    "q_media_dedup" -> qMediaDedup _,
    "q_media_neardup_e2e" -> qMediaNearDupE2E _,
    "q_stream_media_dedup" -> qStreamMediaDedup _,
    "q_stream_keyframes" -> qStreamKeyframes _,
    "q_stream_video_neardup" -> qStreamVideoNearDup _,
    "q_stream_audio_neardup" -> qStreamAudioNearDup _,
    "q_media_coverage" -> qMediaCoverage _,
    "q_pixel_hist" -> qPixelHist _,
    "q_image_dhash" -> qImageDhash _,
    "q_stream_dhash" -> qStreamDhash _,
    "q_image_neardup" -> qImageNeardup _,
    "q_resize_real" -> qResizeReal _,
  )

  def oracleSql: Map[String, String] = OracleSql.all

  /** Dynamic oracle entries whose SQL embeds bounded TRAINED literals,
    * computed at Verify dump time from the same sfDir the queries ran on.
    * q_pca_project: the eigensolve is a driver-side IEEE Jacobi a SQL
    * engine cannot re-derive, so the replay restates the trained means and
    * components as round-trip double literals (the ANN-codebook
    * bounded-literal discipline — 8·64 + 64 doubles) and re-runs ONLY the
    * projection arithmetic: per component, the same left-associated
    * fold Σ_j (q_j − μ_j)·w_j the Spark `aggregate(zip_with(...))` column
    * evaluates — identical IEEE op sequence on identical literals, so the
    * doubles match bit-for-bit. The Gram matrix feeding the eigensolve is
    * independently oracle-gated by q_gram_matrix, and training is
    * deterministic (exact integer Gram → fixed Jacobi sweep order), so
    * dump-time training reproduces the query's model exactly. */
  def dynamicOracleSql(s: SparkSession, dir: String): Map[String, String] = {
    val model = graft.pipeline.Pca.train(quantized(s, dir), col("q"),
      dim = 64, d = 8)
    // shortest round-trip repr (Java Double.toString) through an explicit
    // CAST: a bare decimal literal parses as DECIMAL in DuckDB and its
    // decimal arithmetic rounds differently in the last ulps (measured:
    // pc0 drifted 2e-13 relative) — the string-to-DOUBLE cast is the
    // correctly-rounded parse of the round-trip repr, bit-identical
    def d(x: Double): String = s"CAST('${x.toString}' AS DOUBLE)"
    val qv = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))"
    def pcExpr(ci: Int): String = {
      val terms = model.components(ci).zipWithIndex.map { case (w, j) =>
        s"((q[${j + 1}] - ${d(model.means(j))}) * ${d(w)})"
      }
      terms.foldLeft("0.0")((acc, t) => s"($acc + $t)")
    }
    val pcs = model.components.indices.map(ci => pcExpr(ci) + s" AS pc$ci")
    // whitening = the same projection fold divided by the driver-computed
    // √λ restated as a literal — one correctly-rounded division, bit-exact
    val wcs = model.components.indices.map { ci =>
      s"(${pcExpr(ci)}) / ${d(math.sqrt(model.eigenvalues(ci)))} AS wc$ci"
    }
    Map("q_pca_project" ->
      s"""WITH v AS (SELECT vec_id, $qv AS q FROM embeddings)
         |SELECT vec_id,
         |  ${pcs.mkString(",\n  ")}
         |FROM v""".stripMargin,
      "q_whiten" ->
      s"""WITH v AS (SELECT vec_id, $qv AS q FROM embeddings)
         |SELECT vec_id,
         |  ${wcs.mkString(",\n  ")}
         |FROM v""".stripMargin,
      // the streaming gate is the same literal projection on arrival —
      // stateless, so it shares the whitening replay verbatim
      "q_stream_whiten" ->
      s"""WITH v AS (SELECT vec_id, $qv AS q FROM embeddings)
         |SELECT vec_id,
         |  ${wcs.mkString(",\n  ")}
         |FROM v""".stripMargin,
      "q_bpe_tokens" -> bpeTokensOracle(s, dir),
      "q_bpe_bytes" -> bpeBytesOracle(s, dir),
      "q_pipeline_e2e" -> pipelineE2eOracle(s, dir),
      "q_stream_bpe" -> bpeTokensOracle(s, dir),
      "q_pack_bpe" -> packBpeOracle(s, dir),
      "q_bpe_vocab" -> bpeVocabOracle(s, dir),
      "q_unigram_tokens" -> unigramTokensOracle(s, dir),
      // the streaming gate scores statelessly under the same frozen
      // table, so it shares the replay verbatim
      "q_stream_unigram" -> unigramTokensOracle(s, dir),
      // the EM face is the identical replay with the REFINED scores
      // embedded (same vocabulary, re-estimated probabilities)
      "q_unigram_em" -> unigramTokensOracleFor(unigramEmTable(s, dir)),
      "q_tokenizer_compare" -> tokenizerCompareOracle(s, dir),
      "q_pack_unigram" -> packUnigramOracle(s, dir))
  }

  /** q_pack_unigram replay: the q_pack_bpe running-sum layout over the
    * unigram per-doc counts (nested trained replay). */
  private def packUnigramOracle(s: SparkSession, dir: String): String =
    s"""WITH u AS (${unigramTokensOracle(s, dir)}),
       |d2 AS (SELECT doc_id, source FROM documents),
       |c AS (SELECT d2.source, d2.doc_id, u.n_unigram_tokens AS tokens,
       |  sum(u.n_unigram_tokens) OVER (PARTITION BY d2.source
       |    ORDER BY d2.doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    - u.n_unigram_tokens AS strt
       |  FROM d2 JOIN u USING (doc_id))
       |SELECT source, doc_id, tokens,
       |  CAST(floor(strt / 2048.0) AS BIGINT) AS seq_id,
       |  CAST(strt % 2048 AS BIGINT) AS seq_off
       |FROM c""".stripMargin

  /** q_tokenizer_compare replay: both trained-table replays nested as
    * CTEs (the RRF-hybrid nesting convention), joined per doc, exact
    * integer sums per source, one terminal ratio division. */
  private def tokenizerCompareOracle(s: SparkSession, dir: String): String =
    s"""WITH bpet AS (${bpeTokensOracle(s, dir)}),
       |unit AS (${unigramTokensOracle(s, dir)}),
       |dd AS (SELECT doc_id, source FROM documents)
       |SELECT dd.source, count(*) AS n_docs,
       |  CAST(sum(bpet.n_bpe_tokens) AS BIGINT) AS bpe_tokens,
       |  CAST(sum(unit.n_unigram_tokens) AS BIGINT) AS unigram_tokens,
       |  CAST(sum(unit.n_unigram_tokens) AS DOUBLE) /
       |    CAST(sum(bpet.n_bpe_tokens) AS DOUBLE) AS unigram_per_bpe
       |FROM dd JOIN bpet USING (doc_id) JOIN unit USING (doc_id)
       |GROUP BY dd.source""".stripMargin

  /** q_unigram_tokens replay: the trained (piece, score) table embedded
    * verbatim, Viterbi as FIXED-length folds (chunk 24 × piece 4 — the
    * LCS discipline; DuckDB's vectorized nested folds only corrupt on
    * varying lengths), integer-struct accumulators only (a VARCHAR list
    * inside a struct accumulator corrupts across steps — measured on
    * DuckDB 1.0, the CASE-over-struct sibling of the r12 hazard; the
    * backtrack therefore folds a flat BIGINT list of piece lengths and
    * cuts tokens from prefix sums afterwards), argmax via
    * first-position-of-max over the composite (unique among valid
    * candidates, so 'first' is decoration, not a tiebreak). Validated
    * 65/65 against an independent Viterbi on a mixed-length multirow
    * batch (the always-test-multirow rule). */
  private def unigramTokensOracle(s: SparkSession, dir: String): String =
    unigramTokensOracleFor(unigramTable(s, dir))

  /** The same replay parameterized by the table — shared by the frozen
    * count-derived face and the EM-refined face. */
  private def unigramTokensOracleFor(t: graft.functions.UnigramTable): String = {
    val W = t.chunkLen
    val L = t.maxPieceLen
    val ks = t.pieces.map(p => s"'${p._1}'").mkString("[", ", ", "]")
    val vs = t.pieces.map(_._2).mkString("[", ", ", "]")
    val unk = t.unkScoreQ
    val pen = 1L << 45
    val norm = "trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    def candS(idx: String) =
      s"""acc[CAST(greatest(x[1].s - $idx, 1) AS INT)].s
         |            + coalesce(($vs)[list_position($ks, substr(cw, CAST(x[1].s - $idx AS INT), CAST($idx + 1 AS INT)))], $unk)
         |            - (1 - CAST(($idx < x[1].s AND (list_position($ks, substr(cw, CAST(x[1].s - $idx AS INT), CAST($idx + 1 AS INT))) > 0 OR $idx = 0)) AS BIGINT)) * $pen""".stripMargin
    val compList =
      s"""list_transform(range($L), li -> (${candS("li")}) * 4096
         |            - (acc[CAST(greatest(x[1].s - li, 1) AS INT)].t + 1) * 64 + li + 1)""".stripMargin
    s"""WITH d AS (SELECT doc_id, $norm AS t FROM documents),
       |wp AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w,
       |  unnest(range(len(string_split(t, ' ')))) AS pos
       |  FROM d WHERE t <> ''),
       |wp2 AS (SELECT doc_id, w, pos FROM wp WHERE w <> ''),
       |dw AS (SELECT DISTINCT w FROM wp2),
       |ch AS (SELECT w, unnest(list_transform(range((length(w) + ${W - 1}) // $W),
       |    c -> substr(w, CAST(c * $W + 1 AS INT), $W))) AS cw,
       |  unnest(range((length(w) + ${W - 1}) // $W)) AS cpos FROM dw),
       |dpt AS (SELECT w, cpos, cw, length(cw) AS m,
       |  list_reduce(
       |    list_prepend([struct_pack(s := CAST(0 AS BIGINT), t := CAST(0 AS BIGINT), l := CAST(0 AS BIGINT))],
       |      list_transform(range($W), jj -> [struct_pack(s := CAST(jj + 1 AS BIGINT), t := CAST(0 AS BIGINT), l := CAST(0 AS BIGINT))])),
       |    (acc, x) -> list_append(acc,
       |      list_transform(range($L), li -> struct_pack(
       |        s := ${candS("li")},
       |        t := acc[CAST(greatest(x[1].s - li, 1) AS INT)].t + 1,
       |        l := CAST(li + 1 AS BIGINT)))[
       |        list_position($compList,
       |          list_reduce($compList, (a, b) -> greatest(a, b)))])) AS dp
       |  FROM ch),
       |bt AS (SELECT w, cpos, cw, m,
       |  list_transform(range(len(ls)), i -> substr(cw,
       |    CAST(1 + coalesce(list_sum(ls[1:i]), 0) AS INT), CAST(ls[i + 1] AS INT))) AS toks
       |  FROM (SELECT w, cpos, cw, m,
       |    list_filter(list_reverse(list_reduce(
       |      list_prepend([CAST(m AS BIGINT)],
       |        list_transform(range($W), _x -> [CAST(0 AS BIGINT)])),
       |      (acc, _x) -> list_concat(
       |        [acc[1] - dp[CAST(acc[1] + 1 AS INT)].l],
       |        list_concat(acc[2:], [dp[CAST(acc[1] + 1 AS INT)].l])))[2:]),
       |      x -> x > 0) AS ls
       |    FROM dpt)),
       |we AS (SELECT w,
       |  '|' || array_to_string(flatten(list(toks ORDER BY cpos)), '||') || '|' AS e,
       |  CAST(len(flatten(list(toks ORDER BY cpos))) AS BIGINT) AS ntok
       |  FROM bt GROUP BY w),
       |per AS (SELECT doc_id, CAST(sum(ntok) AS BIGINT) AS n,
       |  string_agg(e, '' ORDER BY pos) AS toks
       |  FROM wp2 JOIN we USING (w) GROUP BY doc_id)
       |SELECT d.doc_id, CAST(COALESCE(per.n, 0) AS BIGINT) AS n_unigram_tokens,
       |  COALESCE(per.toks, '') AS toks
       |FROM d LEFT JOIN per USING (doc_id)""".stripMargin
  }

  /** q_bpe_vocab replay: per-word encode (the shared chain), token list
    * split off the SAME wrapped-string form the engine's expression
    * emits, occurrence mass from the word counts. */
  private def bpeVocabOracle(s: SparkSession, dir: String): String = {
    val (norm, encoded) = bpeEncodeSql(s, dir)
    s"""WITH d AS (SELECT doc_id, $norm AS t FROM documents),
       |words AS (SELECT unnest(string_split(t, ' ')) AS w
       |          FROM d WHERE t <> ''),
       |wcnt AS (SELECT w, count(*) AS n FROM words GROUP BY w),
       |enc AS (SELECT w, n, $encoded AS e FROM wcnt),
       |tok AS (SELECT w, n, unnest(string_split(trim(e, '|'), '||'))
       |        AS token FROM enc)
       |SELECT token, CAST(SUM(n) AS BIGINT) AS n_occurrences,
       |  CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words
       |FROM tok GROUP BY token""".stripMargin
  }

  /** The normalize + greedy-encode SQL pair shared by every BPE oracle:
    * trains the SAME 200-merge table the queries train (deterministic)
    * and returns (normalizeText replay, the nested-replace encode chain
    * over a word column `w`). */
  private def bpeEncodeSql(s: SparkSession, dir: String): (String, String) = {
    val merges = bpeMerges(s, dir)
    val norm = "trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    val wrapped = """regexp_replace(w, '(.)', '|\1|', 'g')"""
    val encoded = merges.foldLeft(wrapped) { case (acc, (a, b)) =>
      s"replace($acc, '|$a||$b|', '|$a$b|')"
    }
    (norm, encoded)
  }

  /** Dynamic replay of the end-to-end curation chain: injection → HTML
    * strip → norm → integer quality gates → two fingerprint dedups →
    * hashed-3-gram decontam → trained-BPE counts → running-sum packing.
    * Every stage reuses the gate conventions of its standalone oracle;
    * dynamic because the BPE table trains at dump time. */
  private def pipelineE2eOracle(s: SparkSession, dir: String): String = {
    val (_, encoded) = bpeEncodeSql(s, dir)
    val b = E2eTemplateB
    val normX = "trim(regexp_replace(regexp_replace(lower(x), " +
      "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    val shingle3 =
      "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(" +
        "generate_series(1, len(toks) - 2), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) " +
        "ELSE [array_to_string(toks, ' ')] END"
    val ph = graft.pipeline.Hashing.polyHashSql("x")
    s"""WITH inj AS (SELECT doc_id, source,
       |  CASE WHEN doc_id % 10 = 7 THEN '$E2eTemplateA'
       |    WHEN doc_id % 10 = 5 THEN (CASE CAST(doc_id % 3 AS INTEGER)
       |      WHEN 0 THEN '${b(0)}' WHEN 1 THEN '${b(1)}' ELSE '${b(2)}' END)
       |    ELSE text END AS t0 FROM documents),
       |h AS (SELECT doc_id, source,
       |  '<html><head><style>p { color: #000; }</style></head><body><script>if (1 < 2) run();</script><p class="c">'
       |  || t0 || '</p><div>footer &amp; terms&nbsp;apply</div></body></html>'
       |  AS html FROM inj),
       |s1 AS (SELECT doc_id, source, regexp_replace(regexp_replace(html,
       |  '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
       |  '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g') AS x FROM h),
       |s2 AS (SELECT doc_id, source, regexp_replace(x, '<[^>]*>', ' ', 'g') AS x FROM s1),
       |s3 AS (SELECT doc_id, source,
       |  replace(replace(replace(replace(replace(replace(x,
       |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |    '&#39;', ''''), '&amp;', '&') AS x FROM s2),
       |f AS (SELECT doc_id, source, trim(regexp_replace(x, '\\s+', ' ', 'g')) AS x FROM s3),
       |nn AS (SELECT doc_id, source, $normX AS t FROM f),
       |tk AS (SELECT *, string_split(t, ' ') AS toks FROM nn),
       |g AS (SELECT * FROM tk WHERE len(toks) >= 12
       |  AND len(list_distinct(toks)) * 3 >= len(toks)),
       |ex AS (SELECT * FROM (SELECT *, min(doc_id)
       |  OVER (PARTITION BY md5(t)) AS m1 FROM g) WHERE doc_id = m1),
       |nr AS (SELECT * FROM (SELECT *, min(doc_id) OVER (PARTITION BY
       |  md5(array_to_string(list_sort(list_distinct(toks)), ' '))) AS m2
       |  FROM ex) WHERE doc_id = m2),
       |shg AS (SELECT doc_id, $shingle3 AS sh FROM nr),
       |hs AS (SELECT doc_id,
       |  list_distinct(list_transform(sh, x -> $ph)) AS gs FROM shg),
       |evd AS (SELECT string_split(trim(regexp_replace(regexp_replace(
       |  lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' ') AS toks
       |  FROM documents WHERE doc_id % 7 = 0),
       |evs AS (SELECT $shingle3 AS sh FROM evd),
       |ev AS (SELECT DISTINCT unnest(list_transform(sh, x -> $ph)) AS g2 FROM evs),
       |exg AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g2 FROM hs),
       |jj AS (SELECT exg.doc_id, exg.n_grams,
       |  CASE WHEN ev.g2 IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM exg LEFT JOIN ev USING (g2)),
       |dstat AS (SELECT doc_id, n_grams, sum(hit) AS hit_grams
       |  FROM jj GROUP BY 1, 2),
       |keep AS (SELECT nr.source, nr.doc_id, nr.t FROM nr
       |  JOIN dstat USING (doc_id) WHERE hit_grams * 2 < n_grams),
       |words AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w
       |  FROM keep WHERE t <> ''),
       |dw AS (SELECT DISTINCT w FROM words),
       |wc AS (SELECT w, CAST((length(e) - length(replace(e, '||', ''))) // 2
       |  + 1 AS BIGINT) AS ntok FROM (SELECT w, $encoded AS e FROM dw)),
       |per AS (SELECT doc_id, SUM(ntok) AS n FROM words JOIN wc USING (w)
       |  GROUP BY doc_id),
       |bt AS (SELECT k.source, k.doc_id,
       |  CAST(COALESCE(per.n, 0) AS BIGINT) AS tokens
       |  FROM keep k LEFT JOIN per USING (doc_id)),
       |c AS (SELECT source, doc_id, tokens,
       |  sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens AS strt
       |  FROM bt)
       |SELECT source, doc_id, tokens,
       |  CAST(floor(strt / 2048.0) AS BIGINT) AS seq_id,
       |  CAST(strt % 2048 AS BIGINT) AS seq_off
       |FROM c""".stripMargin
  }

  /** Dynamic replay of q_bpe_bytes: train the SAME 200-merge byte-level
    * table (deterministic), then replay per distinct PIECE — pieces are the
    * alternating space / non-space runs `regexp_extract_all(' +|[^ ]+')`
    * yields, symbolized as `lower(hex(encode(piece)))` split into hex
    * pairs, merged by the same wrapped-replace chain as char mode (hex
    * symbols cannot contain `|`). The per-doc token STRING is the ordered
    * concatenation of piece forms (piece forms concatenate to exactly the
    * engine's joint wrapped form), the count the per-piece gap sum. */
  private def bpeBytesOracle(s: SparkSession, dir: String): String = {
    val merges = byteBpeMerges(s, dir)
    val wrapped = """regexp_replace(lower(hex(encode(w))), '(..)', '|\1|', 'g')"""
    val encoded = merges.foldLeft(wrapped) { case (acc, (a, b)) =>
      s"replace($acc, '|$a||$b|', '|$a$b|')"
    }
    s"""WITH pl AS (SELECT doc_id, regexp_extract_all(text, ' +|[^ ]+') AS l
       |            FROM documents),
       |p AS (SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS i
       |      FROM pl),
       |dw AS (SELECT DISTINCT w FROM p),
       |enc AS (SELECT w, $encoded AS e FROM dw),
       |tok AS (SELECT doc_id, i, e FROM p JOIN enc USING (w)),
       |agg AS (SELECT doc_id, string_agg(e, '' ORDER BY i) AS toks,
       |  CAST(SUM((length(e) - length(replace(e, '||', ''))) // 2 + 1)
       |    AS BIGINT) AS n
       |  FROM tok GROUP BY doc_id)
       |SELECT pl.doc_id, COALESCE(agg.toks, '') AS toks,
       |  CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_tokens
       |FROM pl LEFT JOIN agg USING (doc_id)""".stripMargin
  }

  /** Shared CTE prefix: per-doc BPE token counts under the trained table
    * (see [[bpeTokensOracle]] for the replay argument). Exposes
    * `bt(doc_id, source, ntok)`. */
  private def bpeDocTokensCte(s: SparkSession, dir: String): String = {
    val (norm, encoded) = bpeEncodeSql(s, dir)
    s"""WITH d AS (SELECT doc_id, source, $norm AS t FROM documents),
       |words AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w
       |          FROM d WHERE t <> ''),
       |dw AS (SELECT DISTINCT w FROM words),
       |wc AS (SELECT w, CAST((length(e) - length(replace(e, '||', ''))) // 2
       |                      + 1 AS BIGINT) AS ntok
       |       FROM (SELECT w, $encoded AS e FROM dw)),
       |per AS (SELECT doc_id, SUM(ntok) AS n FROM words JOIN wc USING (w)
       |        GROUP BY doc_id),
       |bt AS (SELECT d.doc_id, d.source,
       |         CAST(COALESCE(per.n, 0) AS BIGINT) AS ntok
       |       FROM d LEFT JOIN per ON d.doc_id = per.doc_id)""".stripMargin
  }

  /** Dynamic replay of q_bpe_tokens: train the SAME 200-merge table the
    * query trains (deterministic — exact integer counts, total-order
    * tie-breaks), then replay the greedy encode in pure SQL. Each symbol
    * is wrapped `|sym|` (gaps are `||`; `|` cannot occur in normalized
    * [a-z0-9] words), so one scan-forward non-overlapping `replace` of
    * `|a||b|` → `|ab|` IS the greedy left-to-right merge pass, runs
    * included (`replace` resumes after the inserted `|`, exactly where
    * the fold's next window starts). Token count = gap count + 1. */
  private def bpeTokensOracle(s: SparkSession, dir: String): String =
    s"""${bpeDocTokensCte(s, dir)}
       |SELECT doc_id, ntok AS n_bpe_tokens FROM bt""".stripMargin

  /** q_pack_bpe replay: the q_pack_sequences running-sum layout over the
    * BPE counts instead of the char heuristic. */
  private def packBpeOracle(s: SparkSession, dir: String): String =
    s"""${bpeDocTokensCte(s, dir)},
       |c AS (SELECT source, doc_id, ntok AS tokens,
       |  sum(ntok) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ntok AS strt
       |  FROM bt)
       |SELECT source, doc_id, tokens,
       |  CAST(floor(strt / 2048.0) AS BIGINT) AS seq_id,
       |  CAST(strt % 2048 AS BIGINT) AS seq_off
       |FROM c""".stripMargin
}

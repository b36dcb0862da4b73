package graft.tsdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{OrderStat, Recurrence}

/** Rolling, grouped and derived statistics over TSDFs.
  * Reference: /root/reference/python/tempo/tsdf.py:1000-1616. */
object Stats {

  /** Rolling mean/count/min/max/sum/stddev + zscore over a value-range
    * lookback window of `rangeBackWindowSecs` seconds (tsdf.py:1112-1182).
    * The ts is double-cast so the range frame is value-based (seconds). */
  /** Sample stddev from raw moment sums: sqrt((n·Σx² − (Σx)²)/(n·(n−1))).
    * Unlike one-pass Welford (what built-in `stddev` uses), this is a pure
    * function of order-independent sums — on integer-scaled metrics the
    * result is bit-reproducible across engines/partitionings. Guarded null
    * for n ≤ 1. All three moments are cast to double BEFORE any product:
    * a BIGINT s1·s1 silently wraps in Spark (non-ANSI) once |Σx| exceeds
    * ~3.0e9 while DuckDB errors on the same overflow — casting first makes
    * both engines run the identical IEEE expression at any magnitude (the
    * oracle's momentSd mirrors this cast order). */
  private[graft] def momentStddev(cnt: Column, s1: Column, s2: Column): Column = {
    val c = cnt.cast(DoubleType)
    val a = s1.cast(DoubleType)
    val b = s2.cast(DoubleType)
    when(cnt > 1, sqrt((c * b - a * a) / (c * (c - lit(1.0)))))
  }

  def withRangeStats(tsdf: TSDF, colsToSummarize: Seq[String],
      rangeBackWindowSecs: Long): TSDF = {
    val cols = if (colsToSummarize.nonEmpty) colsToSummarize else tsdf.metricCols
    // order by exact integer µs when ts is a timestamp (float seconds would
    // wobble at frame boundaries); numeric ts cols order as-is in seconds
    val tsIsTimestamp = tsdf.df.schema(tsdf.tsCol).dataType == TimestampType
    val (sortCol, lower) =
      if (tsIsTimestamp) (unix_micros(tsdf.ts), -rangeBackWindowSecs * 1000000L)
      else (tsdf.ts.cast(DoubleType), -rangeBackWindowSecs)
    val w = Window.partitionBy(tsdf.seriesCols: _*).orderBy(sortCol)
      .rangeBetween(lower, Window.currentRow)
    val out = cols.foldLeft(tsdf.df) { (df, c) =>
      val v = col(c)
      // square in double: float*float would round at float precision and the
      // (n·Σx² − (Σx)²) cancellation amplifies that into the 2nd decimal
      val vd = v.cast(DoubleType)
      val cnt = count(v).over(w)
      val sd = momentStddev(cnt, sum(vd).over(w), sum(vd * vd).over(w))
      df.withColumn(s"mean_$c", avg(v).over(w))
        .withColumn(s"count_$c", cnt)
        .withColumn(s"min_$c", min(v).over(w))
        .withColumn(s"max_$c", max(v).over(w))
        .withColumn(s"sum_$c", sum(v).over(w))
        .withColumn(s"stddev_$c", sd)
        .withColumn(s"zscore_$c",
          when(col(s"stddev_$c") =!= 0.0, (v - col(s"mean_$c")) / col(s"stddev_$c")))
    }
    tsdf.copy(df = out)
  }

  /** Per series × tumbling bucket: mean/count/min/max/sum/stddev per metric
    * (tsdf.py:1184-1248). */
  def withGroupedStats(tsdf: TSDF, metricCols: Seq[String], freq: String): TSDF = {
    val spec = Resample.parseFreq(freq)
    val cols = if (metricCols.nonEmpty) metricCols else tsdf.metricCols
    val bucket = window(tsdf.ts, spec.sparkInterval).getField("start")
    val aggs = cols.flatMap { c =>
      val v = col(c)
      val vd = v.cast(DoubleType) // square in double (see withRangeStats)
      Seq(avg(v).alias(s"mean_$c"), count(v).alias(s"count_$c"),
        min(v).alias(s"min_$c"), max(v).alias(s"max_$c"),
        sum(v).alias(s"sum_$c"), sum(vd * vd).alias(s"__s2_$c"))
    }
    val out = tsdf.df
      .withColumn("__bucket", bucket)
      .groupBy((tsdf.partitionCols :+ "__bucket").map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumns(cols.map(c => s"stddev_$c" ->
        momentStddev(col(s"count_$c"), col(s"sum_$c"), col(s"__s2_$c"))).toMap)
      .drop(cols.map(c => s"__s2_$c"): _*)
      .withColumnRenamed("__bucket", tsdf.tsCol)
    TSDF(out, tsdf.tsCol, tsdf.partitionCols, None)
  }

  /** Volume-weighted average price per coarse bucket × series
    * (tsdf.py:1000-1042). `frequency`: "m"inute | "H"our | "D"ay. */
  def vwap(tsdf: TSDF, frequency: String, volumeCol: String, priceCol: String): TSDF = {
    val unit = frequency match {
      case "m" => "minute"
      case "H" | "h" => "hour"
      case "D" | "d" => "day"
      case other => throw new IllegalArgumentException(s"vwap frequency '$other' not in m|H|D")
    }
    val bucket = date_trunc(unit, tsdf.ts)
    val out = tsdf.df
      .withColumn("__bucket", bucket)
      .groupBy((tsdf.partitionCols :+ "__bucket").map(col): _*)
      .agg(
        (sum(col(priceCol) * col(volumeCol)) / sum(col(volumeCol))).alias("vwap"),
        max(col(priceCol)).alias(s"max_$priceCol"))
      .withColumnRenamed("__bucket", tsdf.tsCol)
    TSDF(out, tsdf.tsCol, tsdf.partitionCols, None)
  }

  /** Approximate exponential moving average as a truncated lag series:
    * Σ_{i=0..window-1} e·(1-e)^i · lag(col, i), nulls treated as 0
    * (tsdf.py:1044-1071). Cost is linear in `window` (one lag term each) but
    * stays inside a single window exchange + whole-stage codegen. */
  def ema(tsdf: TSDF, colToCalc: String, window: Int, expFactor: Double): TSDF = {
    val w = tsdf.baseWindow()
    // coefficients by iterated product (not pow) so e·(1-e)^i is the exact
    // left-associated double an equivalent SQL literal chain produces
    val coefs = Iterator.iterate(expFactor)(_ * (1.0 - expFactor)).take(window).toSeq
    val emaExpr = (0 until window).map { i =>
      coalesce(lag(col(colToCalc), i).over(w), lit(0.0)) * lit(coefs(i))
    }.reduce(_ + _)
    tsdf.copy(df = tsdf.df.withColumn(s"ema_$colToCalc", emaExpr))
  }

  /** Each series in (ts, tie) order: the window of every per-series pass. */
  private def seriesOrder(seriesCols: Seq[String], tsCol: String,
      tieCols: Seq[String]): WindowSpec =
    Window.partitionBy(seriesCols.map(col): _*)
      .orderBy((tsCol +: tieCols).map(col): _*)

  /** The running frame (unbounded preceding → current row) of `w`, which
    * the shared [[graft.functions.Recurrence]] batch runner uses. */
  private def running(w: WindowSpec): WindowSpec =
    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  private def runningWindow(tsdf: TSDF): WindowSpec = running(tsdf.baseWindow())

  /** Exact one-pass EMA — ema_0 = x_0, ema_t = α·x_t + (1−α)·ema_{t−1} — as
    * a running window aggregate ([[graft.functions.Recurrence.ema]], updated
    * incrementally over the growing frame: one pass per series, one double
    * of state). The exact batch twin of the streaming `ema` recursion,
    * complementing the reference-parity truncated-lag approximation [[ema]]. */
  def emaExact(tsdf: TSDF, colToCalc: String, alpha: Double): TSDF =
    tsdf.copy(df = Recurrence.ema(alpha).addColumns(tsdf.df, col(colToCalc),
      runningWindow(tsdf), Seq(s"ema_exact_$colToCalc")))

  /** Exact Holt double-exponential smoothing over each series: adds
    * `holt_level_<col>` and `holt_trend_<col>` from the one-pass
    * level/trend recursion (see [[graft.functions.Recurrence.holt]]). */
  def holtExact(tsdf: TSDF, colToCalc: String, alpha: Double,
      beta: Double): TSDF =
    tsdf.copy(df = Recurrence.holt(alpha, beta).addColumns(tsdf.df,
      col(colToCalc), runningWindow(tsdf),
      Seq(s"holt_level_$colToCalc", s"holt_trend_$colToCalc")))

  /** Additive Holt-Winters (level + trend + season of `m` observations)
    * over each series: adds `hw_level`, `hw_trend`, `hw_seasonal` from the
    * one-pass triple recursion (see [[graft.functions.Recurrence.holtWinters]]
    * for the exact warm-up/update definition; null through the first
    * season). One series exchange — the running window shares the sort. */
  def holtWinters(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], alpha: Double, beta: Double, gamma: Double,
      m: Int, tieCols: Seq[String] = Nil): DataFrame = {
    val w = running(seriesOrder(seriesCols, tsCol, tieCols))
    Recurrence.holtWinters(alpha, beta, gamma, m).addColumns(df,
      col(valueCol), w, Seq("hw_level", "hw_trend", "hw_seasonal"))
  }

  /** 1-D local-level Kalman filter over each series: adds
    * `kalman_level_<col>`, `kalman_var_<col>`, `kalman_gain_<col>` from
    * the one-pass predict/update recursion (see
    * [[graft.functions.Recurrence.kalman]]). `q` is the per-step process
    * (drift) variance, `r` the observation-noise variance, `p0` the
    * initial level uncertainty (defaults to `r`). */
  def kalmanLevel(tsdf: TSDF, colToCalc: String, q: Double, r: Double,
      p0: Option[Double] = None): TSDF =
    tsdf.copy(df = Recurrence.kalman(q, r, p0.getOrElse(r)).addColumns(
      tsdf.df, col(colToCalc), runningWindow(tsdf),
      Seq("level", "var", "gain").map(f => s"kalman_${f}_$colToCalc")))

  /** Per-series cross-correlation function between two metrics at lags
    * −maxLag..maxLag: r_l = Σ(x_t − μx)(y_{t−l} − μy) / √(Σ(x − μx)² ·
    * Σ(y − μy)²) — the standard CCF estimator (full-series means and
    * denominators, numerator over the lag-l paired rows). Positive lags
    * mean y LEADS x by l observations, negative lags mean y lags x; lag 0
    * is the plain Pearson cross-correlation.
    *
    * Both `xCol` and `yCol` must be integer-valued (pre-quantized, e.g.
    * cents; enforced per row): every aggregate is an exact BIGINT sum
    * (Σx, Σx², Σy, Σy², Σ x_t·y_{t−l}, and the per-lag marginal sums over
    * the paired rows), and each r_l is assembled from those integers in
    * one fixed operation order — engine-reproducible bit-for-bit, like
    * [[acf]] (this is acf's two-series generalization; acf(x) =
    * ccf(x, x) restricted to positive lags). Plan shape: ONE series
    * exchange — all 2·maxLag lag/lead columns ride a single window sort
    * and feed a single grouped aggregate; per-lag rows unpack from an
    * array literal. Zero-variance series emit null ccf. Output: one row
    * per (series, lag): (series..., lag, n_pairs, ccf). */
  def ccf(df: DataFrame, tsCol: String, xCol: String, yCol: String,
      seriesCols: Seq[String], maxLag: Int,
      tieCols: Seq[String] = Nil): DataFrame = {
    require(maxLag >= 0, "maxLag must be >= 0")
    val sc = seriesCols.map(col)
    val w = seriesOrder(seriesCols, tsCol, tieCols)
    val lags = (-maxLag to maxLag).toSeq
    def yl(l: Int) = col(s"__y_$l".replace("-", "m"))
    val staged = lags.foldLeft(df
      .withColumn("__x", integralOrFail(col(xCol), "ccf"))
      .withColumn("__y", integralOrFail(col(yCol), "ccf"))) { (d, l) =>
      val shifted =
        if (l == 0) col("__y")
        else if (l > 0) lag(col("__y"), l).over(w)
        else lead(col("__y"), -l).over(w)
      d.withColumn(s"__y_$l".replace("-", "m"), shifted)
    }
    val baseAggs = Seq(
      count(lit(1)).alias("__n"),
      sum(col("__x")).alias("__sx"),
      sum(col("__x") * col("__x")).alias("__sx2"),
      sum(col("__y")).alias("__sy"),
      sum(col("__y") * col("__y")).alias("__sy2"))
    val lagAggs = lags.flatMap { l =>
      val s = s"$l".replace("-", "m")
      Seq(count(yl(l)).alias(s"__nl$s"),
        sum(col("__x") * yl(l)).alias(s"__sxy$s"),
        sum(when(yl(l).isNotNull, col("__x"))).alias(s"__sxl$s"),
        sum(yl(l)).alias(s"__syl$s"))
    }
    val agg = staged.groupBy(sc: _*)
      .agg(baseAggs.head, (baseAggs.tail ++ lagAggs): _*)
    val mux = col("__sx").cast(DoubleType) / col("__n")
    val muy = col("__sy").cast(DoubleType) / col("__n")
    val denx = col("__sx2").cast(DoubleType) - lit(2.0) * mux * col("__sx") +
      col("__n") * mux * mux
    val deny = col("__sy2").cast(DoubleType) - lit(2.0) * muy * col("__sy") +
      col("__n") * muy * muy
    val perLag = array(lags.map { l =>
      val s = s"$l".replace("-", "m")
      val num = col(s"__sxy$s").cast(DoubleType) - muy * col(s"__sxl$s") -
        mux * col(s"__syl$s") + col(s"__nl$s") * mux * muy
      struct(lit(l.toLong).alias("lag"), col(s"__nl$s").alias("n_pairs"),
        when(denx > 0.0 && deny > 0.0,
          num / (sqrt(denx) * sqrt(deny))).alias("ccf"))
    }: _*)
    agg.select(sc :+ explode(perLag).alias("__e"): _*)
      .select(sc ++ Seq(col("__e.lag").alias("lag"),
        col("__e.n_pairs").alias("n_pairs"), col("__e.ccf").alias("ccf")): _*)
  }

  /** Exact per-series quantiles: for each p, the [[OrderStat]] quantile
    * of the series' values (engine-exact, unlike `approx_percentile`'s
    * sketch). One window pass + one aggregate on the same series exchange;
    * output one row per series with a `p<NN>` column per probability. */
  def quantiles(df: org.apache.spark.sql.DataFrame, valueCol: String,
      seriesCols: Seq[String], probs: Seq[Double]): org.apache.spark.sql.DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1),
      "probs must be in (0, 1]")
    val sc = seriesCols.map(col)
    val aggs = probs.map(p => OrderStat.atRank(col(valueCol), p)
      .alias("p" + math.round(p * 100).toInt))
    OrderStat.withRanks(df, sc, col(valueCol))
      .groupBy(sc: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-series winsorization: clip values to the [pLo, pHi] exact
    * quantiles of their own series — the robust tail-taming step before
    * scale-sensitive featurization (unlike dropping outliers, row count
    * and alignment are preserved). The bounds are [[OrderStat]] quantiles,
    * members of the value multiset, so the output is engine-exact
    * (clipping selects, never computes). A null stays null.
    *
    * Plan shape: ONE series exchange — the value-ordered rank window, the
    * whole-partition bound extraction, and the clip all reuse the same
    * partitioning (no join back). Output: input row + `<col>_w`. */
  def winsorize(df: DataFrame, valueCol: String, seriesCols: Seq[String],
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo > 0 && pHi <= 1 && pLo < pHi, "need 0 < pLo < pHi <= 1")
    val sc = seriesCols.map(col)
    val x = col(valueCol)
    def bound(p: Double) = OrderStat.atRank(x, p).over(Window.partitionBy(sc: _*))
    OrderStat.withRanks(df, sc, x)
      .withColumn(s"${valueCol}_w",
        when(x.isNotNull, least(greatest(x, bound(pLo)), bound(pHi))))
      .drop("__rn", "__n")
  }

  /** Robust per-series anomaly summary via median / MAD (median absolute
    * deviation): a point is anomalous when |x − median| > k·MAD — the
    * outlier-resistant cousin of the z-score (a few extreme points cannot
    * drag the threshold the way they drag mean/stddev). Both medians are
    * [[OrderStat]] medians, so the result is an exact function of the
    * value multiset, engine-reproducible with no sketch; `n` counts the
    * values.
    *
    * Plan shape: ONE exchange on the series key — the value-ordered and
    * deviation-ordered windows and the final groupBy all reuse the same
    * hash partitioning (two in-partition sorts, zero joins). Output one
    * row per series: (series, n, med, mad, n_anomalies). */
  def robustAnomalies(df: DataFrame, valueCol: String,
      seriesCols: Seq[String], k: Double = 3.0): DataFrame = {
    val sc = seriesCols.map(col)
    val wAll = Window.partitionBy(sc: _*)
    val withMed = OrderStat.withRanks(df, sc, col(valueCol))
      .withColumn("__med", OrderStat.atRank(col(valueCol), 0.5).over(wAll))
      .withColumn("__dev", abs(col(valueCol) - col("__med")))
    val withMad = OrderStat.withRanks(withMed, sc, col("__dev"), "__rn2", "__n2")
      .withColumn("__mad",
        OrderStat.atRank(col("__dev"), 0.5, "__rn2", "__n2").over(wAll))
    withMad.groupBy(sc: _*).agg(
      count(col(valueCol)).alias("n"),
      max(col("__med")).alias("med"),
      max(col("__mad")).alias("mad"),
      sum(when(col("__dev") > lit(k) * col("__mad"), 1L).otherwise(0L))
        .alias("n_anomalies"))
  }

  /** 2-D lookback feature tensor: collect_list(array(cols)) over the previous
    * `lookbackWindowSize` rows (tsdf.py:1073-1110). */
  def withLookbackFeatures(tsdf: TSDF, featureCols: Seq[String],
      lookbackWindowSize: Int, exactSize: Boolean, featureColName: String): TSDF = {
    val w = tsdf.baseWindow().rowsBetween(-lookbackWindowSize, -1)
    val tensor = collect_list(array(featureCols.map(c => col(c).cast(DoubleType)): _*)).over(w)
    val out0 = tsdf.df.withColumn(featureColName, tensor)
    val out = if (exactSize) out0.filter(size(col(featureColName)) === lookbackWindowSize)
    else out0
    tsdf.copy(df = out)
  }

  /** Sessionization / gaps-and-islands: contiguous runs where all `metricCols`
    * satisfy `stateDefinition` vs their previous row collapse to one interval
    * [start_ts, end_ts] (tsdf.py:1497-1616).
    *
    * `stateDefinition`: Left(op) with op ∈ {=, !=, <, <=, <=>, >, >=} compares
    * each metric to its lag; Right(fn) is a custom (curr, prev) => Boolean
    * Column. A state *change* starts a new interval; interval ids are a
    * running sum of change flags — one window exchange + one aggregation.
    */
  def extractStateIntervals(tsdf: TSDF, metricCols: Seq[String],
      stateDefinition: Either[String, (Column, Column) => Column]): DataFrame = {
    val w = tsdf.baseWindow()
    val compare: (Column, Column) => Column = stateDefinition match {
      case Left("=") | Left("==")  => (a, b) => a === b
      case Left("!=") | Left("<>") => (a, b) => a =!= b
      case Left("<")   => (a, b) => a < b
      case Left("<=")  => (a, b) => a <= b
      case Left("<=>") => (a, b) => a <=> b
      case Left(">")   => (a, b) => a > b
      case Left(">=")  => (a, b) => a >= b
      case Left(other) => throw new IllegalArgumentException(s"bad state operator '$other'")
      case Right(fn)   => fn
    }
    // mirror the reference exactly (tsdf.py:1570-1616): drop each series'
    // first row, keep only rows whose state HELD vs the previous row
    // (state_change false; nulls from null-vs-null compares drop too), then
    // collapse each run to [min(previous_ts), max(ts)]
    val compares = metricCols.zipWithIndex.map { case (c, i) =>
      compare(col(c), lag(col(c), 1).over(w)).alias(s"__cmp_$i")
    }
    val withCmp = tsdf.df
      .withColumn("__previous_ts", lag(tsdf.ts, 1).over(w))
      .select(col("*") +: compares: _*)
      .filter(col("__previous_ts").isNotNull)
      .withColumn("__state_change",
        array_contains(array(metricCols.indices.map(i => col(s"__cmp_$i")): _*),
          lit(false)))
    withCmp
      .withColumn("__state_incrementer",
        sum(col("__state_change").cast("int")).over(w))
      .filter(!col("__state_change"))
      .groupBy((tsdf.partitionCols :+ "__state_incrementer").map(col): _*)
      .agg(min(col("__previous_ts")).alias("start_ts"), max(tsdf.ts).alias("end_ts"))
      .drop("__state_incrementer")
      .select((tsdf.partitionCols.map(col) :+ col("start_ts")) :+ col("end_ts"): _*)
  }

  /** OHLC bars per series × bucket (tsdf.py:1351-1384).
    *
    * The reference runs four resamples (floor/min/max/ceil) and equi-joins
    * them back together; here a single grouped aggregation computes
    * open (argmin-by-ts via min(struct)), high, low and close (argmax) in one
    * shuffle — same result, 1 aggregate instead of 4 aggregates + 3 joins.
    */
  def calcBars(tsdf: TSDF, freq: String, metricCols: Seq[String]): TSDF = {
    val spec = Resample.parseFreq(freq)
    val metrics = if (metricCols.nonEmpty) metricCols else tsdf.metricCols
    val bucket = window(tsdf.ts, spec.sparkInterval).getField("start")
    val aggs = Seq(
      min(struct((tsdf.tsCol +: metrics).map(col): _*)).alias("__open"),
      max(struct((tsdf.tsCol +: metrics).map(col): _*)).alias("__close")) ++
      metrics.flatMap(m => Seq(max(col(m)).alias(s"high_$m"), min(col(m)).alias(s"low_$m")))
    val out = tsdf.df
      .withColumn("__bucket", bucket)
      .groupBy((tsdf.partitionCols :+ "__bucket").map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((tsdf.partitionCols.map(col) :+ col("__bucket").alias(tsdf.tsCol)) ++
        metrics.flatMap(m => Seq(
          col("__open").getField(m).alias(s"open_$m"),
          col(s"high_$m"), col(s"low_$m"),
          col("__close").getField(m).alias(s"close_$m"))): _*)
    TSDF(out, tsdf.tsCol, tsdf.partitionCols, None)
  }

  /** Cast to BIGINT, failing loudly on non-integer input: a silent
    * `cast(LongType)` would truncate toward zero and yield
    * plausible-but-wrong statistics. Nulls pass through (the aggregates
    * already skip them); the check is one codegen'd comparison per row and
    * the error branch only evaluates on offending rows. */
  private[graft] def integralOrFail(c: Column, op: String): Column =
    when(c.isNull || c === floor(c), c.cast(LongType))
      .otherwise(raise_error(concat(lit(
        s"$op requires an integer-valued value column (pre-quantize, e.g. " +
          "to cents, or pass a quantized expression): found non-integer "),
        c.cast(StringType))).cast(LongType))

  /** Per-series autocorrelation function at lags 1..maxLag:
    * r_l = Σ_{t>l}(x_t − μ)(x_{t−l} − μ) / Σ_t(x_t − μ)², with μ the series
    * mean — the standard ACF estimator (shared global mean and full-series
    * denominator).
    *
    * `valueCol` must be integer-valued (pre-quantized, e.g. cents;
    * enforced per row — non-integer input raises): every
    * aggregate is then an exact BIGINT sum (Σx, Σx², Σx_t·x_{t−l}, and the
    * per-lag marginal sums over the paired rows), and the ratio is assembled
    * from those integers with one fixed operation order — so the output
    * doubles are engine-reproducible bit-for-bit, with no order-dependent
    * double accumulation anywhere. Plan shape: ONE series exchange — the
    * maxLag lag columns ride a single window sort and feed a single grouped
    * aggregate; the per-lag rows unpack from an array literal (no join, no
    * second shuffle). Constant series (zero variance) emit null acf.
    *
    * `tieCols` break ordering ties among equal timestamps so the lag
    * pairing is deterministic. Output: one row per (series, lag):
    * (series..., lag, n_pairs, acf). */
  def acf(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], maxLag: Int, tieCols: Seq[String] = Nil): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val sc = seriesCols.map(col)
    val w = seriesOrder(seriesCols, tsCol, tieCols)
    val lagged = (1 to maxLag).foldLeft(
      df.withColumn("__c", integralOrFail(col(valueCol), "acf"))) { (d, l) =>
      d.withColumn(s"__lag$l", lag(col("__c"), l).over(w))
    }
    val baseAggs = Seq(
      count(lit(1)).alias("__n"),
      sum(col("__c")).alias("__s"),
      sum(col("__c") * col("__c")).alias("__s2"))
    val lagAggs = (1 to maxLag).flatMap { l =>
      val lc = col(s"__lag$l")
      Seq(count(lc).alias(s"__nl$l"),
        sum(col("__c") * lc).alias(s"__sxy$l"),
        sum(when(lc.isNotNull, col("__c"))).alias(s"__sx$l"),
        sum(lc).alias(s"__sy$l"))
    }
    val agg = lagged.groupBy(sc: _*)
      .agg(baseAggs.head, (baseAggs.tail ++ lagAggs): _*)
    val mu = col("__s").cast(DoubleType) / col("__n")
    val den = col("__s2").cast(DoubleType) - lit(2.0) * mu * col("__s") +
      col("__n") * mu * mu
    val perLag = array((1 to maxLag).map { l =>
      val num = col(s"__sxy$l").cast(DoubleType) -
        mu * (col(s"__sx$l") + col(s"__sy$l")) + col(s"__nl$l") * mu * mu
      struct(lit(l.toLong).alias("lag"), col(s"__nl$l").alias("n_pairs"),
        when(den =!= 0.0, num / den).alias("acf"))
    }: _*)
    agg.select(sc :+ explode(perLag).alias("__e"): _*)
      .select(sc ++ Seq(col("__e.lag").alias("lag"),
        col("__e.n_pairs").alias("n_pairs"), col("__e.acf").alias("acf")): _*)
  }

  /** Durbin–Levinson partial-autocorrelation expressions, UNROLLED at
    * plan-build time into plain parenthesized scalar arithmetic over the
    * lag-1..maxLag autocorrelations (referenced through `ref`). The
    * recursion — φ₁₁ = ρ₁; φₖₖ = (ρₖ − Σⱼφₖ₋₁,ⱼ·ρₖ₋ⱼ) / (1 − Σⱼφₖ₋₁,ⱼ·ρⱼ);
    * φₖⱼ = φₖ₋₁,ⱼ − φₖₖ·φₖ₋₁,ₖ₋ⱼ — has no data-dependent loop, so for a
    * fixed maxLag it flattens to ONE scalar expression per lag, with
    * every sum left-folded and every subterm parenthesized. The SAME
    * string is handed to Spark's `expr` and to the DuckDB oracle, so
    * both engines parse the IDENTICAL operation tree and the resulting
    * doubles agree bit-for-bit (each op correctly rounded, same order).
    * The textual unroll grows ~4× per lag — `maxLag <= 6` keeps it in
    * the tens of KB; higher orders want a fold-based kernel instead. */
  def pacfExprStrings(maxLag: Int, ref: Int => String): Seq[String] = {
    require(maxLag >= 1 && maxLag <= 6,
      s"pacf unroll supports maxLag 1..6, got $maxLag")
    def sumStr(ts: Seq[String]) = ts.reduceLeft((a, b) => s"($a + $b)")
    val phi = Array.ofDim[String](maxLag + 1, maxLag + 1)
    phi(1)(1) = s"(${ref(1)})"
    for (k <- 2 to maxLag) {
      val num = s"((${ref(k)}) - ${sumStr(
        (1 until k).map(j => s"(${phi(k - 1)(j)} * (${ref(k - j)}))"))})"
      val den = s"(1.0 - ${sumStr(
        (1 until k).map(j => s"(${phi(k - 1)(j)} * (${ref(j)}))"))})"
      // Guard the quotient inside the SHARED string: on an exactly-zero
      // denominator Spark's Divide yields NULL while DuckDB's default
      // ieee_floating_point_ops yields ±Infinity — the CASE keeps both
      // engines on the identical NULL, which then propagates through
      // every later phi(k)(j) the same way in both.
      phi(k)(k) = s"(CASE WHEN $den <> 0.0 THEN ($num / $den) END)"
      for (j <- 1 until k)
        phi(k)(j) = s"(${phi(k - 1)(j)} - (${phi(k)(k)} * ${phi(k - 1)(k - j)}))"
    }
    (1 to maxLag).map(k => phi(k)(k))
  }

  /** Partial autocorrelation function per series via Durbin–Levinson
    * over the [[acf]] estimates — the AR-order diagnostic next to the
    * ACF (an AR(p) series shows pacf ≈ 0 beyond lag p, while its acf
    * tails off). One extra tiny aggregate over the acf rows (pivot to
    * one row per series) and a pure scalar projection per lag
    * ([[pacfExprStrings]]); constant series carry null acf and the
    * nulls propagate to every pacf lag in both engines. */
  def pacf(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], maxLag: Int,
      tieCols: Seq[String] = Nil): DataFrame = {
    val sc = seriesCols.map(col)
    val a = acf(df, tsCol, valueCol, seriesCols, maxLag, tieCols)
    val pivots = (1 to maxLag).map(l =>
      max(when(col("lag") === l, col("acf"))).alias(s"__r$l"))
    val piv = a.groupBy(sc: _*).agg(pivots.head, pivots.tail: _*)
    val exprs = pacfExprStrings(maxLag, l => s"__r$l")
    val perLag = array((1 to maxLag).map(k =>
      struct(lit(k.toLong).alias("lag"),
        expr(exprs(k - 1)).alias("pacf"))): _*)
    piv.select(sc :+ explode(perLag).alias("__e"): _*)
      .select(sc ++ Seq(col("__e.lag").alias("lag"),
        col("__e.pacf").alias("pacf")): _*)
  }

  /** Window-skew escape for bounded rows-frame computations: run `body`
    * (which adds columns from a `[lo, hi]` rows-frame window) over
    * (series, chunk) sub-partitions instead of whole series, with the
    * `max(−lo, hi)` boundary rows of each neighboring chunk replicated as
    * context so every frame still sees its full multiset — results are
    * EXACT, bit-identical to the single-partition plan, but a hot series
    * of N rows now runs as ⌈N/chunkRows⌉ parallel tasks instead of one.
    * (A whole-series rows window puts the entire series in one task — the
    * skew trap this routes around at 100 TB.) Cost: one extra row_number
    * pass + ≤(|lo|+hi)/chunkRows fractional row duplication. The
    * row_number pass still sorts each series in one task, but does O(1)
    * work per row — it's the O(frame·log frame)-per-row body that moves to
    * ⌈N/chunkRows⌉ parallel tasks, which is where the wall-clock lives.
    * `chunkRows <= 0` keeps the classic one-exchange whole-series plan. */
  private def withChunkedFrame(df: DataFrame, tsCol: String,
      seriesCols: Seq[String], tieCols: Seq[String], lo: Int, hi: Int,
      chunkRows: Int)(body: (DataFrame, WindowSpec) => DataFrame): DataFrame = {
    require(lo <= 0 && hi >= 0, "frame must contain the current row")
    if (chunkRows <= 0) {
      val w = seriesOrder(seriesCols, tsCol, tieCols)
        .rowsBetween(lo, hi)
      body(df, w)
    } else {
      require(chunkRows >= math.max(-lo, hi) + 1,
        s"chunkRows must cover the frame width (${math.max(-lo, hi) + 1})")
      val c = chunkRows.toLong
      val ord = seriesOrder(seriesCols, tsCol, tieCols)
      val staged = df
        .withColumn("__rn", row_number().over(ord).cast(LongType))
        .withColumn("__home", expr(s"(__rn - 1) div $c"))
      // a row is context for the NEXT chunk when within |lo| rows of its
      // chunk's end, for the PREVIOUS when within hi rows of its start
      val targets = array(
        col("__home"),
        when(col("__rn") > (col("__home") + 1) * c + lo, col("__home") + 1),
        when(col("__home") > 0 && col("__rn") <= col("__home") * c + hi,
          col("__home") - 1))
      // the explicit (series, chunk) shuffle is what spreads the chunks:
      // the row_number pass leaves the rows hash-partitioned by series (or
      // in a single partition when the series key is a literal), and either
      // already satisfies the chunk window's clustering, so without it the
      // planner adds no exchange and the whole series stays in one task
      val exploded = staged.withColumn("__chunk",
        explode(filter(targets, t => t.isNotNull)))
        .repartition(seriesCols.map(col) :+ col("__chunk"): _*)
      val w = Window
        .partitionBy(seriesCols.map(col) :+ col("__chunk"): _*)
        .orderBy(col("__rn")).rowsBetween(lo, hi)
      body(exploded, w)
        .filter(col("__chunk") === col("__home"))
        .drop("__rn", "__home", "__chunk")
    }
  }

  /** Exact rolling median over the previous `window` rows of each series
    * (frame = window−1 preceding .. current): [[rollingQuantile]] at
    * p = 0.5, on the uncast values. O(w log w) per row: meant for
    * the usual smoothing widths (tens..hundreds); for w in the millions
    * use [[robustAnomalies]]' whole-series median instead. One series
    * exchange; `tieCols` pin frame membership under timestamp ties.
    * `chunkRows > 0` routes through [[withChunkedFrame]] — same exact
    * result, but a single hot series parallelizes across
    * ⌈rows/chunkRows⌉ tasks (the 100 TB skew defense).
    * Output: input row + `rolling_median_<col>`. */
  def rollingMedian(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], window: Int,
      tieCols: Seq[String] = Nil, chunkRows: Int = 0): DataFrame = {
    require(window >= 1, "window must be >= 1")
    trailingQuantile(df, tsCol, col(valueCol), seriesCols, window, 0.5,
      tieCols, chunkRows, s"rolling_median_$valueCol")
  }

  /** `outCol` = the [[OrderStat]] quantile p of `x` over the trailing
    * `window` rows (a frame with no value gives null). */
  private def trailingQuantile(df: DataFrame, tsCol: String, x: Column,
      seriesCols: Seq[String], window: Int, p: Double, tieCols: Seq[String],
      chunkRows: Int, outCol: String): DataFrame =
    withChunkedFrame(df, tsCol, seriesCols, tieCols,
      -(window - 1), 0, chunkRows) { (d, w) =>
      d.withColumn(outCol, OrderStat.ofFrame(collect_list(x).over(w), p))
    }

  /** Rolling trend correlation: Pearson r between the value and its
    * observation index over the trailing `window` rows of each series — a
    * bounded [−1, 1] local-trend indicator (≈ +1 sustained rise, ≈ −1
    * sustained fall, ≈ 0 flat/noise), the windowed twin of a slope test.
    *
    * `valueCol` must be integer-valued (e.g. cents; enforced per row):
    * with x integer and y = row index, every frame sum (n, Σx, Σx², Σy,
    * Σy², Σxy) is an exact BIGINT window aggregate, and
    * r = (n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²)) is
    * assembled from those integers in one fixed operation order using only
    * exactly-rounded IEEE ops (cast, ×, √, ÷) — engine-reproducible
    * bit-for-bit. Exactness bound: n·Σx² must stay below 2⁵³
    * (window · max|x|² · window < 9·10¹⁵ — holds for cent-scale values and
    * smoothing-scale windows). Frames shorter than 2 rows or with zero
    * variance emit null. ONE series exchange — the index and every frame
    * sum ride the same window sort. Output: input row +
    * `trend_corr_<col>`. */
  def rollingTrendCorr(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], window: Int,
      tieCols: Seq[String] = Nil): DataFrame = {
    require(window >= 2, "window must be >= 2")
    val ord = seriesOrder(seriesCols, tsCol, tieCols)
    val w = ord.rowsBetween(-(window - 1), Window.currentRow)
    val x = col("__x")
    val y = col("__y")
    val staged = df
      .withColumn("__x", integralOrFail(col(valueCol), "rollingTrendCorr"))
      .withColumn("__y", row_number().over(ord).cast(LongType))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__sx", sum(x).over(w))
      .withColumn("__sx2", sum(x * x).over(w))
      .withColumn("__sy", sum(y).over(w))
      .withColumn("__sy2", sum(y * y).over(w))
      .withColumn("__sxy", sum(x * y).over(w))
    val num = (col("__n") * col("__sxy") - col("__sx") * col("__sy"))
      .cast(DoubleType)
    val dx = col("__n") * col("__sx2") - col("__sx") * col("__sx")
    val dy = col("__n") * col("__sy2") - col("__sy") * col("__sy")
    val r = when(col("__n") >= 2 && dx > 0 && dy > 0,
      num / (sqrt(dx.cast(DoubleType)) * sqrt(dy.cast(DoubleType))))
    staged.withColumn(s"trend_corr_$valueCol", r)
      .drop("__x", "__y", "__n", "__sx", "__sx2", "__sy", "__sy2", "__sxy")
  }

  /** Per-series gap report: intervals between consecutive observations
    * longer than `minGapSeconds` — the data-quality scan that tells you
    * where a sensor went dark (the complement of [[Sessionize]]: sessions
    * keep the dense runs, this reports the holes). One window pass on one
    * series exchange. Output: (series..., gap_start, gap_end,
    * gap_seconds); the filter compares exact integer µs, the reported
    * seconds are one double division (identical in any IEEE engine). */
  def gaps(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      minGapSeconds: Long, tieCols: Seq[String] = Nil): DataFrame = {
    require(minGapSeconds >= 0, "minGapSeconds must be >= 0")
    val w = seriesOrder(seriesCols, tsCol, tieCols)
    df.withColumn("__prev", lag(col(tsCol), 1).over(w))
      .filter(col("__prev").isNotNull &&
        unix_micros(col(tsCol)) - unix_micros(col("__prev")) >
          minGapSeconds * 1000000L)
      .select(seriesCols.map(col) ++ Seq(
        col("__prev").alias("gap_start"),
        col(tsCol).alias("gap_end"),
        ((unix_micros(col(tsCol)) - unix_micros(col("__prev"))) / 1000000L)
          .alias("gap_seconds")): _*)
  }

  /** CUSUM change-point summary per series: S_t = Σ_{i≤t} x_i − t·μ (the
    * cumulative deviation from the series mean); the location maximizing
    * |S_t| is the classic CUSUM single change-point estimate, and
    * max|S_t| its strength (compare against a threshold — e.g. a multiple
    * of the series stddev·√n — to decide whether a shift exists at all).
    *
    * `valueCol` must be integer-valued (e.g. cents; enforced per row —
    * non-integer input raises): the running prefix sum
    * is then an exact BIGINT, so S_t = cum − t·μ is a single
    * deterministically-ordered double expression — engine-exact, no
    * order-dependent accumulation. Plan shape: ONE series exchange (running
    * sum, series totals, and the argmax ranking all reuse the same
    * partitioning). Ties on |S_t| break to the earliest (ts, tieCols) row.
    * Output one row per series: (series..., n, cusum_max_abs,
    * changepoint_ts = ts of the argmax row). */
  def cusum(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], tieCols: Seq[String] = Nil): DataFrame = {
    val sc = seriesCols.map(col)
    val ord = (tsCol +: tieCols).map(col)
    val wAll = Window.partitionBy(sc: _*)
    val wOrd = seriesOrder(seriesCols, tsCol, tieCols)
    val staged = df
      .withColumn("__c", integralOrFail(col(valueCol), "cusum"))
      .withColumn("__cum", sum(col("__c")).over(running(wOrd)))
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__s", sum(col("__c")).over(wAll))
    val mu = col("__s").cast(DoubleType) / col("__n")
    val absS = abs(col("__cum").cast(DoubleType) - col("__rn") * mu)
    val ranked = staged
      .withColumn("__abs_s", absS)
      .withColumn("__pick", row_number().over(
        wAll.orderBy(col("__abs_s").desc +: ord.map(_.asc): _*)))
    ranked.filter(col("__pick") === 1)
      .select(sc ++ Seq(col("__n").alias("n"),
        col("__abs_s").alias("cusum_max_abs"),
        col(tsCol).alias("changepoint_ts")): _*)
  }

  /** Page's two-sided CUSUM control chart per series: the sequential
    * drift detector run against a KNOWN target level (where [[cusum]] is
    * the retrospective single change-point estimate against the series'
    * own mean). Per row,
    * S⁺_t = max(0, S⁺_{t−1} + (x_t − target − slack)) and
    * S⁻_t = max(0, S⁻_{t−1} + (target − slack − x_t)); an alert fires
    * when either side exceeds `threshold`.
    *
    * The clamped recursion is NOT computed recursively: by the reflection
    * identity max-plus recursions unroll to
    * S_t = P_t − min(0, min_{j≤t} P_j) with P the plain prefix sum of the
    * drifts — so both sides are two running BIGINT window aggregates
    * (sum + min) over ONE series exchange, exact integer arithmetic end
    * to end (`valueCol`, `target`, `slack`, `threshold` all in the same
    * quantized units, e.g. cents; integrality enforced per row). No
    * recursive CTE, no state loop — and the identical identity gives the
    * streaming twin its O(1) per-key state.
    *
    * Output: input row + (cusum_hi, cusum_lo, alert) — all exact BIGINTs
    * plus a boolean, engine-replayable bit-for-bit. */
  def cusumControl(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], target: Long, slack: Long, threshold: Long,
      tieCols: Seq[String] = Nil): DataFrame = {
    require(slack >= 0, "slack must be >= 0")
    require(threshold > 0, "threshold must be > 0")
    val w = running(seriesOrder(seriesCols, tsCol, tieCols))
    val x = integralOrFail(col(valueCol), "cusumControl")
    val staged = df
      .withColumn("__dhi", x - lit(target) - lit(slack))
      .withColumn("__dlo", lit(target) - lit(slack) - x)
    val prefixed = staged
      .withColumn("__phi", sum(col("__dhi")).over(w))
      .withColumn("__plo", sum(col("__dlo")).over(w))
      .withColumn("__mhi", min(col("__phi")).over(w))
      .withColumn("__mlo", min(col("__plo")).over(w))
    val sHi = col("__phi") - least(lit(0L), col("__mhi"))
    val sLo = col("__plo") - least(lit(0L), col("__mlo"))
    prefixed
      .withColumn("cusum_hi", sHi)
      .withColumn("cusum_lo", sLo)
      .withColumn("alert", sHi > threshold || sLo > threshold)
      .drop("__dhi", "__dlo", "__phi", "__plo", "__mhi", "__mlo")
  }

  /** Time-weighted average per (series, `freq` bucket) under the standard
    * step-function (last-observation-carried-forward) reading: each
    * observation's value holds from its timestamp until the NEXT
    * observation in the same bucket, the bucket's last observation until
    * the bucket end. The TWAP twin of [[vwap]] — sparse, irregularly
    * spaced observations no longer let a burst of ticks dominate the
    * bucket mean. Carry-in across bucket boundaries is deliberately
    * excluded (a bucket with no observations emits nothing; the first
    * observation of a bucket starts the clock), so every bucket is a pure
    * function of its own rows.
    *
    * `valueCol` must be integer-valued (e.g. cents; enforced per row):
    * weights are exact integer µs, the weighted sum accumulates as
    * DECIMAL(38,0) (a 1 h bucket of cent-scale values alone approaches
    * 2⁶³ in BIGINT), and the final twap is one double division —
    * engine-reproducible bit-for-bit. Plan shape: the lead() window and
    * the bucket aggregate share ONE (series, bucket) exchange. `tieCols`
    * pin the ordering among equal timestamps. Output: (series...,
    * bucket_ts, n_obs, span_us, twap). */
  def twap(tsdf: TSDF, freq: String, valueCol: String,
      tieCols: Seq[String] = Nil): DataFrame = {
    val spec = Resample.parseFreq(freq)
    val series = tsdf.partitionCols
    val bucket = window(tsdf.ts, spec.sparkInterval).getField("start")
    val keyCols = (series :+ "__bucket").map(col)
    val w = Window.partitionBy(keyCols: _*)
      .orderBy((tsdf.tsCol +: tieCols).map(col): _*)
    val tsUs = unix_micros(tsdf.ts)
    val bucketEndUs = unix_micros(col("__bucket")) + lit(spec.micros)
    val staged = tsdf.df
      .withColumn("__c", integralOrFail(col(valueCol), "twap"))
      .withColumn("__bucket", bucket)
      .withColumn("__w",
        coalesce(lead(tsUs, 1).over(w), bucketEndUs) - tsUs)
    staged.groupBy(keyCols: _*)
      .agg(count(lit(1)).alias("n_obs"),
        sum(col("__w")).alias("span_us"),
        sum(col("__c").cast(DecimalType(38, 0)) * col("__w")).alias("__num"))
      .select(series.map(col) ++ Seq(
        col("__bucket").alias("bucket_ts"), col("n_obs"), col("span_us"),
        when(col("span_us") > 0,
          col("__num").cast(DoubleType) / col("span_us").cast(DoubleType))
          .alias("twap")): _*)
  }

  /** Threshold-crossing detector per series: emits one row per UP
    * crossing (previous value < `threshold` ≤ value) and DOWN crossing
    * (previous value ≥ `threshold` > value) — the alerting primitive
    * behind level breaches, capacity limits, and hysteresis-free state
    * flips ([[extractStateIntervals]] tracks arbitrary state runs; this
    * reports the instants a numeric level is pierced). Pure comparisons
    * on the raw values — no arithmetic, so ANY numeric type is
    * engine-exact as-is (no quantization precondition). A series' first
    * observation has no previous row and cannot cross. One window pass on
    * one series exchange. Output: (series..., ts (crossing row), prev_ts,
    * prev_value, value, direction 'up'|'down'). */
  def thresholdCrossings(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], threshold: Double,
      tieCols: Seq[String] = Nil): DataFrame = {
    val w = seriesOrder(seriesCols, tsCol, tieCols)
    val v = col(valueCol)
    val pv = col("__prev_v")
    val staged = df
      .withColumn("__prev_v", lag(v, 1).over(w))
      .withColumn("__prev_ts", lag(col(tsCol), 1).over(w))
    val up = pv < threshold && v >= threshold
    val down = pv >= threshold && v < threshold
    staged.filter(pv.isNotNull && (up || down))
      .select(seriesCols.map(col) ++ Seq(
        col(tsCol), col("__prev_ts").alias("prev_ts"),
        pv.alias("prev_value"), v.alias("value"),
        when(up, lit("up")).otherwise(lit("down")).alias("direction")): _*)
  }

  /** Bollinger bands over the trailing `window` rows of each series:
    * mid = frame mean, band half-width = `k` · population stddev of the
    * frame (the classic chart uses k = 2). `valueCol` must be
    * integer-valued (e.g. cents; enforced per row): the frame sums
    * (n, Σx, Σx²) are exact BIGINT window aggregates on ONE series
    * exchange, and mid = Σx/n, dev = √(n·Σx² − (Σx)²)/n,
    * upper/lower = mid ± k·dev are fixed-order expressions of those
    * integers using only exactly-rounded IEEE ops — engine-reproducible
    * bit-for-bit when `k` is exactly representable (2.0, 1.5, ...).
    * Same 2⁵³ headroom bound as [[rollingTrendCorr]]
    * (window · max|x|² < 9·10¹⁵). Single-row frames emit a zero-width
    * band; output: input row + (bb_mid, bb_upper, bb_lower). */
  def rollingBands(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], window: Int, k: Double = 2.0,
      tieCols: Seq[String] = Nil): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(k >= 0, "k must be >= 0")
    val w = seriesOrder(seriesCols, tsCol, tieCols)
      .rowsBetween(-(window - 1), Window.currentRow)
    val x = col("__x")
    val staged = df
      .withColumn("__x", integralOrFail(col(valueCol), "rollingBands"))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__sx", sum(x).over(w))
      .withColumn("__sx2", sum(x * x).over(w))
    val mid = col("__sx").cast(DoubleType) / col("__n")
    val dev = sqrt((col("__n") * col("__sx2") - col("__sx") * col("__sx"))
      .cast(DoubleType)) / col("__n")
    staged
      .withColumn("bb_mid", mid)
      .withColumn("bb_upper", mid + lit(k) * dev)
      .withColumn("bb_lower", mid - lit(k) * dev)
      .drop("__x", "__n", "__sx", "__sx2")
  }

  /** Rolling OLS slope of the value against its observation index over
    * the trailing `window` rows of each series — the magnitude companion
    * to [[rollingTrendCorr]]'s direction (units: value per observation
    * step). slope = (n·Σiy − Σi·Σy) / (n·Σi² − (Σi)²) with i the global
    * row index and y the (integer-enforced) value: every frame sum is an
    * exact BIGINT window aggregate riding the SAME single series
    * exchange, and the slope is one fixed-order double expression —
    * engine-reproducible bit-for-bit (same 2⁵³ headroom bound as
    * rollingTrendCorr; the global index cancels out of the frame-local
    * differences). Frames shorter than 2 rows emit null. Output: input
    * row + `slope_<col>`. */
  def rollingSlope(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], window: Int,
      tieCols: Seq[String] = Nil): DataFrame = {
    require(window >= 2, "window must be >= 2")
    val ord = seriesOrder(seriesCols, tsCol, tieCols)
    val w = ord.rowsBetween(-(window - 1), Window.currentRow)
    val i = col("__i")
    val y = col("__v")
    val staged = df
      .withColumn("__v", integralOrFail(col(valueCol), "rollingSlope"))
      .withColumn("__i", row_number().over(ord).cast(LongType))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__si", sum(i).over(w))
      .withColumn("__si2", sum(i * i).over(w))
      .withColumn("__sy", sum(y).over(w))
      .withColumn("__siy", sum(i * y).over(w))
    val num = (col("__n") * col("__siy") - col("__si") * col("__sy"))
      .cast(DoubleType)
    val den = col("__n") * col("__si2") - col("__si") * col("__si")
    val slope = when(col("__n") >= 2 && den > 0, num / den.cast(DoubleType))
    staged.withColumn(s"slope_$valueCol", slope)
      .drop("__v", "__i", "__n", "__si", "__si2", "__sy", "__siy")
  }

  /** Running peak and drawdown per series: `peak_<col>` is the running
    * maximum of the value seen so far (max is order-independent, so raw
    * doubles are engine-exact here — no integer quantization needed) and
    * `drawdown_<col>` = peak − value, the depth below the high-water mark
    * ([[graft.functions.Recurrence.drawdown]], shared with the streaming
    * twin). ONE series exchange, one running window frame. Max drawdown per
    * series is then a plain `max(drawdown_<col>)` aggregate on top. */
  def drawdown(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], tieCols: Seq[String] = Nil): DataFrame =
    Recurrence.drawdown.addColumns(df, col(valueCol),
      running(seriesOrder(seriesCols, tsCol, tieCols)),
      Seq(s"peak_$valueCol", s"drawdown_$valueCol"))

  /** Relative Strength Index, [[graft.functions.Recurrence.rsi]] (the
    * EMA-seeded Wilder variant and its null rule) on each series' running
    * frame: one window aggregate on one series exchange, shared step for
    * step with the streaming twin; a recursive-CTE oracle replays every
    * IEEE step bit-for-bit (same scheme as EMA/Holt/Kalman). Output: input
    * row + `rsi_<col>`. */
  def rsi(tsdf: TSDF, colToCalc: String, n: Int): TSDF =
    tsdf.copy(df = Recurrence.rsi(n).addColumns(tsdf.df, col(colToCalc),
      runningWindow(tsdf), Seq(s"rsi_$colToCalc")))

  /** MACD (12/26/9 by default), [[graft.functions.Recurrence.macd]]: the
    * fast and slow exact-EMA lines, `macd_<col>` = fast − slow, its signal
    * EMA `macd_signal_<col>` and `macd_hist_<col>` = macd − signal, all
    * three recursions in one window aggregate on the running frame (one
    * series exchange, one pass). Recursive-CTE oracle carries all three
    * recursions in one step. */
  def macd(tsdf: TSDF, colToCalc: String, fast: Int = 12, slow: Int = 26,
      signal: Int = 9): TSDF =
    tsdf.copy(df = Recurrence.macd(fast, slow, signal).addColumns(tsdf.df,
      col(colToCalc), runningWindow(tsdf),
      Seq("macd", "macd_signal", "macd_hist").map(f => s"${f}_$colToCalc")))

  /** Strict local maxima: a row is a peak iff its value is strictly
    * greater than every value within `w` rows on BOTH sides (missing
    * neighbors at series edges don't block — an endpoint can be a peak;
    * plateaus never qualify, so the rule is deterministic without a
    * tie-break). `excess` = value − max(either side), null for a
    * single-row series (no sides at all). Two bounded frames on one
    * series exchange; max is order-independent so raw doubles replay
    * engine-exact. Output: peak rows only, input row + `excess`. */
  def peaks(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], w: Int, tieCols: Seq[String] = Nil): DataFrame = {
    require(w >= 1, "w must be >= 1")
    val ord = seriesOrder(seriesCols, tsCol, tieCols)
    val x = col(valueCol).cast(DoubleType)
    val negInf = lit(Double.NegativeInfinity)
    val staged = df
      .withColumn("__ml", max(x).over(ord.rowsBetween(-w, -1)))
      .withColumn("__mr", max(x).over(ord.rowsBetween(1, w)))
    val ml = col("__ml"); val mr = col("__mr")
    staged
      .where(x > coalesce(ml, negInf) && x > coalesce(mr, negInf))
      .withColumn("excess",
        when(ml.isNotNull || mr.isNotNull,
          x - greatest(coalesce(ml, negInf), coalesce(mr, negInf))))
      .drop("__ml", "__mr")
  }

  /** Seasonal-phase decomposition: resample each series to `freq` buckets
    * (exact BIGINT totals; integer precondition enforced per row), assign
    * each bucket its phase = (bucket_epoch_µs / freq_µs) mod `period`, and
    * subtract the per-(series, phase) mean total — e.g. freq = "1 hour",
    * period = 24 removes the hour-of-day profile. The phase mean is one
    * exact-integer sum/count division and the deseasonalized value one
    * further IEEE subtraction, both fixed-order, so the doubles replay
    * engine-exact.
    *
    * Plan shape: the resample aggregate is the only corpus-scale exchange;
    * the phase-profile table is ≤ series × period rows, so AQE broadcasts
    * the join back (never a corpus reshuffle). Output one row per
    * (series, bucket): (series..., bucket_ts, phase, total, phase_mean,
    * deseasonalized). */
  def seasonalAdjust(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], freq: String, period: Int): DataFrame = {
    require(period >= 2, "period must be >= 2")
    val spec = Resample.parseFreq(freq)
    val sc = seriesCols.map(col)
    val buckets = df
      .withColumn("__c", integralOrFail(col(valueCol), "seasonalAdjust"))
      .groupBy(sc :+ window(col(tsCol), spec.sparkInterval)
        .getField("start").alias("bucket_ts"): _*)
      .agg(sum(col("__c")).alias("total"))
      .withColumn("phase",
        // integral `div` keeps the whole phase computation in BIGINTs
        // (bucket starts are exact multiples of the freq, but no step here
        // should depend on that)
        pmod(expr(s"unix_micros(bucket_ts) div ${spec.micros}"),
          lit(period.toLong)))
    val profile = buckets.groupBy(sc :+ col("phase"): _*)
      .agg(sum(col("total")).alias("__ps"), count(lit(1)).alias("__pn"))
      .withColumn("phase_mean", col("__ps").cast(DoubleType) / col("__pn"))
      .drop("__ps", "__pn")
    buckets.join(profile, seriesCols :+ "phase")
      .withColumn("deseasonalized",
        col("total").cast(DoubleType) - col("phase_mean"))
  }

  /** Exponentially-weighted mean + variance (RiskMetrics volatility) per
    * series: adds `ewm_mean_<col>` and `ewm_var_<col>` from the one-pass
    * recursion in [[graft.functions.Recurrence.ewmVar]] (two doubles of state;
    * ONE series exchange, one running frame; a recursive-CTE oracle
    * replays every IEEE step). The EW stddev is `sqrt(ewm_var_<col>)` on
    * top — sqrt is correctly-rounded IEEE, so even that stays
    * engine-exact. */
  def ewmVolatility(tsdf: TSDF, colToCalc: String, alpha: Double): TSDF = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    tsdf.copy(df = Recurrence.ewmVar(alpha).addColumns(tsdf.df,
      col(colToCalc), runningWindow(tsdf),
      Seq(s"ewm_mean_$colToCalc", s"ewm_var_$colToCalc")))
  }

  /** Hampel filter: replace a point with the window median when it sits
    * more than `k`·MAD from it — the standard robust despiker (unlike a
    * rolling-mean filter, a single spike cannot drag the reference level).
    * Window = centered ±w rows; median and MAD are [[OrderStat]] medians,
    * SELECTIONS from the frame multiset, and the k·MAD comparison is fixed
    * IEEE arithmetic — engine-exact on raw doubles. A frame with no value
    * has a null median: its row keeps its (null) value. With a zero MAD
    * (≥ half the frame identical) |x−med| > k·MAD would flag any
    * deviation, so the guard requires mad > 0 (the conservative choice —
    * constant neighborhoods never despike). Cost O(w log w) per row
    * (documented smoothing-width contract, same as [[rollingMedian]]);
    * ONE series exchange. Adds `<col>_hampel` (the filtered series) and
    * `<col>_spike` (whether the point was replaced). */
  def hampel(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], w: Int, k: Double = 3.0,
      tieCols: Seq[String] = Nil, chunkRows: Int = 0): DataFrame = {
    require(w >= 1, "w must be >= 1")
    val x = col(valueCol).cast(DoubleType)
    withChunkedFrame(df, tsCol, seriesCols, tieCols, -w, w, chunkRows) {
      (d, spec) =>
      val staged = d.withColumn("__fr", collect_list(x).over(spec))
      val med = OrderStat.ofFrame(col("__fr"), 0.5)
      val mad = OrderStat.ofFrame(
        transform(col("__fr"), e => abs(e - col("__med"))), 0.5)
      staged
        .withColumn("__med", med)
        .withColumn("__mad", mad)
        .withColumn(s"${valueCol}_spike",
          col("__mad") > 0.0 && abs(x - col("__med")) > lit(k) * col("__mad"))
        .withColumn(s"${valueCol}_hampel",
          when(col(s"${valueCol}_spike"), col("__med")).otherwise(x))
        .drop("__fr", "__med", "__mad")
    }
  }

  /** Exact trailing-window quantile: the [[OrderStat]] quantile p of the
    * trailing `window`-row frame's values, cast to double (a frame with no
    * value gives null). SELECTION from the frame multiset, so raw doubles
    * replay engine-exact; O(w log w) per row (smoothing-width contract);
    * ONE series exchange. Adds `rolling_p<pp>_<col>`. */
  def rollingQuantile(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], window: Int, p: Double,
      tieCols: Seq[String] = Nil, chunkRows: Int = 0): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(p > 0 && p <= 1, "p must be in (0, 1]")
    trailingQuantile(df, tsCol, col(valueCol).cast(DoubleType), seriesCols,
      window, p, tieCols, chunkRows, s"rolling_p${math.round(p * 100)}_$valueCol")
  }

  /** Robust scaling: (x − median) / IQR per series, the outlier-resistant
    * cousin of the z-score (a handful of extremes cannot drag the location
    * or the scale). Median and quartiles are [[OrderStat]] quantiles,
    * SELECTED members of the value multiset; the subtraction and division
    * are two fixed IEEE operations on top — engine-exact with raw doubles,
    * no quantization needed. Zero IQR (constant-ish series) yields null.
    * Plan shape: ONE series exchange — the value-ordered rank window, the
    * whole-partition quartile extraction, and the scaling reuse the same
    * partitioning (no join back; same shape as [[winsorize]]). Output:
    * input row + `<col>_robust`. */
  def robustScale(df: DataFrame, valueCol: String,
      seriesCols: Seq[String]): DataFrame = {
    val sc = seriesCols.map(col)
    def q(p: Double) = OrderStat.atRank(col(valueCol).cast(DoubleType), p)
      .over(Window.partitionBy(sc: _*))
    val iqr = q(0.75) - q(0.25)
    OrderStat.withRanks(df, sc, col(valueCol))
      .withColumn(s"${valueCol}_robust",
        when(iqr =!= 0.0,
          (col(valueCol).cast(DoubleType) - q(0.5)) / iqr))
      .drop("__rn", "__n")
  }

  /** Average true range over an OHLC bar series: true range = max(high−low,
    * |high−prevClose|, |low−prevClose|) (first bar: high−low), smoothed by
    * Wilder's recursion atr_t = (1/n)·tr_t + (1−1/n)·atr_{t−1} seeded from
    * the first bar's TR — the [[graft.functions.Recurrence.ema]] aggregate with
    * α = 1/n (EMA seeding, the standard streaming-friendly variant of
    * Wilder's SMA-of-first-n seed; documented divergence). OHLC values are
    * SELECTIONS of raw doubles (min/max/first/last of observations), the TR
    * assembly is fixed IEEE order, and the recursion replays per step in a
    * recursive-CTE oracle — bit-reproducible end to end. The lag pass and
    * the running EMA share ONE series exchange. Output: input bar row +
    * `tr` + `atr`. */
  def atr(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      highCol: String, lowCol: String, closeCol: String, n: Int = 14,
      tieCols: Seq[String] = Nil): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val lagW = seriesOrder(seriesCols, tsCol, tieCols)
    val runW = running(lagW)
    val hi = col(highCol).cast(DoubleType)
    val lo = col(lowCol).cast(DoubleType)
    val pc = lag(col(closeCol).cast(DoubleType), 1).over(lagW)
    val tr = when(pc.isNull, hi - lo)
      .otherwise(greatest(hi - lo, abs(hi - pc), abs(lo - pc)))
    Recurrence.ema(1.0 / n).addColumns(df.withColumn("tr", tr), col("tr"),
      runW, Seq("atr"))
  }

  /** Stochastic oscillator over the trailing `window` rows of each series,
    * [[graft.functions.Recurrence.stochastic]] on the running frame: %K =
    * 100·(x − ll)/(hh − ll), %D the 3-row moving mean of %K. ll/hh are
    * SELECTIONS (raw doubles), %K one fixed-order IEEE expression, and %D
    * sums three %K values in explicit left-to-right order — both engines
    * produce identical bits. %K is null when the frame is flat (hh = ll);
    * %D is null until three %K values exist. ONE series exchange, one
    * window aggregate, shared with the streaming twin. Output: input row +
    * `pct_k` + `pct_d`. */
  def stochastic(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], window: Int = 14,
      tieCols: Seq[String] = Nil): DataFrame =
    Recurrence.stochastic(window).addColumns(df, col(valueCol),
      running(seriesOrder(seriesCols, tsCol, tieCols)), Seq("pct_k", "pct_d"))

  /** On-balance volume: obv_t = obv_{t−1} + sign(close_t − close_{t−1})·vol_t
    * (first bar contributes 0) — the classic volume-flow accumulation
    * indicator. `volumeCol` must be integer-valued (enforced), so the
    * running sum is an exact BIGINT — order-independent and
    * engine-reproducible; the close comparison is on raw doubles (exact).
    * One series exchange (lag + running sum share the sort). Output: input
    * row + `obv`. */
  def obv(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      closeCol: String, volumeCol: String,
      tieCols: Seq[String] = Nil): DataFrame = {
    val lagW = seriesOrder(seriesCols, tsCol, tieCols)
    val runW = running(lagW)
    val close = col(closeCol).cast(DoubleType)
    val pc = lag(close, 1).over(lagW)
    // direction × checked volume (not a branch on the volume) so the
    // integer check evaluates on EVERY row, including zero-direction ones
    val dir = when(pc.isNull, lit(0L)).when(close > pc, lit(1L))
      .when(close < pc, lit(-1L)).otherwise(lit(0L))
    val signed = integralOrFail(col(volumeCol), "obv") * dir
    df.withColumn("__sv", signed)
      .withColumn("obv", sum(col("__sv")).over(runW))
      .drop("__sv")
  }

  /** Donchian channels over the trailing `window` rows of each series,
    * [[graft.functions.Recurrence.donchian]] on the running frame:
    * upper/lower = max/min of the frame (partial frames at the series head
    * use the rows available, as in [[stochastic]]), mid = (upper + lower)/2
    * — the breakout-band indicator. Upper/lower are SELECTIONS of raw
    * doubles and mid is one fixed-order IEEE expression, so both engines
    * produce identical bits. ONE series exchange, one window aggregate,
    * shared with the streaming twin. Output: input row + `dc_upper` +
    * `dc_lower` + `dc_mid`. */
  def donchian(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], window: Int = 20,
      tieCols: Seq[String] = Nil): DataFrame =
    Recurrence.donchian(window).addColumns(df, col(valueCol),
      running(seriesOrder(seriesCols, tsCol, tieCols)),
      Seq("dc_upper", "dc_lower", "dc_mid"))

  /** Williams %R: −100·(hh − x)/(hh − ll) with hh/ll the max/min over the
    * trailing `window` rows — the inverted-stochastic overbought/oversold
    * gauge (0 at the frame high, −100 at the frame low). hh/ll are
    * SELECTIONS, %R one fixed-order IEEE expression, null on flat frames
    * (hh = ll) — bit-reproducible. One series exchange. Output: input row
    * + `pct_r`. */
  def williamsR(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], window: Int = 14,
      tieCols: Seq[String] = Nil): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val w = seriesOrder(seriesCols, tsCol, tieCols)
      .rowsBetween(-(window - 1), Window.currentRow)
    val x = col(valueCol).cast(DoubleType)
    val hh = max(x).over(w)
    val ll = min(x).over(w)
    df.withColumn("pct_r",
      when(hh =!= ll, lit(-100.0) * (hh - x) / (hh - ll)))
  }

  /** Rate-of-change and momentum over an `n`-row lookback:
    * momentum = x − x_{t−n}, roc = 100·(x − x_{t−n})/x_{t−n} — both null
    * until the lag exists, roc additionally null when the base is 0 (no
    * Infinity rows). Raw-double subtraction plus one fixed-order IEEE
    * expression — bit-reproducible. One series exchange. Output: input row
    * + `momentum` + `roc`. */
  def rocMomentum(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], n: Int = 10,
      tieCols: Seq[String] = Nil): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val ord = seriesOrder(seriesCols, tsCol, tieCols)
    val x = col(valueCol).cast(DoubleType)
    val px = lag(x, n).over(ord)
    df.withColumn("momentum", x - px)
      .withColumn("roc", when(px =!= 0.0, lit(100.0) * (x - px) / px))
  }

  /** The classic SAX equiprobable N(0,1) breakpoints (Lin et al. 2003),
    * alphabet sizes 2–8. */
  private val saxBreakpoints: Map[Int, Seq[Double]] = Map(
    2 -> Seq(0.0),
    3 -> Seq(-0.43, 0.43),
    4 -> Seq(-0.67, 0.0, 0.67),
    5 -> Seq(-0.84, -0.25, 0.25, 0.84),
    6 -> Seq(-0.97, -0.43, 0.0, 0.43, 0.97),
    7 -> Seq(-1.07, -0.57, -0.18, 0.18, 0.57, 1.07),
    8 -> Seq(-1.15, -0.67, -0.32, 0.0, 0.32, 0.67, 1.15))

  /** SAX symbolization: each series is cut into consecutive
    * `segmentRows`-row segments (by row position), each segment reduced to
    * its EXACT integer sum (PAA up to the constant 1/w factor —
    * z-normalization is affine-invariant, so symbols are identical),
    * segment sums z-scored per series with the moment-sum stddev (exact
    * BIGINT Σs; Σs² as integer-valued doubles, exact while < 2⁵³), and
    * each z bucketed into `alphabet` symbols ('a' lowest) at the standard
    * equiprobable N(0,1) breakpoints — the indexable symbolic sketch for
    * similarity search and motif grouping. `valueCol` must be
    * integer-valued (scale to cents upstream; enforced). z/symbol are null
    * for 1-segment or constant series (σ undefined/0).
    *
    * Plan shape: one series exchange for the row-number pass, one
    * (series, segment) partial aggregate, one series-partition window for
    * the moments — no global operation, no driver state. Every step is
    * exact-integer or fixed-order IEEE, so the DuckDB oracle replays
    * bit-for-bit.
    *
    * Skew bound (why no chunked escape like [[rollingMedian]]'s): a hot
    * series costs its single-task row_number sort O(n log n) with O(1)
    * work per row — no per-row frame collection — and every later stage
    * shrinks the series by the segment width (map-side-combinable
    * aggregate, then a window over n/segmentRows segment rows). A 10⁶-row
    * series is a ~10⁶-row sort in one task (sub-second) followed by
    * parallel segment work; the frame-collecting operators the chunked
    * escape exists for pay O(w log w) PER ROW in that one task instead.
    * Output: series cols + (segment, start_ts_us, n_rows, seg_sum, z,
    * symbol). */
  def sax(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], segmentRows: Int, alphabet: Int = 4,
      tieCols: Seq[String] = Nil): DataFrame = {
    require(segmentRows >= 1, "segmentRows must be >= 1")
    require(saxBreakpoints.contains(alphabet),
      s"alphabet must be in ${saxBreakpoints.keys.toSeq.sorted.mkString("..")}")
    val ord = seriesOrder(seriesCols, tsCol, tieCols)
    val segs = df
      .withColumn("__v", integralOrFail(col(valueCol), "sax"))
      .withColumn("__rn", row_number().over(ord))
      .withColumn("segment",
        expr(s"CAST((__rn - 1) div $segmentRows AS BIGINT)"))
      .groupBy((seriesCols.map(col) :+ col("segment")): _*)
      .agg(min(unix_micros(col(tsCol))).alias("start_ts_us"),
        count(lit(1)).alias("n_rows"),
        sum(col("__v")).alias("seg_sum"))
    val sw = Window.partitionBy(seriesCols.map(col): _*)
    val sd = col("seg_sum").cast(DoubleType)
    val withMoments = segs
      .withColumn("__cnt", count(lit(1)).over(sw))
      .withColumn("__s1", sum(col("seg_sum")).over(sw))
      .withColumn("__s2", sum(sd * sd).over(sw))
    val m = col("__s1").cast(DoubleType) / col("__cnt")
    val sig = momentStddev(col("__cnt"), col("__s1"), col("__s2"))
    val z = when(sig =!= 0.0, (sd - m) / sig)
    val letters = (0 until alphabet).map(i => ('a' + i).toChar.toString)
    val symbol = saxBreakpoints(alphabet).zip(letters).foldRight(
      lit(letters.last): Column) { case ((bp, l), acc) =>
      when(col("z") < bp, l).otherwise(acc)
    }
    withMoments.withColumn("z", z)
      .withColumn("symbol", when(col("z").isNotNull, symbol))
      .drop("__cnt", "__s1", "__s2")
  }

  /** Motif discovery over the [[sax]] sketch — the Lin/Keogh/Mueen
    * symbolic-bucketing discipline (Lin et al. 2003 §5; the same
    * candidates-by-equal-sketch → exact-verify shape as the text
    * near-dup family): slide a `wordLen`-segment SAX word along each
    * series, bucket positions by (series, word), pair NON-OVERLAPPING
    * positions inside a bucket (p₂ ≥ p₁ + wordLen — the standard
    * trivial-match exclusion), verify each candidate with the EXACT
    * integer distance dist² = Σᵢ (sumₐᵢ − sum_bᵢ)² over the aligned
    * segment sums, and keep each series' best pair under the total order
    * (dist², p₁, p₂). Output: seriesCols + (word, p1, p2, dist2); series
    * with no candidate pair (all words unique, or symbols null on a
    * constant series) emit nothing.
    *
    * Scale shape: the quadratic face lives INSIDE (series, word) buckets
    * only — never across series, never across words — and
    * `maxPerWord` caps candidate positions per bucket (earliest
    * positions win, deterministically; the df-cap convention of
    * winnowPairs). The distance is exact-integer with the caller-owned
    * bound wordLen · (Δseg_sum)² < 2⁶³ (cents-scaled inputs at the
    * [[sax]] contract hold it with room); the verify never re-reads the
    * raw series — segment sums ride along with the word. */
  def saxMotifs(df: DataFrame, tsCol: String, valueCol: String,
      seriesCols: Seq[String], segmentRows: Int, alphabet: Int = 4,
      wordLen: Int = 4, maxPerWord: Int = 64,
      tieCols: Seq[String] = Nil): DataFrame = {
    require(wordLen >= 2, "wordLen must be >= 2")
    require(maxPerWord >= 2, "maxPerWord must allow at least one pair")
    val s = sax(df, tsCol, valueCol, seriesCols, segmentRows, alphabet,
      tieCols)
    val ordSeg = Window.partitionBy(seriesCols.map(col): _*)
      .orderBy(col("segment"))
    val withLeads = (1 until wordLen).foldLeft(
      s.select(seriesCols.map(col) ++ Seq(col("segment"),
        col("seg_sum").alias("__ss0"), col("symbol").alias("__sym0")): _*)) {
      case (acc, i) => acc
        .withColumn(s"__sym$i", lead(col("__sym0"), i).over(ordSeg))
        .withColumn(s"__ss$i", lead(col("__ss0"), i).over(ordSeg))
    }
    // concat is null if ANY symbol in the window is null (constant/short
    // series) — those positions drop out here
    val words = withLeads
      .withColumn("word",
        concat((0 until wordLen).map(i => col(s"__sym$i")): _*))
      .filter(col("word").isNotNull)
    val wordOrd = Window.partitionBy(
      (seriesCols.map(col) :+ col("word")): _*).orderBy(col("segment"))
    val capped = words
      .withColumn("__wrn", row_number().over(wordOrd))
      .filter(col("__wrn") <= maxPerWord)
      .drop("__wrn")
    val a = capped.select(seriesCols.map(col) ++ Seq(col("word"),
      col("segment").alias("p1")) ++
      (0 until wordLen).map(i => col(s"__ss$i").alias(s"__a$i")): _*)
    val b = capped.select(seriesCols.map(col) ++ Seq(col("word"),
      col("segment").alias("p2")) ++
      (0 until wordLen).map(i => col(s"__ss$i").alias(s"__b$i")): _*)
    val dist2 = (0 until wordLen).map { i =>
      val d = col(s"__a$i") - col(s"__b$i")
      d * d
    }.reduce(_ + _)
    val pairs = a.join(b, seriesCols :+ "word")
      .filter(col("p2") >= col("p1") + wordLen)
      .select(seriesCols.map(col) ++ Seq(col("word"), col("p1"),
        col("p2"), dist2.alias("dist2")): _*)
    pairs.groupBy(seriesCols.map(col): _*)
      .agg(min(struct(col("dist2"), col("p1"), col("p2"),
        col("word"))).alias("__best"))
      .select(seriesCols.map(col) ++ Seq(
        col("__best.word").alias("word"), col("__best.p1").alias("p1"),
        col("__best.p2").alias("p2"),
        col("__best.dist2").alias("dist2")): _*)
  }

  /** Cross-sectional z-score: standardize `valueCol` ACROSS rows sharing a
    * time bucket — the transpose of [[withRangeStats]]' per-series-over-
    * time z, used to rank entities against their peers at one moment
    * (factor scores, per-hour user anomaly, leaderboard normalization).
    *
    * Determinism: values quantize to scaled longs (floor(x·scale + 0.5));
    * per-bucket moments (s1 = Σx, s2 = Σx²) are exact BIGINT window sums
    * — order-independent, with the caller-owned bound
    * scale²·max|x|²·bucketRows < 2^63 (Spark wraps silently past it,
    * DuckDB errors loudly); z = (n·x − s1) / sqrt(n·s2 − s1²) with every
    * PRODUCT taken after a double cast (BIGINT s1² would overflow — the
    * momentStddev discipline) — a fixed IEEE op sequence,
    * engine-bit-identical. Population-σ convention; buckets with zero
    * variance or a single row yield null. Output: keep columns + bucket +
    * cents + cs_n + cs_z. */
  def crossSectionalZ(df: DataFrame, keepCols: Seq[String],
      bucketCol: Column, valueCol: Column,
      scale: Long = 100L): DataFrame = {
    val cents = floor(valueCol * lit(scale.toDouble) + lit(0.5))
      .cast(LongType)
    val base = df.select(keepCols.map(col) :+ bucketCol.alias("bucket") :+
      cents.alias("cents"): _*)
    val w = Window.partitionBy(col("bucket"))
    def d(c: Column) = c.cast(DoubleType)
    val withM = base
      .withColumn("cs_n", count(lit(1)).over(w))
      .withColumn("__s1", sum(col("cents")).over(w))
      .withColumn("__s2", sum(col("cents") * col("cents")).over(w))
    val den = sqrt(d(col("cs_n")) * d(col("__s2")) -
      d(col("__s1")) * d(col("__s1")))
    val num = d(col("cs_n")) * d(col("cents")) - d(col("__s1"))
    withM
      .withColumn("cs_z", when(den > 0.0, num / den))
      .drop("__s1", "__s2")
  }
}

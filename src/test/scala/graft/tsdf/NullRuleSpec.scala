package graft.tsdf

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkTestBase

/** Pins what every batch indicator twin does with a null value, on
  * hand-written expected rows: one series with a leading null, an interior
  * null and two nulls in a row. The streaming twins are held to these same
  * rows by the null cases of [[graft.streaming.StreamingResumeSpec]].
  * Values are compared bit for bit (`java.lang.Double.compare`). */
class NullRuleSpec extends SparkTestBase {

  private val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
  private def at(minute: Int) = new Timestamp(base + minute * 60000L)

  /** One row per minute 0..10. */
  private val values: Seq[Option[Double]] = Seq(None, Some(10.0), Some(13.0),
    None, Some(11.0), None, None, Some(15.0), Some(12.0), Some(14.0), Some(16.0))

  private def input(vs: Seq[(Int, Option[Double])],
      id: String = "a"): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    vs.map { case (m, v) => (id, at(m), v) }.toDF("user_id", "ts", "value")
  }
  private lazy val series = input(values.zipWithIndex.map(_.swap))
  /** `series` plus a series "b" with no value, at minutes 20 and 21. */
  private lazy val withEmpty =
    series.unionByName(input(Seq(20 -> None, 21 -> None), id = "b"))
  private def tsdf = TSDF(series, "ts", Seq("user_id"))
  private val key = Seq("user_id")

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case _ => a == b
  }

  /** `out`'s `cols` in ts order, each row led by its minute, against
    * `expected` (None = null). */
  private def check(out: DataFrame, cols: String*)(expected: Seq[Any]*): Unit =
    compare(out.orderBy("ts").select(col("ts") +: cols.map(col): _*).collect()
      .toSeq.map { r =>
        ((r.getTimestamp(0).getTime - base) / 60000L).toInt +:
          (1 to cols.size).map(i => Option(r.get(i)))
      }, expected)

  /** `out`'s `cols` in series order, one row per series led by its id. */
  private def checkSeries(out: DataFrame, cols: String*)(expected: Seq[Any]*): Unit =
    compare(out.orderBy("user_id").select(col("user_id") +: cols.map(col): _*)
      .collect().toSeq.map(r => r.get(0) +: (1 to cols.size).map(i => Option(r.get(i)))),
      expected)

  private def compare(got: Seq[Seq[Any]], expected: Seq[Seq[Any]]): Unit = {
    val want = expected.map(e => e.head +: e.tail.map {
      case o: Option[_] => o
      case v => Some(v)
    })
    assert(got.size == want.size && got.zip(want).forall { case (g, w) =>
      g.size == w.size && g.zip(w).forall {
        case (Some(a), Some(b)) => same(a, b)
        case (a, b) => same(a, b)
      }
    }, s"\n  got:      ${got.mkString("\n            ")}" +
      s"\n  expected: ${want.mkString("\n            ")}")
  }

  private val n = None

  test("emaExact keeps its state on a null and emits the current ema") {
    check(tsdf.emaExact("value", alpha = 0.5).df, "ema_exact_value")(
      Seq(0, n), Seq(1, 10.0), Seq(2, 11.5), Seq(3, 11.5), Seq(4, 11.25),
      Seq(5, 11.25), Seq(6, 11.25), Seq(7, 13.125), Seq(8, 12.5625),
      Seq(9, 13.28125), Seq(10, 14.640625))
  }

  test("holtExact keeps level and trend on a null") {
    check(tsdf.holtExact("value", alpha = 0.5, beta = 0.5).df,
        "holt_level_value", "holt_trend_value")(
      Seq(0, n, n), Seq(1, 10.0, 0.0), Seq(2, 11.5, 0.75), Seq(3, 11.5, 0.75),
      Seq(4, 11.625, 0.4375), Seq(5, 11.625, 0.4375), Seq(6, 11.625, 0.4375),
      Seq(7, 13.53125, 1.171875), Seq(8, 13.3515625, 0.49609375),
      Seq(9, 13.923828125, 0.5341796875),
      Seq(10, 15.22900390625, 0.919677734375))
  }

  test("rsi: a null forgets the previous value, the EMAs keep their state") {
    // no move at minutes 4 and 7: the value before each is null
    check(tsdf.rsi("value", n = 2).df, "rsi_value")(
      Seq(0, n), Seq(1, n), Seq(2, 100.0), Seq(3, 100.0), Seq(4, 100.0),
      Seq(5, 100.0), Seq(6, 100.0), Seq(7, 100.0), Seq(8, 50.0), Seq(9, 70.0),
      Seq(10, 100.0 * 1.875 / 2.25))
  }

  test("macd: fast and slow keep their state, the signal EMA steps again") {
    // fast span 1 (alpha 1), slow and signal span 3 (alpha 0.5)
    check(tsdf.macd("value", fast = 1, slow = 3, signal = 3).df,
        "macd_value", "macd_signal_value", "macd_hist_value")(
      Seq(0, n, n, n), Seq(1, 0.0, 0.0, 0.0), Seq(2, 1.5, 0.75, 0.75),
      Seq(3, 1.5, 1.125, 0.375), Seq(4, -0.25, 0.4375, -0.6875),
      Seq(5, -0.25, 0.09375, -0.34375), Seq(6, -0.25, -0.078125, -0.171875),
      Seq(7, 1.875, 0.8984375, 0.9765625),
      Seq(8, -0.5625, 0.16796875, -0.73046875),
      Seq(9, 0.71875, 0.443359375, 0.275390625),
      Seq(10, 1.359375, 0.9013671875, 0.4580078125))
  }

  test("drawdown: the peak keeps its value, the drawdown is null") {
    check(Stats.drawdown(series, "ts", "value", key),
        "peak_value", "drawdown_value")(
      Seq(0, n, n), Seq(1, 10.0, 0.0), Seq(2, 13.0, 0.0), Seq(3, 13.0, n),
      Seq(4, 13.0, 2.0), Seq(5, 13.0, n), Seq(6, 13.0, n), Seq(7, 15.0, 0.0),
      Seq(8, 15.0, 3.0), Seq(9, 15.0, 1.0), Seq(10, 16.0, 0.0))
  }

  test("stochastic: a null takes a frame slot, %K is null on a null row") {
    check(Stats.stochastic(series, "ts", "value", key, window = 3),
        "pct_k", "pct_d")(
      Seq(0, n, n), Seq(1, n, n), Seq(2, 100.0, n), Seq(3, n, n),
      Seq(4, 0.0, n), Seq(5, n, n), Seq(6, n, n), Seq(7, n, n),
      Seq(8, 0.0, n), Seq(9, 100.0 * 2.0 / 3.0, n),
      Seq(10, 100.0, (0.0 + 100.0 * 2.0 / 3.0 + 100.0) / 3.0))
  }

  test("donchian: a null takes a frame slot and adds no value") {
    check(Stats.donchian(series, "ts", "value", key, window = 3),
        "dc_upper", "dc_lower", "dc_mid")(
      Seq(0, n, n, n), Seq(1, 10.0, 10.0, 10.0), Seq(2, 13.0, 10.0, 11.5),
      Seq(3, 13.0, 10.0, 11.5), Seq(4, 13.0, 11.0, 12.0),
      Seq(5, 11.0, 11.0, 11.0), Seq(6, 11.0, 11.0, 11.0),
      Seq(7, 15.0, 15.0, 15.0), Seq(8, 15.0, 12.0, 13.5),
      Seq(9, 15.0, 12.0, 13.5), Seq(10, 16.0, 12.0, 14.0))
  }

  test("rollingMedian: a null takes a frame slot; a frame with no value " +
      "has a null median") {
    check(Stats.rollingMedian(series, "ts", "value", key, window = 3),
        "rolling_median_value")(
      Seq(0, n), Seq(1, 10.0), Seq(2, 10.0), Seq(3, 10.0), Seq(4, 11.0),
      Seq(5, 11.0), Seq(6, 11.0), Seq(7, 15.0), Seq(8, 12.0), Seq(9, 14.0),
      Seq(10, 14.0))
  }

  // The order statistics: a null is not a value, so it leaves the sorted
  // multiset and its size n; a frame or series with no value gives null.
  // Series "b" of `withEmpty` holds no value.

  test("rollingQuantile: a null adds no value; a frame with no value is null") {
    check(Stats.rollingQuantile(withEmpty, "ts", "value", key, window = 2,
        p = 0.9), "rolling_p90_value")(
      Seq(0, n), Seq(1, 10.0), Seq(2, 13.0), Seq(3, 13.0), Seq(4, 11.0),
      Seq(5, 11.0), Seq(6, n), Seq(7, 15.0), Seq(8, 15.0), Seq(9, 14.0),
      Seq(10, 16.0), Seq(20, n), Seq(21, n))
  }

  test("hampel: a null keeps its row null; a frame with no value is null") {
    // minute 8: frame [12, 14, 15], med 14, deviations [0, 1, 2], mad 1
    check(Stats.hampel(withEmpty, "ts", "value", key, w = 1),
        "value_hampel", "value_spike")(
      Seq(0, n, false), Seq(1, 10.0, false), Seq(2, 13.0, false),
      Seq(3, n, false), Seq(4, 11.0, false), Seq(5, n, false),
      Seq(6, n, false), Seq(7, 15.0, false), Seq(8, 12.0, false),
      Seq(9, 14.0, false), Seq(10, 16.0, false), Seq(20, n, n), Seq(21, n, n))
  }

  test("resample median: a null adds no value; a bucket with no value is null") {
    check(TSDF(withEmpty, "ts", Seq("user_id")).resample("4 minutes", "median").df,
        "value")(
      Seq(0, 10.0), Seq(4, 11.0), Seq(8, 14.0), Seq(20, n))
  }

  // series "a" holds 7 values: sorted [10, 11, 12, 13, 14, 15, 16]

  test("quantiles: ranks count values only; a series with no value is null") {
    // ranks ⌈0.25·7⌉ = 2, ⌈0.5·7⌉ = 4, ⌈0.9·7⌉ = 7
    checkSeries(Stats.quantiles(withEmpty, "value", key, Seq(0.25, 0.5, 0.9)),
        "p25", "p50", "p90")(
      Seq("a", 11.0, 13.0, 16.0), Seq("b", n, n, n))
  }

  test("winsorize: the bounds rank values only; a null stays null") {
    // bounds at ranks 2 and 6: [11, 15]
    check(Stats.winsorize(withEmpty, "value", key, pLo = 0.25, pHi = 0.75),
        "value_w")(
      Seq(0, n), Seq(1, 11.0), Seq(2, 13.0), Seq(3, n), Seq(4, 11.0),
      Seq(5, n), Seq(6, n), Seq(7, 15.0), Seq(8, 12.0), Seq(9, 14.0),
      Seq(10, 15.0), Seq(20, n), Seq(21, n))
  }

  test("robustScale: the quartiles rank values only") {
    // median 13, quartiles 11 and 15: IQR 4
    check(Stats.robustScale(withEmpty, "value", key), "value_robust")(
      Seq(0, n), Seq(1, -0.75), Seq(2, 0.0), Seq(3, n), Seq(4, -0.5),
      Seq(5, n), Seq(6, n), Seq(7, 0.5), Seq(8, -0.25), Seq(9, 0.25),
      Seq(10, 0.75), Seq(20, n), Seq(21, n))
  }

  test("robustAnomalies: n, the median and the MAD count values only") {
    // median 13; deviations [0, 1, 1, 2, 2, 3, 3], MAD 2; 10 and 16 lie
    // more than 1·MAD away
    checkSeries(Stats.robustAnomalies(withEmpty, "value", key, k = 1.0),
        "n", "med", "mad", "n_anomalies")(
      Seq("a", 7L, 13.0, 2.0, 2L), Seq("b", 0L, n, n, 0L))
  }

  test("theilSen: a point with a null y is no point") {
    // 7 points, 21 pairwise slopes; the 11th smallest is (15 − 13)/(7 − 2)
    val xy = withEmpty.withColumn("x",
      ((col("ts").cast("long") - base / 1000L) / 60L).cast("long"))
    checkSeries(graft.pipeline.Regression.theilSen(xy, key, col("x"),
        col("value"), col("x")), "n_pairs", "slope")(
      Seq("a", 21L, 2.0 / 5.0))
  }

  test("thresholdCrossings: neither a null row nor the row after it crosses") {
    // 13 -> 11 (minutes 2..4) and 11 -> 15 (4..7) straddle nulls: no rows
    check(Stats.thresholdCrossings(series, "ts", "value", key,
        threshold = 12.5), "prev_ts", "prev_value", "value", "direction")(
      Seq(2, at(1), 10.0, 13.0, "up"), Seq(8, at(7), 15.0, 12.0, "down"),
      Seq(9, at(8), 12.0, 14.0, "up"))
  }

  /** Minutes 2, 5 and 9 are missing buckets; 0, 4, 7 and 8 are buckets
    * whose value is null. */
  private lazy val gappy = TSDF(input(Seq(0 -> None, 1 -> Some(10.0),
    3 -> Some(13.0), 4 -> None, 6 -> Some(11.0), 7 -> None, 8 -> None,
    10 -> Some(15.0))), "ts", Seq("user_id"))
  private def interpolated(method: String) = gappy.resample("1 minute", "floor")
    .interpolate(method, showInterpolated = true).df

  test("interpolate ffill: a null bucket is filled from the last value") {
    check(interpolated("ffill"), "value", "is_ts_interpolated")(
      Seq(0, n, false), Seq(1, 10.0, false), Seq(2, 10.0, true),
      Seq(3, 13.0, false), Seq(4, 13.0, false), Seq(5, 13.0, true),
      Seq(6, 11.0, false), Seq(7, 11.0, false), Seq(8, 11.0, false),
      Seq(9, 11.0, true), Seq(10, 15.0, false))
  }

  test("interpolate linear: a null bucket lies on the line between the " +
      "values around it") {
    check(interpolated("linear"), "value", "is_ts_interpolated")(
      Seq(0, n, false), Seq(1, 10.0, false), Seq(2, 11.5, true),
      Seq(3, 13.0, false), Seq(4, 13.0 + (11.0 - 13.0) * (60.0 / 180.0), false),
      Seq(5, 13.0 + (11.0 - 13.0) * (120.0 / 180.0), true),
      Seq(6, 11.0, false), Seq(7, 12.0, false), Seq(8, 13.0, false),
      Seq(9, 14.0, true), Seq(10, 15.0, false))
  }
}

package graft

import org.apache.spark.ml.tuning.{TimeSeriesCrossValidator => TSCV}
import org.apache.spark.sql.functions._

import graft.io.TSDFWriter
import graft.tsdf.TimeHorizon

/** Golden tests ported from the reference utils/io/ml suites
  * (utils_tests.py:24-49, io_tests.py:30-55, ml_tests.py:136-153). */
class UtilsIoMlGoldenSpec extends SparkTestBase {

  test("calculate_time_horizon reproduces the reference warning numbers") {
    val fx = new GoldenFixtures(spark, "utils_tests.json")
    val t = fx.testCase("UtilsTest", "test_calculate_time_horizon")
    val in = fx.tsdf(t.get("init"))
    val row = TimeHorizon.summary(in, "30 seconds").collect().head
    assert(row.getAs[java.sql.Timestamp]("earliest_ts").toString
      .startsWith("2020-01-01 00:00:10"))
    assert(row.getAs[java.sql.Timestamp]("latest_ts").toString
      .startsWith("2020-01-01 00:05:31"))
    assert(row.getAs[Long]("n_series") == 3L)
    assert(row.getAs[Double]("min_values") == 7.0)
    assert(row.getAs[Double]("max_values") == 12.0)
    assert(row.getAs[Double]("p25_values") == 7.0)
    assert(row.getAs[Double]("p50_values") == 12.0)
    assert(row.getAs[Double]("p75_values") == 12.0)
    assert(row.getAs[Double]("total_values") == 31.0)
  }

  test("time-partitioned write round-trips with event_dt partitions") {
    val fx = new GoldenFixtures(spark, "io_tests.json")
    val t = fx.testCase("DeltaWriteTest", "test_write_to_delta_without_optimization_cols")
    val in = fx.tsdf(t.get("init"))
    val dir = caseDir("tsdf_write")
    TSDFWriter.write(in, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 7) // io_tests.py:43 expected row count
    assert(back.columns.contains("event_dt"))
    assert(back.columns.contains("event_time"))
  }

  test("table write replaces only the partitions present in the new data") {
    import java.sql.Timestamp
    val spark2 = spark
    import spark2.implicits._
    import graft.tsdf.TSDF
    def ts(s: String) = Timestamp.valueOf(s)
    val table = "graft_tbl_roundtrip"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      val day1 = Seq(("u1", ts("2024-01-01 01:00:00"), 1.0),
        ("u1", ts("2024-01-01 02:00:00"), 2.0))
      val day2 = Seq(("u1", ts("2024-01-02 03:00:00"), 3.0))
      TSDFWriter.writeTable(
        TSDF((day1 ++ day2).toDF("user_id", "ts", "value"), "ts", Seq("user_id")), table)
      assert(spark.table(table).count() == 3)
      // re-write ONLY day 2 with different data: day 1 must survive intact
      val day2v2 = Seq(("u1", ts("2024-01-02 04:00:00"), 9.0),
        ("u1", ts("2024-01-02 05:00:00"), 9.5))
      TSDFWriter.writeTable(
        TSDF(day2v2.toDF("user_id", "ts", "value"), "ts", Seq("user_id")), table)
      val back = spark.table(table)
      assert(back.count() == 4)
      assert(back.filter(col("event_dt") === "2024-01-01").count() == 2)
      val d2 = back.filter(col("event_dt") === "2024-01-02")
        .select("value").collect().map(_.getDouble(0)).sorted.toSeq
      assert(d2 == Seq(9.0, 9.5))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("kFold over the trades fixture yields numFolds chronological pairs") {
    val fx = new GoldenFixtures(spark, "ml_tests.json")
    val t = fx.testCase("TimeSeriesCrossValidatorTests", "test_kfolds")
    val trades = fx.df(t.get("trades"))
    val tscv = new TSCV()
      .setTimeSeriesCol("event_ts").setSeriesIdCols(Seq("symbol"))
    val folds = tscv.tsKFold(trades)
    assert(folds.size == tscv.getNumFolds)
    folds.foreach { case (train, test) =>
      assert(train.count() > 0 && test.count() > 0)
      // chronological per series: a symbol's train ends before its test begins
      val leaked = train.groupBy("symbol").agg(max("event_ts").alias("m")).alias("a")
        .join(test.groupBy("symbol").agg(min("event_ts").alias("m")).alias("b"), "symbol")
        .filter(col("a.m") >= col("b.m")).count()
      assert(leaked == 0)
    }
  }
}

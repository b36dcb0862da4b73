package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.SparkTestBase
import graft.tsdf.{Stats, TSDF}

/** Multi-micro-batch and checkpoint-restart differentials for the stateful
  * streaming twins.
  *
  * Every twin is proven equal to its batch oracle on a SINGLE AvailableNow
  * micro-batch by [[StreamingBatchDifferentialSpec]]; what that cannot see
  * is whether per-series state (EMA value, Holt level/trend, Kalman
  * variance, join buffers, dedup fingerprints) survives the two boundaries
  * a production stream crosses constantly:
  *   - micro-batch boundaries: the same input split across ≥3 batches must
  *     produce bit-identical output (state handed from batch to batch);
  *   - query restarts: stop the query between batches and start a fresh
  *     one from the checkpoint — state must round-trip through the state
  *     store, not just through the in-memory incremental execution.
  * Chunks are time-ordered slices, so no row is late and watermark
  * semantics cannot drop anything — any divergence is a state bug. */
class StreamingResumeSpec extends SparkTestBase {

  private val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime // ms
  private def at(tenths: Int) = new Timestamp(base + tenths * 6000L)

  private type Obs = (String, Timestamp, Option[Double])

  /** Random (series, ts, value) rows: per series, distinct times on a
    * 6-second lattice, integer values (same shape as the single-batch
    * differential spec); with `nulls`, about one value in ten is null. */
  private def randomSeries(rnd: scala.util.Random,
      nulls: Boolean = false): Seq[Obs] =
    Seq("u1", "u2", "u3").flatMap { s =>
      val nTicks = 400
      val count = 6 + rnd.nextInt(18)
      val offsets = rnd.shuffle((1 until nTicks - 1).toList).take(count)
      offsets.distinct.sorted.map { o =>
        val v = rnd.nextInt(1000).toDouble
        (s, at(o), Option.unless(nulls && rnd.nextInt(10) == 0)(v))
      }
    }

  /** Split rows into `n` contiguous time slices (global time order, so
    * per-series order is preserved and nothing is ever late). */
  private def timeSlices(rows: Seq[Obs], n: Int): Seq[Seq[Obs]] = {
    val sorted = rows.sortBy(r => (r._2.getTime, r._1))
    val per = math.max(1, (sorted.size + n - 1) / n)
    sorted.grouped(per).toSeq
  }

  /** Appends one row per series to the LAST slice, strictly older than
    * every row of that series in the earlier slices — a cross-batch late
    * row the per-series fold must drop (state cannot rewind). */
  private def withLateRows(slices: Seq[Seq[Obs]]): Seq[Seq[Obs]] = {
    val late = slices.init.flatten.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (s, rs) =>
        (s, new Timestamp(rs.map(_._2.getTime).min - 3000L), Some(999.0))
      }
    slices.init :+ (slices.last ++ late)
  }

  private var runId = 0

  /** Feed time-ordered slices as separate micro-batches into one running
    * query (processAllAvailable between addData calls forces a batch per
    * slice). */
  private def runChunkedStream(rows: Seq[Obs],
      nChunks: Int, build: DataFrame => DataFrame,
      lateRows: Boolean = false): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    runId += 1
    val name = s"resume_sink_$runId"
    val mem = MemoryStream[Obs]
    val out = build(mem.toDF().toDF("user_id", "ts", "value"))
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    var batches = 0
    val slices = timeSlices(rows, nChunks)
    (if (lateRows) withLateRows(slices) else slices).foreach { slice =>
      mem.addData(slice: _*)
      q.processAllAvailable()
      batches += 1
    }
    q.stop()
    assert(batches >= nChunks.min(rows.size),
      s"expected >=$nChunks micro-batches, drained $batches")
    spark.table(name)
  }

  /** Feed time-ordered slices through a FILE source, stopping the query
    * after every slice and starting a NEW query from the same checkpoint —
    * per-series state must round-trip through the state store across
    * nChunks−1 real restarts. Output goes to a parquet sink (memory sinks
    * don't survive restarts). */
  private def runRestartStream(rows: Seq[Obs],
      nChunks: Int, build: DataFrame => DataFrame,
      lateRows: Boolean = false): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val dir = caseDir("graft_resume_")
    val srcDir = s"$dir/src"; val outDir = s"$dir/out"; val chk = s"$dir/chk"
    val slices = {
      val s = timeSlices(rows, nChunks)
      if (lateRows) withLateRows(s) else s
    }
    def writeChunk(s: Seq[Obs]): Unit =
      s.toDF("user_id", "ts", "value").repartition(1)
        .write.mode("append").parquet(srcDir)
    writeChunk(slices.head)
    val sch = spark.read.parquet(srcDir).schema
    def startQ() = build(spark.readStream.schema(sch).parquet(srcDir))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", chk)
      .outputMode(OutputMode.Append()).start()
    var q = startQ(); q.processAllAvailable(); q.stop()
    slices.tail.foreach { s =>
      writeChunk(s)
      q = startQ(); q.processAllAvailable(); q.stop() // full restart per slice
    }
    spark.read.parquet(outDir)
  }

  /** One stateful twin on the per-series fold: its stream operator and
    * its batch twin over the same (user_id, ts, value) frame, compared bit
    * for bit on `cols`. Each case runs in both harnesses — 4 micro-batches
    * of one query, and 3 chunks with a full restart from the checkpoint
    * between them — with a cross-batch late row per series that the stream
    * must drop, against the batch twin over the on-time rows; and both again
    * on values of which about one in ten is null. `held` drops from the
    * batch twin's null-case output the rows the stream still holds when
    * the input ends (an append-mode difference of that operator). */
  private case class FoldCase(op: String, twin: String, chunkSeed: Int,
      restartSeed: Int, stream: DataFrame => DataFrame,
      batch: DataFrame => DataFrame, cols: Seq[String],
      pinEnds: Boolean = false, restartTitle: Option[String] = None,
      held: DataFrame => DataFrame = identity)

  private def tsdf(df: DataFrame) = TSDF(df, "ts", Seq("user_id"))
  private val key = Seq("user_id")
  private def vcols(out: String*) = Seq("user_id", "ts", "value") ++ out
  private def withAttr(df: DataFrame) =
    df.withColumn("event_type", (col("value") % 3).cast("string"))

  private val foldCases = Seq(
    FoldCase("ema", "emaExact", 91, 95,
      StreamingTSDF.ema(_, "ts", key, "value", alpha = 0.3),
      tsdf(_).emaExact("value", alpha = 0.3).df
        .withColumnRenamed("ema_exact_value", "ema_value"),
      vcols("ema_value")),
    FoldCase("holt", "holtExact", 92, 96,
      StreamingTSDF.holt(_, "ts", key, "value", alpha = 0.3, beta = 0.1),
      tsdf(_).holtExact("value", alpha = 0.3, beta = 0.1).df,
      vcols("holt_level_value", "holt_trend_value")),
    FoldCase("kalman", "kalmanLevel", 93, 97,
      StreamingTSDF.kalmanLevel(_, "ts", key, "value", q = 0.3, r = 2.7),
      tsdf(_).kalmanLevel("value", q = 0.3, r = 2.7).df,
      vcols("kalman_level_value", "kalman_var_value", "kalman_gain_value")),
    FoldCase("ewmVolatility", "ewmVolatility", 101, 102,
      StreamingTSDF.ewmVolatility(_, "ts", key, "value", alpha = 0.3),
      tsdf(_).ewmVolatility("value", alpha = 0.3).df,
      vcols("ewm_mean_value", "ewm_var_value")),
    FoldCase("holtWinters", "holtWinters", 103, 104,
      StreamingTSDF.holtWinters(_, "ts", key, "value",
        alpha = 0.5, beta = 0.25, gamma = 0.5, m = 5),
      Stats.holtWinters(_, "ts", "value", key,
        alpha = 0.5, beta = 0.25, gamma = 0.5, m = 5),
      vcols("hw_level", "hw_trend", "hw_seasonal")),
    FoldCase("rsi", "rsi", 105, 106,
      StreamingTSDF.rsi(_, "ts", key, "value", n = 14),
      tsdf(_).rsi("value", n = 14).df, vcols("rsi_value")),
    FoldCase("macd", "macd", 107, 108,
      StreamingTSDF.macd(_, "ts", key, "value"), tsdf(_).macd("value").df,
      vcols("macd_value", "macd_signal_value", "macd_hist_value")),
    FoldCase("drawdown", "drawdown", 109, 110,
      StreamingTSDF.drawdown(_, "ts", key, "value"),
      Stats.drawdown(_, "ts", "value", key),
      vcols("peak_value", "drawdown_value")),
    FoldCase("rollingMedian", "rollingMedian", 111, 112,
      StreamingTSDF.rollingMedian(_, "ts", key, "value", window = 5),
      Stats.rollingMedian(_, "ts", "value", key, window = 5),
      vcols("rolling_median_value")),
    FoldCase("gaps", "gaps", 113, 114,
      StreamingTSDF.gaps(_, "ts", key, minGapSeconds = 30),
      Stats.gaps(_, "ts", key, minGapSeconds = 30),
      Seq("user_id", "gap_start", "gap_end", "gap_seconds")),
    FoldCase("cusumControl", "cusumControl", 115, 116,
      StreamingTSDF.cusumControl(_, "ts", key, "value",
        target = 500L, slack = 10L, threshold = 2000L),
      Stats.cusumControl(_, "ts", "value", key,
        target = 500L, slack = 10L, threshold = 2000L)
        .withColumn("value", col("value").cast("long")),
      vcols("cusum_hi", "cusum_lo", "alert")),
    FoldCase("thresholdCrossings", "thresholdCrossings", 117, 118,
      StreamingTSDF.thresholdCrossings(_, "ts", key, "value",
        threshold = 500.0),
      Stats.thresholdCrossings(_, "ts", "value", key, threshold = 500.0),
      Seq("user_id", "ts", "prev_ts", "prev_value", "value", "direction")),
    FoldCase("stochastic", "stochastic", 119, 120,
      StreamingTSDF.stochastic(_, "ts", key, "value", window = 5),
      Stats.stochastic(_, "ts", "value", key, window = 5),
      vcols("pct_k", "pct_d")),
    FoldCase("donchian", "donchian", 121, 122,
      StreamingTSDF.donchian(_, "ts", key, "value", window = 5),
      Stats.donchian(_, "ts", "value", key, window = 5),
      vcols("dc_upper", "dc_lower", "dc_mid")),
    // ends pinned so the batch spine (first..last bucket per series) spans
    // the same range the streaming operator emits
    // linear holds a trailing run of null buckets until a value arrives:
    // the stream has emitted nothing after each series' last value
    FoldCase("interpolate", "resample+interpolate", 123, 124,
      StreamingTSDF.interpolate(_, "ts", key, "value", "1 minute", "linear"),
      tsdf(_).resample("1 minute", "floor")
        .interpolate("linear", showInterpolated = true).df,
      vcols("is_ts_interpolated"), pinEnds = true,
      held = _.withColumn("__last", max(when(col("value").isNotNull &&
          !col("is_ts_interpolated"), col("ts"))).over(Window.partitionBy("user_id")))
        .filter(col("ts") <= col("__last"))),
    // attr derived from the value so no-op re-emits are common; the value
    // column doubles as the tie column (unused here — distinct ts — but
    // exercises the tie plumbing through the state round-trip)
    FoldCase("scd2Changelog", "scd2FromLog", 125, 97,
      df => StreamingTSDF.scd2Changelog(withAttr(df), key, "ts",
        Seq("event_type"), "value"),
      df => graft.pipeline.Cdc.scd2FromLog(withAttr(df), "user_id", "ts",
        Seq("event_type"), tieCols = Seq("value"))
        .withColumnRenamed("valid_from", "ts"),
      Seq("user_id", "ts", "event_type"),
      restartTitle = Some("streaming scd2Changelog across checkpoint " +
        "restarts equals the batch change set")))

  for (c <- foldCases) {
    def check(seed: Int, run: (Seq[Obs], Int, DataFrame => DataFrame,
        Boolean) => DataFrame, nChunks: Int, nulls: Boolean = false): Unit = {
      val rnd = new scala.util.Random(seed)
      val rows = randomSeries(rnd, nulls) ++ (if (!c.pinEnds) Nil
        else Seq("u1", "u2", "u3").flatMap(s =>
          Seq((s, at(0), Some(500.0)), (s, at(399), Some(500.0)))))
      if (nulls) assert(rows.exists(_._3.isEmpty), "no null value drawn")
      val spark2 = spark
      import spark2.implicits._
      val streamed = run(rows, nChunks, c.stream, true).select(c.cols.map(col): _*)
      val batch = c.batch(rows.toDF("user_id", "ts", "value"))
      assertDfEquality(streamed,
        (if (nulls) c.held(batch) else batch).select(c.cols.map(col): _*),
        exact = true)
    }
    test(s"streaming ${c.op} over 4 micro-batches equals batch ${c.twin}") {
      check(c.chunkSeed, runChunkedStream, 4)
    }
    test(c.restartTitle.getOrElse(
        s"streaming ${c.op} state round-trips a checkpoint restart (file source)")) {
      check(c.restartSeed, runRestartStream, 3)
    }
    test(s"streaming ${c.op} with null values over 4 micro-batches equals " +
        s"batch ${c.twin}") {
      check(c.chunkSeed, runChunkedStream, 4, nulls = true)
    }
    test(s"streaming ${c.op} with null values round-trips a checkpoint " +
        "restart (file source)") {
      check(c.restartSeed, runRestartStream, 3, nulls = true)
    }
  }

  test("streaming rsi restarted from a checkpoint of the per-field rsi state " +
      "fails on the state schema instead of misreading it") {
    val spark2 = spark
    import spark2.implicits._
    import StreamingResumeSpec._
    val (first, second) = timeSlices(randomSeries(new scala.util.Random(135)), 2)
      .toList match { case a :: b :: Nil => (a, b) }
    val dir = caseDir("graft_resume_")
    val srcDir = s"$dir/src"; val chk = s"$dir/chk"
    def writeChunk(s: Seq[Obs]): Unit =
      s.toDF("user_id", "ts", "value").repartition(1)
        .write.mode("append").parquet(srcDir)
    def run(build: DataFrame => DataFrame): Unit = {
      val q = build(spark.readStream.schema(spark.read.parquet(srcDir).schema)
          .parquet(srcDir))
        .writeStream.format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", chk).outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
    }
    writeChunk(first)
    run(legacyRsi(_, n = 14))
    writeChunk(second)
    val err = intercept[Exception](run(StreamingTSDF.rsi(_, "ts", key, "value", n = 14)))
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")
    assert(msgs.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"), msgs)
  }

  test("streaming disjointIntervals state round-trips a checkpoint restart " +
      "(file source): latest-rev snapshot equals batch makeDisjoint, 1 and 2 metrics") {
    val spark2 = spark
    import spark2.implicits._
    for (metrics <- Seq(Seq("value"), Seq("value", "score"))) {
      val rnd = new scala.util.Random(98 + metrics.size)
      // overlaps, touching neighbors, null metrics and zero-width
      // intervals, fed in random order: the first half before the restart
      val rows = rnd.shuffle(Seq("u1", "u2", "u3").flatMap { u =>
        (0 until 4 + rnd.nextInt(14)).map { _ =>
          val s = rnd.nextInt(300)
          def mv(): Option[Double] =
            if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(50).toDouble)
          (u, at(s), at(s + rnd.nextInt(60)), mv(), mv())
        }
      })
      val cols = Seq("user_id", "start_ts", "end_ts") ++ metrics
      val all = rows.toDF("user_id", "start_ts", "end_ts", "value", "score")
        .select(cols.map(col): _*)
      val dir = caseDir("graft_resume_")
      val srcDir = s"$dir/src"; val outDir = s"$dir/out"; val chk = s"$dir/chk"
      def writeChunk(rs: Seq[(String, Timestamp, Timestamp, Option[Double], Option[Double])]) =
        rs.toDF("user_id", "start_ts", "end_ts", "value", "score")
          .select(cols.map(col): _*).repartition(1)
          .write.mode("append").parquet(srcDir)
      val (first, second) = rows.splitAt(rows.size / 2)
      assert(first.map(_._1).toSet == second.map(_._1).toSet,
        "every series must have rows on both sides of the restart")
      writeChunk(first)
      val sch = spark.read.parquet(srcDir).schema
      def startQ() = StreamingTSDF.disjointIntervals(
        spark.readStream.schema(sch).parquet(srcDir),
        "start_ts", "end_ts", Seq("user_id"), metrics)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", chk)
        .outputMode(OutputMode.Append()).start()
      var q = startQ(); q.processAllAvailable(); q.stop()
      writeChunk(second)
      q = startQ(); q.processAllAvailable(); q.stop()
      val out = Seq("user_id", "start_us", "end_us") ++ metrics
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      val streamed = spark.read.parquet(outDir)
        .withColumn("__mx", max(col("rev")).over(w))
        .filter(col("rev") === col("__mx"))
        .select(out.map(col): _*)
      val batch = graft.intervals.IntervalsDF(all, "start_ts", "end_ts", Seq("user_id"))
        .makeDisjoint().df
        .withColumn("start_us", unix_micros(col("start_ts")))
        .withColumn("end_us", unix_micros(col("end_ts")))
        .select(out.map(col): _*)
      withClue(s"metrics $metrics: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("streaming asofJoin state round-trips a checkpoint restart (file " +
      "source): left rows equal the batch as-of join") {
    val spark2 = spark
    import spark2.implicits._
    val rows = randomSeries(new scala.util.Random(131))
    // one source, two sides: even values are left rows, odd ones quotes
    def left(df: DataFrame) =
      df.filter(col("value") % 2 === 0).select(col("user_id"), col("ts"))
    def right(df: DataFrame) = df.filter(col("value") % 2 =!= 0)
    val streamed = runRestartStream(rows, 3, df => StreamingTSDF.asofJoin(
      left(df), right(df), "ts", key, Seq("value")))
    val all = rows.toDF("user_id", "ts", "value")
    val batch = TSDF(left(all), "ts", key)
      .asofJoin(TSDF(right(all), "ts", key)).df
      .select(col("user_id"), col("ts"), col("right_ts"), col("right_value"))
    assert(streamed.filter(col("right_ts").isNotNull).count() > 0)
    assertDfEquality(streamed, batch, exact = true)
  }

  test("streaming asofJoin with null right values round-trips a checkpoint " +
      "restart: each metric keeps its last non-null value, as batch skipNulls") {
    val spark2 = spark
    import spark2.implicits._
    val rows = randomSeries(new scala.util.Random(136), nulls = true)
    // even lattice ticks are left rows, odd ones quotes (a null has no parity)
    val odd = (unix_micros(col("ts")) / 6000000L) % 2 =!= 0
    def left(df: DataFrame) = df.filter(!odd).select(col("user_id"), col("ts"))
    def right(df: DataFrame) =
      df.filter(odd).withColumn("score", coalesce(col("value"), lit(-1.0)))
    val metrics = Seq("value", "score")
    val streamed = runRestartStream(rows, 3, df => StreamingTSDF.asofJoin(
      left(df), right(df), "ts", key, metrics))
    val all = rows.toDF("user_id", "ts", "value")
    val batch = TSDF(left(all), "ts", key)
      .asofJoin(TSDF(right(all), "ts", key)).df
      .select(Seq("user_id", "ts", "right_ts", "right_value", "right_score")
        .map(col): _*)
    assert(right(all).filter(col("value").isNull).count() > 0)
    assertDfEquality(streamed, batch, exact = true)
  }

  test("streaming transitionDeltas state round-trips a checkpoint restart " +
      "(file source): the summed sink equals the batch transition counts") {
    val spark2 = spark
    import spark2.implicits._
    val rows = randomSeries(new scala.util.Random(132))
    val rolled = runRestartStream(rows, 3, df => StreamingTSDF.transitionDeltas(
        withAttr(df), "ts", key, "event_type"), lateRows = true)
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("n")).alias("n"))
    val batch = graft.pipeline.Analytics.transitionMatrix(
        withAttr(rows.toDF("user_id", "ts", "value")), "ts", key, "event_type")
      .select(col("from_type"), col("to_type"), col("n"))
    assertDfEquality(rolled, batch, exact = true)
  }

  test("streaming patternDfa state round-trips a checkpoint restart (file " +
      "source): per-series sums equal lazy-regex non-overlapping counts") {
    val spark2 = spark
    import spark2.implicits._
    // the DFA of v[vo]*?cp, as in the single-query differential
    val dfa: Map[(Int, String), (Int, Boolean)] = Map(
      (0, "v") -> ((1, false)), (0, "o") -> ((0, false)),
      (0, "c") -> ((0, false)), (0, "p") -> ((0, false)),
      (1, "v") -> ((1, false)), (1, "o") -> ((1, false)),
      (1, "c") -> ((2, false)), (1, "p") -> ((0, false)),
      (2, "v") -> ((1, false)), (2, "o") -> ((0, false)),
      (2, "c") -> ((0, false)), (2, "p") -> ((0, true)))
    val types = Vector("view", "other", "click", "purchase", "view", "click")
    val rnd = new scala.util.Random(133)
    // long traces so every series matches several times
    val rows = Seq("u1", "u2", "u3").flatMap { s =>
      rnd.shuffle((1 until 399).toList).take(150).sorted
        .map(o => (s, at(o), Some(rnd.nextInt(types.size).toDouble)))
    }
    def typed(df: DataFrame) = df.withColumn("event_type",
      element_at(array(types.map(lit): _*), col("value").cast("int") % types.size + 1))
    val rolled = runRestartStream(rows, 3, df => StreamingTSDF.patternDfa(
        typed(df), "ts", key, "event_type",
        Map("view" -> "v", "click" -> "c", "purchase" -> "p"), dfa),
        lateRows = true)
      .groupBy(col("user_id"))
      .agg(sum(col("trace_len")).alias("len"), sum(col("n_matches")).alias("m"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("len"), r.getAs[Long]("m"))).toMap
    val pat = java.util.regex.Pattern.compile("v[vo]*?cp")
    val expected = rows.groupBy(_._1).map { case (u, evs) =>
      val trace = evs.sortBy(_._2.getTime).map(e => types(e._3.get.toInt) match {
        case "view" => 'v'; case "click" => 'c'; case "purchase" => 'p'
        case _ => 'o'
      }).mkString
      val mtr = pat.matcher(trace)
      var n = 0L
      while (mtr.find()) n += 1
      u -> ((trace.length.toLong, n))
    }
    assert(expected.values.forall(_._2 > 0), expected)
    assert(rolled == expected)
  }

  test("stream-stream tolerance join fed in 3 chunk pairs equals batch join") {
    val rnd = new scala.util.Random(94)
    val leftRows = randomSeries(rnd)
    val rightRows = randomSeries(rnd)
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[Obs]
    val memR = MemoryStream[Obs]
    runId += 1
    val name = s"resume_tol_$runId"
    val out = StreamingTSDF.toleranceJoin(
      memL.toDF().toDF("user_id", "ts", "value"),
      memR.toDF().toDF("user_id", "ts", "rv"),
      "ts", Seq("user_id"), Seq("rv"), tolerance = "5 minutes")
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    // chunk BOTH sides on the same time boundaries so the watermark (10 min
    // delay > 5 min tolerance) never evicts a buffered row a later left
    // chunk still needs
    timeSlices(leftRows, 3).zip(timeSlices(rightRows, 3)).foreach {
      case (ls, rs) =>
        memL.addData(ls: _*)
        memR.addData(rs: _*)
        q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table(name)
    val l = leftRows.toDF("user_id", "ts", "value").alias("l")
    val r = rightRows.toDF("user_id", "ts", "rv").alias("r")
    val batch = l.join(r,
      col("l.user_id") === col("r.user_id") &&
        col("r.ts") <= col("l.ts") &&
        col("r.ts") >= col("l.ts") - expr("INTERVAL 5 minutes"), "inner")
      .select(col("l.user_id"), col("l.ts"), col("l.value"),
        col("r.ts").alias("right_ts"), col("r.rv").alias("right_rv"))
    assertDfEquality(streamed, batch, exact = true)
  }

  test("streaming hll changelog max-rolls to the batch register file over " +
      "4 batches, narrow AND wide") {
    for (wide <- Seq(false, true)) {
      val rnd = new scala.util.Random(95)
      val rows = randomSeries(rnd)
      val spark2 = spark
      import spark2.implicits._
      val sink = runChunkedStream(rows, 4, df =>
        StreamingTSDF.hllRegisters(df, "ts", Seq("user_id"),
          col("value").cast("string"), wide = wide))
      val rolled = sink.groupBy(col("user_id"), col("bucket"))
        .agg(max(col("register")).alias("register"))
      val batch = graft.pipeline.Sketch.hllRegisters(
        rows.toDF("user_id", "ts", "value"), Seq("user_id"),
        col("value").cast("string"), wide = wide)
      // register changelog rollup == batch register file, bit-exact
      withClue(s"wide=$wide: ") { assertDfEquality(rolled, batch, exact = true) }
    }
  }

  test("streaming hll changelog with stateTtl max-rolls to the batch " +
      "register file over 4 batches") {
    val rnd = new scala.util.Random(134)
    val rows = randomSeries(rnd)
    val spark2 = spark
    import spark2.implicits._
    // a 10-minute TTL over ~40-minute series: idle series are evicted and
    // restart from empty registers, which the max roll-up absorbs
    val sink = runChunkedStream(rows, 4, df =>
      StreamingTSDF.hllRegisters(df, "ts", Seq("user_id"),
        col("value").cast("string"), stateTtl = Some("10 minutes")))
    val rolled = sink.groupBy(col("user_id"), col("bucket"))
      .agg(max(col("register")).alias("register"))
    val batch = graft.pipeline.Sketch.hllRegisters(
      rows.toDF("user_id", "ts", "value"), Seq("user_id"),
      col("value").cast("string"))
    assertDfEquality(rolled, batch, exact = true)
  }

  test("streaming histogram deltas sum-roll to the batch histogram over 4 batches") {
    val rnd = new scala.util.Random(96)
    val rows = randomSeries(rnd)
    val spark2 = spark
    import spark2.implicits._
    val sink = runChunkedStream(rows, 4, df =>
      StreamingTSDF.histogramDeltas(df, "ts", Seq("user_id"),
        col("value"), 0.0, 1024.0, 64))
    val rolled = sink.groupBy(col("user_id"), col("bin"))
      .agg(sum(col("cnt")).alias("cnt"))
    val batch = graft.pipeline.Sketch.histogram(
      rows.toDF("user_id", "ts", "value"), Seq("user_id"),
      col("value"), 0.0, 1024.0, 64)
    assertDfEquality(rolled, batch, exact = true)
  }

  test("streaming dedup state survives micro-batch boundaries") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    runId += 1
    val name = s"resume_dedup_$runId"
    val mem = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingTSDF.dedupNormalized(
      mem.toDF().toDF("doc_id", "ts", "text"), "ts", "text",
      watermarkDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    // batch 1: first copies
    mem.addData(
      (1L, at(0), "Hello,  World!"),
      (2L, at(10), "something else"))
    q.processAllAvailable()
    // batch 2 (inside the watermark): duplicates of batch-1 docs must STILL
    // be dropped — only state carried across the batch boundary can know
    mem.addData(
      (3L, at(20), "hello world"),       // dup of doc 1 (normalized)
      (4L, at(30), "SOMETHING   ELSE"),  // dup of doc 2 (normalized)
      (5L, at(40), "genuinely new text"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table(name).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 5L), s"got $ids")
  }

  test("streaming dedup state survives a checkpoint restart (file source)") {
    val spark2 = spark
    import spark2.implicits._
    val dir = caseDir("graft_resume_")
    val srcDir = s"$dir/src"; val outDir = s"$dir/out"; val chk = s"$dir/chk"
    def writeChunk(s: Seq[(Long, Timestamp, String)]): Unit =
      s.toDF("doc_id", "ts", "text").repartition(1)
        .write.mode("append").parquet(srcDir)
    writeChunk(Seq(
      (1L, at(0), "Hello,  World!"),
      (2L, at(10), "something else")))
    val sch = spark.read.parquet(srcDir).schema
    def startQ() = StreamingTSDF.dedupNormalized(
      spark.readStream.schema(sch).parquet(srcDir), "ts", "text",
      watermarkDelay = "1 hour")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", chk)
      .outputMode(OutputMode.Append()).start()
    var q = startQ(); q.processAllAvailable(); q.stop()
    // duplicates arrive AFTER a full restart — only checkpointed dedup
    // state can reject them
    writeChunk(Seq(
      (3L, at(20), "hello world"),
      (4L, at(30), "SOMETHING   ELSE"),
      (5L, at(40), "genuinely new text")))
    q = startQ(); q.processAllAvailable(); q.stop()
    val ids = spark.read.parquet(outDir).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 5L), s"got $ids")
  }
}

object StreamingResumeSpec {
  case class LegacyRsiEvent(series: String, tsUs: Long, value: Double)
  /** The per-field state record the rsi fold kept before it ran on the
    * shared recurrence (a non-null value, so no null rule). */
  case class LegacyRsiState(avgGain: Double, avgLoss: Double, lastValue: Double,
      nMoves: Long, lastTsUs: Long)

  /** That earlier rsi fold, on the same keyed projection and state
    * operator, so its checkpoint is what such a query left behind. */
  def legacyRsi(df: DataFrame, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val alpha = 1.0 / n
    df.select(concat_ws("\u001f", col("user_id").cast("string")).alias("series"),
        unix_micros(col("ts")).alias("tsUs"),
        col("value").cast("double").alias("value"))
      .as[LegacyRsiEvent].groupByKey(_.series)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[LegacyRsiEvent], state: GroupState[LegacyRsiState]) =>
          var cur = state.getOption
          val out = rows.toSeq.sortBy(_.tsUs).filterNot(e =>
              cur.exists(e.tsUs < _.lastTsUs)).map { e =>
            val s = cur match {
              case None => LegacyRsiState(0.0, 0.0, e.value, 0L, e.tsUs)
              case Some(c) =>
                val d = e.value - c.lastValue
                val (g, l) = (math.max(d, 0.0), math.max(-d, 0.0))
                if (c.nMoves == 0L) LegacyRsiState(g, l, e.value, 1L, e.tsUs)
                else LegacyRsiState(alpha * g + (1 - alpha) * c.avgGain,
                  alpha * l + (1 - alpha) * c.avgLoss, e.value, c.nMoves + 1L, e.tsUs)
            }
            cur = Some(s)
            (key, e.tsUs, e.value, Option.when(s.nMoves > 0L &&
              s.avgGain + s.avgLoss != 0.0)(100.0 * s.avgGain / (s.avgGain + s.avgLoss)))
          }
          cur.foreach(state.update)
          out.iterator
      }.toDF("user_id", "tsUs", "value", "rsi_value")
      .select(col("user_id"), timestamp_micros(col("tsUs")).alias("ts"),
        col("value"), col("rsi_value"))
  }
}

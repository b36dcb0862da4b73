package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkTestBase
import graft.tsdf.TSDF

/** The streaming operators produce the same answers as their batch
  * counterparts once the watermark finalizes the buckets. */
class StreamingTSDFSpec extends SparkTestBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    ("u1", ts("2024-01-01 00:00:10"), 1.0),
    ("u1", ts("2024-01-01 00:00:40"), 3.0),
    ("u1", ts("2024-01-01 00:01:10"), 5.0),
    ("u2", ts("2024-01-01 00:00:20"), 7.0),
    ("u2", ts("2024-01-01 00:02:05"), 9.0),
    // late-ish event far in the future so the watermark passes everything above
    ("u2", ts("2024-01-01 01:00:00"), 0.0))

  test("streaming resample(mean) matches the batch operator") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Double)]
    val streamDf = mem.toDF().toDF("user_id", "ts", "value")
    val out = StreamingTSDF.resample(streamDf, "ts", Seq("user_id"),
      "1 minute", "mean", watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("resampled")
      .outputMode(OutputMode.Append()).start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("resampled")
      .select(col("user_id"), col("ts"), col("value"))
    val batch = TSDF(rows.toDF("user_id", "ts", "value"), "ts", Seq("user_id"))
      .resample("1 minute", "mean").df
      // append mode only emits buckets sealed by the watermark, which the
      // final 01:00:00 event has pushed past every earlier bucket
      .filter(col("ts") < ts("2024-01-01 01:00:00"))
    assertDfEquality(streamed, batch)
  }

  test("streaming grouped stats emit watermark-finalized buckets") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingTSDF.groupedStats(mem.toDF().toDF("user_id", "ts", "value"),
      "ts", Seq("user_id"), Seq("value"), "1 minute", watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("gstats")
      .outputMode(OutputMode.Append()).start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("gstats")
    // u1 00:00, u1 00:01, u2 00:00, u2 00:02 sealed; the 01:00 bucket stays open
    assert(got.count() == 4)
    val u1 = got.filter(col("user_id") === "u1" && col("ts") === ts("2024-01-01 00:00:00"))
      .select("mean_value", "count_value", "sum_value").collect().head
    assert(u1.getDouble(0) == 2.0 && u1.getLong(1) == 2L && u1.getDouble(2) == 4.0)
  }

  test("streaming as-of join matches the batch operator across micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val leftRows = Seq(
      ("u1", ts("2024-01-01 00:00:15"), 100L),
      ("u1", ts("2024-01-01 00:00:45"), 101L),
      ("u2", ts("2024-01-01 00:00:05"), 200L), // before any quote → nulls
      ("u2", ts("2024-01-01 00:01:30"), 201L))
    val rightRows = Seq(
      ("u1", ts("2024-01-01 00:00:10"), 1.5),
      ("u1", ts("2024-01-01 00:00:30"), 2.5),
      ("u2", ts("2024-01-01 00:01:00"), 3.5))
    val memL = MemoryStream[(String, Timestamp, Long)]
    val memR = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingTSDF.asofJoin(
      memL.toDF().toDF("user_id", "ts", "event_id").drop("event_id"),
      memR.toDF().toDF("user_id", "ts", "quote"),
      "ts", Seq("user_id"), Seq("quote"))
    // batch 1 is order-sensitive (left :15 must see right :10, not :30), so
    // its data goes in BEFORE start() — with the default trigger, addData
    // racing the running query can split the two sources into separate
    // micro-batches, which legitimately changes the append-mode answer
    memR.addData(rightRows.take(2): _*)
    memL.addData(leftRows.take(2): _*)
    val q = out.writeStream.format("memory").queryName("asof")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    memR.addData(rightRows.drop(2): _*)
    memL.addData(leftRows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("asof")
    val batch = TSDF(leftRows.toDF("user_id", "ts", "event_id").drop("event_id"),
      "ts", Seq("user_id"))
      .asofJoin(TSDF(rightRows.toDF("user_id", "ts", "quote"), "ts", Seq("user_id")))
      .df.select(col("user_id"), col("ts"), col("right_ts"), col("right_quote"))
    assertDfEquality(streamed, batch)
  }

  test("streaming as-of join keeps space-containing multi-column series distinct") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    // ("x y", "z") and ("x", "y z") collapse to the same key under a
    // space-joined series key; the unit-separator key must keep them apart,
    // and the output must carry the original typed series columns.
    val leftRows = Seq(
      ("x y", "z", ts("2024-01-01 00:00:20")),
      ("x", "y z", ts("2024-01-01 00:00:20")))
    val rightRows = Seq(("x", "y z", ts("2024-01-01 00:00:10"), 9.9))
    val memL = MemoryStream[(String, String, Timestamp)]
    val memR = MemoryStream[(String, String, Timestamp, Double)]
    val out = StreamingTSDF.asofJoin(
      memL.toDF().toDF("a", "b", "ts"),
      memR.toDF().toDF("a", "b", "ts", "quote"),
      "ts", Seq("a", "b"), Seq("quote"))
    val q = out.writeStream.format("memory").queryName("asof_collide")
      .outputMode(OutputMode.Append()).start()
    memR.addData(rightRows: _*)
    memL.addData(leftRows: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_collide")
    assert(got.columns.toSeq == Seq("a", "b", "ts", "right_ts", "right_quote"))
    // the ("x y", "z") series has no right rows -> must stay null
    val collided = got.filter(col("a") === "x y" && col("b") === "z").collect()
    assert(collided.length == 1 && collided.head.isNullAt(4))
    val real = got.filter(col("a") === "x" && col("b") === "y z").collect()
    assert(real.length == 1 && real.head.getDouble(4) == 9.9)
  }

  test("streaming resample and groupedStats reject empty metric lists") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    val df = mem.toDF().toDF("user_id", "ts")
    intercept[IllegalArgumentException] {
      StreamingTSDF.resample(df, "ts", Seq("user_id"), "1 minute", "mean")
    }
    intercept[IllegalArgumentException] {
      StreamingTSDF.groupedStats(df, "ts", Seq("user_id"), Seq.empty, "1 minute")
    }
  }

  test("streaming ema applies the exact recursion across micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingTSDF.ema(mem.toDF().toDF("user_id", "ts", "value"),
      "ts", Seq("user_id"), "value", alpha = 0.5)
    val q = out.writeStream.format("memory").queryName("ema_stream")
      .outputMode(OutputMode.Append()).start()
    mem.addData(("u1", ts("2024-01-01 00:00:00"), 4.0)); q.processAllAvailable()
    mem.addData(
      ("u1", ts("2024-01-01 00:00:10"), 8.0),
      ("u1", ts("2024-01-01 00:00:20"), 2.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ema_stream").orderBy("ts").collect()
      .map(r => r.getAs[Double]("ema_value")).toSeq
    // 4; 0.5*8 + 0.5*4 = 6; 0.5*2 + 0.5*6 = 4
    assert(got == Seq(4.0, 6.0, 4.0))
  }

  test("streaming vwap matches the hand-computed bucket value") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Double, Double)]
    val out = StreamingTSDF.vwap(mem.toDF().toDF("sym", "ts", "price", "vol"),
      "ts", Seq("sym"), "price", "vol", "1 minute", watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("vwap_stream")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      ("A", ts("2024-01-01 00:00:10"), 10.0, 2.0),
      ("A", ts("2024-01-01 00:00:40"), 20.0, 6.0),
      // far-future row seals the first bucket
      ("A", ts("2024-01-01 01:00:00"), 1.0, 1.0))
    q.processAllAvailable()
    q.stop()
    val r = spark.table("vwap_stream")
      .filter(col("ts") === ts("2024-01-01 00:00:00")).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Double]("vwap") == (10.0 * 2 + 20.0 * 6) / 8.0)
    assert(r.head.getAs[Double]("max_price") == 20.0)
    assert(r.head.getAs[Double]("sum_vol") == 8.0)
  }

  test("stream-static near-dup flags incoming docs that match the corpus") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river"),
      (101L, "an entirely different reference document about query engines"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingDedup.nearDupAgainstCorpus(
      mem.toDF().toDF("doc_id", "ts", "text"), corpus,
      "text", "doc_id", "ts", shingleWidth = 2, threshold = 0.5)
    val q = out.writeStream.format("memory").queryName("stream_neardup")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      (1L, ts("2024-01-01 00:00:00"),
        "the quick brown fox jumps over the lazy dog near the river today"),
      (2L, ts("2024-01-01 00:00:10"), "totally novel content with no match at all"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stream_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got == Seq((1L, 100L)), got.mkString(","))
  }

  test("streaming dedup keeps the first copy of a normalized duplicate") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingTSDF.dedupNormalized(mem.toDF().toDF("doc_id", "ts", "text"),
      "ts", "text", watermarkDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      (1L, ts("2024-01-01 00:00:00"), "Hello,  World!"),
      (2L, ts("2024-01-01 00:00:10"), "hello world"), // same fingerprint
      (3L, ts("2024-01-01 00:00:20"), "something else"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L))
  }

  test("streaming interpolation fills missing buckets (ffill and linear)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val obs = Seq(
      ("u1", ts("2024-01-01 00:00:00"), 1.0),
      ("u1", ts("2024-01-01 03:00:00"), 4.0), // 2 missing buckets
      ("u2", ts("2024-01-01 00:30:00"), 7.0)) // single obs: no fill
    def run(method: String): Seq[(String, Timestamp, Double, Boolean)] = {
      val mem = MemoryStream[(String, Timestamp, Double)]
      val out = StreamingTSDF.interpolate(mem.toDF().toDF("user_id", "ts", "value"),
        "ts", Seq("user_id"), "value", "1 hour", method)
      val q = out.writeStream.format("memory").queryName(s"interp_$method")
        .outputMode(OutputMode.Append()).start()
      // split across micro-batches to exercise cross-batch state
      mem.addData(obs.take(1): _*); q.processAllAvailable()
      mem.addData(obs.drop(1): _*); q.processAllAvailable()
      q.stop()
      spark.table(s"interp_$method").collect().map(r =>
        (r.getString(0), r.getTimestamp(1), r.getDouble(2), r.getBoolean(3)))
        .sortBy(t => (t._1, t._2.getTime)).toSeq
    }
    assert(run("ffill") == Seq(
      ("u1", ts("2024-01-01 00:00:00"), 1.0, false),
      ("u1", ts("2024-01-01 01:00:00"), 1.0, true),
      ("u1", ts("2024-01-01 02:00:00"), 1.0, true),
      ("u1", ts("2024-01-01 03:00:00"), 4.0, false),
      ("u2", ts("2024-01-01 00:00:00"), 7.0, false)))
    assert(run("linear") == Seq(
      ("u1", ts("2024-01-01 00:00:00"), 1.0, false),
      ("u1", ts("2024-01-01 01:00:00"), 2.0, true),
      ("u1", ts("2024-01-01 02:00:00"), 3.0, true),
      ("u1", ts("2024-01-01 03:00:00"), 4.0, false),
      ("u2", ts("2024-01-01 00:00:00"), 7.0, false)))
  }

  test("run-tracker TTL flushes the open run once the watermark passes it") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingTSDF.stateIntervalRuns(mem.toDF().toDF("user_id", "ts", "metric"),
      "ts", Seq("user_id"), Seq("metric"), stateTtl = Some("1 minute"))
    val q = out.writeStream.format("memory").queryName("runs_ttl")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      ("u1", ts("2024-01-01 00:00:00"), 1.0),
      ("u1", ts("2024-01-01 00:00:20"), 1.0))
    q.processAllAvailable()
    assert(spark.table("runs_ttl").count() == 0) // run still open
    // another series far in the future pushes the watermark past u1's TTL;
    // u1's open run must flush via the event-time timeout, not a state change
    mem.addData(("u2", ts("2024-01-01 01:00:00"), 5.0))
    q.processAllAvailable()
    q.stop()
    val runs = spark.table("runs_ttl").collect()
    assert(runs.length == 1)
    assert(runs.head.getAs[String]("user_id") == "u1")
    assert(runs.head.getAs[Timestamp]("end_ts") == ts("2024-01-01 00:00:20"))
  }

  test("as-of join TTL evicts idle series state") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[(String, Timestamp, Long)]
    val memR = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingTSDF.asofJoin(
      memL.toDF().toDF("user_id", "ts", "event_id").drop("event_id"),
      memR.toDF().toDF("user_id", "ts", "quote"),
      "ts", Seq("user_id"), Seq("quote"), stateTtl = Some("1 minute"))
    val q = out.writeStream.format("memory").queryName("asof_ttl")
      .outputMode(OutputMode.Append()).start()
    // u1's quote, then both streams jump far past the TTL (watermark = min
    // of the two inputs, so both must advance)
    memR.addData(("u1", ts("2024-01-01 00:00:00"), 1.5))
    memL.addData(("zz", ts("2024-01-01 02:00:00"), 1L))
    q.processAllAvailable()
    memR.addData(("zz", ts("2024-01-01 02:00:00"), 0.0))
    memL.addData(("zz", ts("2024-01-01 02:00:01"), 2L))
    q.processAllAvailable()
    // u1's state is evicted: a fresh left row gets a null right side
    memL.addData(("u1", ts("2024-01-01 02:30:00"), 3L))
    memR.addData(("zz", ts("2024-01-01 02:30:00"), 0.0))
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("asof_ttl")
      .filter(col("user_id") === "u1").collect()
    assert(u1.length == 1)
    assert(u1.head.isNullAt(3), "evicted series must join to null")
  }

  test("the keyed-state driver is the only (flat)mapGroupsWithState in " +
      "src/main/scala") {
    val call = "(?i)mapGroupsWithState".r
    val owner = "\\bdef (\\w+)".r
    def scalaFiles(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq
      .flatMap(f => if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val files = scalaFiles(new java.io.File("src/main/scala"))
    assert(files.length >= 50)
    val uses = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toIndexedSeq finally src.close()
      lines.indices.filter(i => call.findFirstIn(lines(i)).isDefined).map { i =>
        val in = (i to 0 by -1).iterator
          .flatMap(j => owner.findFirstMatchIn(lines(j))).nextOption()
        (s"${f.getName}:${i + 1}", in.map(_.group(1)).getOrElse(""))
      }
    }
    assert(uses.map(_._2) == Seq("keyedState"),
      s"stateful group calls outside StreamingTSDF.keyedState: $uses")
  }

  test("ema stateTtl: a series idle past the TTL restarts from no state; " +
      "without a TTL it continues") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    def run(ttl: Option[String]): Double = {
      val mem = MemoryStream[(String, Timestamp, Double)]
      val name = s"ema_ttl_${ttl.isDefined}"
      val q = StreamingTSDF.ema(mem.toDF().toDF("user_id", "ts", "v"),
          "ts", Seq("user_id"), "v", alpha = 0.3, stateTtl = ttl)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      mem.addData(("u1", ts("2024-01-01 00:00:00"), 10.0))
      q.processAllAvailable()
      // another series far ahead moves the watermark past u1's TTL
      mem.addData(("zz", ts("2024-01-01 02:00:00"), 0.0))
      q.processAllAvailable()
      mem.addData(("u1", ts("2024-01-01 02:30:00"), 20.0))
      q.processAllAvailable()
      q.stop()
      spark.table(name).filter(col("user_id") === "u1" &&
        col("ts") === ts("2024-01-01 02:30:00")).select("ema_v").head().getDouble(0)
    }
    assert(run(Some("1 minute")) == 20.0, "an evicted series restarts at its value")
    assert(math.abs(run(None) - (0.3 * 20.0 + 0.7 * 10.0)) < 1e-9,
      "without a TTL the recursion continues")
  }

  test("gaps and ema drop cross-batch late rows instead of rewinding state") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memG = MemoryStream[(String, Timestamp, Double)]
    val gapsOut = StreamingTSDF.gaps(memG.toDF().toDF("user_id", "ts", "v"),
      "ts", Seq("user_id"), minGapSeconds = 240L)
    val qg = gapsOut.writeStream.format("memory").queryName("late_gaps")
      .outputMode(OutputMode.Append()).start()
    memG.addData(
      ("u1", ts("2024-01-01 00:00:10"), 1.0),
      ("u1", ts("2024-01-01 00:10:00"), 2.0))
    qg.processAllAvailable()
    // 00:05:00 arrives AFTER state already advanced to 00:10:00: it must be
    // dropped — folding it in would rewind `last` and make the next row
    // report a 00:05:00→00:20:00 gap that on-time history already bounds
    memG.addData(
      ("u1", ts("2024-01-01 00:05:00"), 99.0),
      ("u1", ts("2024-01-01 00:20:00"), 3.0))
    qg.processAllAvailable()
    qg.stop()
    val gapRows = spark.table("late_gaps")
      .select("gap_start", "gap_end").collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1))).toSet
    assert(gapRows == Set(
      (ts("2024-01-01 00:00:10"), ts("2024-01-01 00:10:00")),
      (ts("2024-01-01 00:10:00"), ts("2024-01-01 00:20:00"))), gapRows)

    val memE = MemoryStream[(String, Timestamp, Double)]
    val emaOut = StreamingTSDF.ema(memE.toDF().toDF("user_id", "ts", "v"),
      "ts", Seq("user_id"), "v", alpha = 0.5)
    val qe = emaOut.writeStream.format("memory").queryName("late_ema")
      .outputMode(OutputMode.Append()).start()
    memE.addData(("u1", ts("2024-01-01 00:00:10"), 1.0),
      ("u1", ts("2024-01-01 00:10:00"), 2.0))
    qe.processAllAvailable()
    memE.addData(("u1", ts("2024-01-01 00:05:00"), 99.0),
      ("u1", ts("2024-01-01 00:20:00"), 3.0))
    qe.processAllAvailable()
    qe.stop()
    val emaRows = spark.table("late_ema")
      .select("ts", s"ema_v").collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1))).toMap
    // the late 00:05:00 row emits nothing and leaves state untouched:
    // ema(00:20) = 0.5*3 + 0.5*ema(00:10) with ema(00:10) = 0.5*2 + 0.5*1
    assert(!emaRows.contains(ts("2024-01-01 00:05:00")), emaRows)
    assert(emaRows(ts("2024-01-01 00:20:00")) == 0.5 * 3.0 + 0.5 * 1.5, emaRows)
  }

  test("stateful run extraction closes intervals on state change") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingTSDF.stateIntervalRuns(mem.toDF().toDF("user_id", "ts", "metric"),
      "ts", Seq("user_id"), Seq("metric"))
    val q = out.writeStream.format("memory").queryName("runs")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      ("u1", ts("2024-01-01 00:00:00"), 1.0),
      ("u1", ts("2024-01-01 00:00:10"), 1.0),
      ("u1", ts("2024-01-01 00:00:20"), 1.0))
    q.processAllAvailable()
    // run still open — nothing emitted yet
    assert(spark.table("runs").count() == 0)
    mem.addData(("u1", ts("2024-01-01 00:00:30"), 2.0))
    q.processAllAvailable()
    q.stop()
    val runs = spark.table("runs").collect()
    assert(runs.length == 1)
    assert(runs.head.getAs[Timestamp]("start_ts") == ts("2024-01-01 00:00:00"))
    assert(runs.head.getAs[Timestamp]("end_ts") == ts("2024-01-01 00:00:20"))
  }

  test("stateful run extraction takes a null metric as a state of its own") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Option[Double])]
    val out = StreamingTSDF.stateIntervalRuns(mem.toDF().toDF("user_id", "ts", "metric"),
      "ts", Seq("user_id"), Seq("metric"))
    val q = out.writeStream.format("memory").queryName("runs_null")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      ("u1", ts("2024-01-01 00:00:00"), Some(1.0)),
      ("u1", ts("2024-01-01 00:00:10"), None),
      ("u1", ts("2024-01-01 00:00:20"), None),
      ("u1", ts("2024-01-01 00:00:30"), Some(1.0)))
    q.processAllAvailable()
    q.stop()
    val runs = spark.table("runs_null").collect()
      .map(r => (r.getAs[Timestamp]("start_ts"), r.getAs[Timestamp]("end_ts")))
    assert(runs.toSeq == Seq((ts("2024-01-01 00:00:10"), ts("2024-01-01 00:00:20"))))
  }
}

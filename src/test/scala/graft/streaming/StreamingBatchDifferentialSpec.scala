package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.IntegerType

import graft.SparkTestBase
import graft.tsdf.TSDF

/** Randomized differential properties: each streaming operator must equal
  * its batch twin on arbitrary series, not just the hand-built examples.
  *
  * Values are integer-valued doubles so every sum is exact in IEEE doubles
  * regardless of partial-aggregation order — equality is bit-exact
  * (`assertDfEquality(..., exact = true)`), with no tolerance to hide a
  * real defect behind. Timestamps are distinct within a
  * series, matching the operators' documented granularity contracts.
  */
class StreamingBatchDifferentialSpec extends SparkTestBase {

  private val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime // ms
  private def at(minuteTenths: Int) = new Timestamp(base + minuteTenths * 6000L)
  private val sentinel = new Timestamp(base + 86400_000L) // +1 day seals all

  /** Random (series, ts, value) rows: per series, distinct times on a
    * 6-second lattice over ~40 minutes, integer values. */
  private def randomSeries(rnd: scala.util.Random, pinEnds: Boolean): Seq[(String, Timestamp, Double)] =
    Seq("u1", "u2", "u3").flatMap { s =>
      val nTicks = 400
      val count = 2 + rnd.nextInt(12)
      val offsets = rnd.shuffle((1 until nTicks - 1).toList).take(count)
      val all = if (pinEnds) 0 :: nTicks - 1 :: offsets else offsets
      all.distinct.sorted.map(o => (s, at(o), rnd.nextInt(1000).toDouble))
    }

  private var runId = 0
  private def runStream(rows: Seq[(String, Timestamp, Double)],
      build: DataFrame => DataFrame): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    runId += 1
    val name = s"diff_sink_$runId"
    val mem = MemoryStream[(String, Timestamp, Double)]
    val out = build(mem.toDF().toDF("user_id", "ts", "value"))
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("property: disjointIntervals latest-rev snapshot equals batch " +
      "makeDisjoint on random intervals across random-ORDER micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(97)
    (0 until 3).foreach { trial =>
      // overlaps, exact duplicates, touching neighbors, null metrics and
      // zero-width intervals — in ARBITRARY arrival order (the maintainer
      // is order-independent, unlike the late-drop delta twins)
      val rows = Seq("u1", "u2", "u3").flatMap { u =>
        (0 until 2 + rnd.nextInt(15)).map { _ =>
          val s = rnd.nextInt(300)
          val len = rnd.nextInt(60)
          val v: Option[Double] =
            if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(50).toDouble)
          (u, new Timestamp(base + s * 6000L),
            new Timestamp(base + (s + len) * 6000L), v)
        }
      }
      val shuffled = rnd.shuffle(rows)
      val mem = MemoryStream[(String, Timestamp, Timestamp, Option[Double])]
      val out = StreamingTSDF.disjointIntervals(
        mem.toDF().toDF("user_id", "start_ts", "end_ts", "value"),
        "start_ts", "end_ts", Seq("user_id"), "value")
      val name = s"iv_diff_sink_$trial"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      var rest = shuffled
      while (rest.nonEmpty) {
        val take = 1 + rnd.nextInt(rest.length)
        mem.addData(rest.take(take): _*)
        q.processAllAvailable()
        rest = rest.drop(take)
      }
      q.stop()
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      val streamed = spark.table(name)
        .withColumn("__mx", max(col("rev")).over(w))
        .filter(col("rev") === col("__mx"))
        .select(col("user_id"), col("start_us"), col("end_us"), col("value"))
      val batch = graft.intervals.IntervalsDF(
        rows.map { case (u, s, e, v) =>
          (u, s, e, v.map(Double.box).orNull)
        }.toDF("user_id", "start_ts", "end_ts", "value"),
        "start_ts", "end_ts", Seq("user_id"))
        .makeDisjoint().df
        .select(col("user_id"), unix_micros(col("start_ts")).alias("start_us"),
          unix_micros(col("end_ts")).alias("end_us"), col("value"))
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: MULTI-METRIC disjointIntervals latest-rev snapshot " +
      "equals batch makeDisjoint with per-metric winners") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(131)
    (0 until 3).foreach { trial =>
      // two metrics with INDEPENDENT null patterns: segments where metric
      // winners come from different covering intervals are the cases the
      // one-metric kernel never exercised
      val rows = Seq("u1", "u2").flatMap { u =>
        (0 until 2 + rnd.nextInt(12)).map { _ =>
          val s = rnd.nextInt(300)
          val len = rnd.nextInt(60)
          def mv(): Option[Double] =
            if (rnd.nextInt(3) == 0) None else Some(rnd.nextInt(50).toDouble)
          (u, new Timestamp(base + s * 6000L),
            new Timestamp(base + (s + len) * 6000L), mv(), mv())
        }
      }
      val mem =
        MemoryStream[(String, Timestamp, Timestamp, Option[Double], Option[Double])]
      val out = StreamingTSDF.disjointIntervals(
        mem.toDF().toDF("user_id", "start_ts", "end_ts", "value", "score"),
        "start_ts", "end_ts", Seq("user_id"), Seq("value", "score"))
      val name = s"iv2_diff_sink_$trial"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      var rest = rnd.shuffle(rows)
      while (rest.nonEmpty) {
        val take = 1 + rnd.nextInt(rest.length)
        mem.addData(rest.take(take): _*)
        q.processAllAvailable()
        rest = rest.drop(take)
      }
      q.stop()
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      val streamed = spark.table(name)
        .withColumn("__mx", max(col("rev")).over(w))
        .filter(col("rev") === col("__mx"))
        .select(col("user_id"), col("start_us"), col("end_us"),
          col("value"), col("score"))
      val batch = graft.intervals.IntervalsDF(
        rows.map { case (u, s, e, v, sc) =>
          (u, s, e, v.map(Double.box).orNull, sc.map(Double.box).orNull)
        }.toDF("user_id", "start_ts", "end_ts", "value", "score"),
        "start_ts", "end_ts", Seq("user_id"))
        .makeDisjoint().df
        .select(col("user_id"), unix_micros(col("start_ts")).alias("start_us"),
          unix_micros(col("end_ts")).alias("end_us"),
          col("value"), col("score"))
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming kmvMins changelog folds to the exact batch " +
      "KMV sketch across micro-batches (with evictions), narrow AND wide") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (wide <- Seq(false, true)) {
      val rnd = new scala.util.Random(47)
      val mem = MemoryStream[(String, String)]
      // k = 16 against ~500 distinct items per series: the running set
      // churns hard, so the changelog carries plenty of later-evicted
      // hashes — the fold must trim them to the exact batch k-min
      val out = StreamingTSDF.kmvMins(mem.toDF().toDF("src", "item"),
        Seq("src"), col("item"), k = 16, wide = wide)
      val sinkName = s"kmv_diff_sink_$wide"
      val q = out.writeStream.format("memory").queryName(sinkName)
        .outputMode(OutputMode.Append()).start()
      val all = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      for (_ <- 0 until 5) {
        val batch = (0 until 300).map(_ =>
          ("s" + rnd.nextInt(3), "it" + rnd.nextInt(500)))
        all ++= batch
        mem.addData(batch: _*)
        q.processAllAvailable()
      }
      q.stop()
      val space = if (wide) graft.pipeline.Hashing.PW
        else graft.pipeline.Hashing.P
      val folded = graft.pipeline.Sketch.kmvFromHashes(
        spark.table(sinkName), Seq("src"), col("h"), 16, space = space)
      val batchSketch = graft.pipeline.Sketch.kmvDistinct(
        all.toSeq.toDF("src", "item"), Seq("src"), col("item"), 16,
        wide = wide)
      withClue(s"wide=$wide: ") { assertDfEquality(folded, batchSketch, exact = true) }
    }
  }

  test("property: streaming cmsDeltas sum-roll to the exact batch CMS grid " +
      "across micro-batches and input partitions, narrow AND wide") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (wide <- Seq(false, true)) {
      val rnd = new scala.util.Random(53)
      val mem = MemoryStream[(String, String)]
      // width small enough that cells collide hard, so the per-partition
      // pre-aggregation must merge correctly
      val out = StreamingTSDF.cmsDeltas(mem.toDF().toDF("src", "item"),
        Seq("src"), col("item"), width = 64, depth = 3, wide = wide)
      val sinkName = s"cms_diff_sink_$wide"
      val q = out.writeStream.format("memory").queryName(sinkName)
        .outputMode(OutputMode.Append()).start()
      val all = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      for (_ <- 0 until 5) {
        val batch = (0 until 300).map(_ =>
          ("s" + rnd.nextInt(3), "it" + rnd.nextInt(200)))
        all ++= batch
        mem.addData(batch: _*)
        q.processAllAvailable()
      }
      q.stop()
      val rolled = spark.table(sinkName)
        .groupBy(col("src"), col("row"), col("bucket"))
        .agg(sum(col("cnt")).alias("cnt"))
      for (srcv <- Seq("s0", "s1", "s2")) {
        val subset = all.toSeq.filter(_._1 == srcv).map(_._2).toDF("item")
        val batchGrid = graft.pipeline.Sketch.cmsBuild(
          subset, col("item"), width = 64, depth = 3, wide = wide)
        withClue(s"wide=$wide src=$srcv: ") {
          assertDfEquality(
            rolled.filter(col("src") === srcv).drop("src"), batchGrid, exact = true)
        }
      }
    }
  }

  test("property: streaming bloomBits changelog OR-rolls to the exact " +
      "batch Bloom filter across micro-batches, narrow AND wide") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (wide <- Seq(false, true)) {
      val rnd = new scala.util.Random(59)
      val mem = MemoryStream[(String, String)]
      // 100 distinct items over 5×300 rows: every batch re-sends mostly
      // already-set bits, so the same (word, bit) is emitted by MANY
      // (partition, batch) pairs — bit_or folds them idempotently (a sum
      // fold would require the old emit-once state discipline)
      val out = StreamingTSDF.bloomBits(mem.toDF().toDF("src", "item"),
        Seq("src"), col("item"), mBits = 31 * 40, depth = 3, wide = wide)
      val sinkName = s"bloom_diff_sink_$wide"
      val q = out.writeStream.format("memory").queryName(sinkName)
        .outputMode(OutputMode.Append()).start()
      val all = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      for (_ <- 0 until 5) {
        val batch = (0 until 300).map(_ =>
          ("s" + rnd.nextInt(3), "it" + rnd.nextInt(100)))
        all ++= batch
        mem.addData(batch: _*)
        q.processAllAvailable()
      }
      q.stop()
      val rolled = spark.table(sinkName)
        .groupBy(col("src"), col("word"))
        .agg(expr("bit_or(mask)").alias("word_mask"))
      for (srcv <- Seq("s0", "s1", "s2")) {
        val subset = all.toSeq.filter(_._1 == srcv).map(_._2).toDF("item")
        val batchFilter = graft.pipeline.Sketch.bloomBuild(
          subset, col("item"), mBits = 31 * 40, depth = 3, wide = wide)
        withClue(s"wide=$wide src=$srcv: ") {
          assertDfEquality(
            rolled.filter(col("src") === srcv).drop("src"), batchFilter, exact = true)
        }
      }
    }
  }

  test("property: streaming transitionDeltas fold to the exact batch " +
      "transition counts across micro-batches (boundary steps owned)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val types = Vector("a", "b", "c", "d")
    val rnd = new scala.util.Random(83)
    // globally time-ordered rows (the operator's in-order arrival
    // contract) split into contiguous micro-batches at arbitrary points —
    // every split lands some (from, to) step across a batch boundary
    val rows = (0 until 900).map { i =>
      ("u" + rnd.nextInt(4), new Timestamp(base + i * 1000L), i.toLong,
        types(rnd.nextInt(types.size)))
    }
    val mem = MemoryStream[(String, Timestamp, Long, String)]
    val out = StreamingTSDF.transitionDeltas(
      mem.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      "ts", Seq("user_id"), "event_type", tieCol = "event_id")
    val q = out.writeStream.format("memory").queryName("trans_diff_sink")
      .outputMode(OutputMode.Append()).start()
    var off = 0
    while (off < rows.length) {
      val take = 1 + rnd.nextInt(300)
      mem.addData(rows.slice(off, off + take): _*)
      q.processAllAvailable()
      off += take
    }
    q.stop()
    val rolled = spark.table("trans_diff_sink")
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("n")).alias("n"))
    val batch = graft.pipeline.Analytics.transitionMatrix(
      rows.toDF("user_id", "ts", "event_id", "event_type"),
      "ts", Seq("user_id"), "event_type", tieCols = Seq("event_id"))
      .select(col("from_type"), col("to_type"), col("n"))
    assertDfEquality(rolled, batch, exact = true)
  }

  test("property: streaming kmDeltas fold to the exact batch grid and " +
      "the identical Kaplan-Meier curve across micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(107)
    val mem = MemoryStream[(String, Long, Boolean)]
    val out = StreamingTSDF.kmDeltas(mem.toDF().toDF("g", "dur", "ev"),
      Seq("g"), col("dur"), col("ev"))
    val q = out.writeStream.format("memory").queryName("km_diff_sink")
      .outputMode(OutputMode.Append()).start()
    val all = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Boolean)]
    for (_ <- 0 until 4) {
      val batch = (0 until 150).map(_ =>
        ("g" + rnd.nextInt(3), rnd.nextInt(12).toLong, rnd.nextBoolean()))
      all ++= batch
      mem.addData(batch: _*)
      q.processAllAvailable()
    }
    q.stop()
    val grid = spark.table("km_diff_sink").groupBy(col("g"), col("t"))
      .agg(sum(col("d")).alias("d"), sum(col("obs")).alias("obs"))
    val streamed = graft.pipeline.Analytics.kaplanMeierFromGrid(grid, Seq("g"))
    val batchKm = graft.pipeline.Analytics.kaplanMeier(
      all.toSeq.toDF("g", "dur", "ev"), Seq("g"), col("dur"), col("ev"))
    assertDfEquality(streamed, batchKm, exact = true)
  }

  test("property: streaming noveltyOwnership scores equal batch " +
      "winnowNovelty under id-ordered multi-batch ingestion") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(223)
    // shared sentence pool so fingerprints genuinely collide across docs:
    // re-posts, partial copies, and fresh content all occur
    val pool = Vector.tabulate(25)(i =>
      (0 until 8).map(_ => s"w${rnd.nextInt(40)}").mkString(" ") + s" s$i")
    val docs = (0 until 90).map { id =>
      val n = 1 + rnd.nextInt(4)
      (id.toLong,
        (0 until n).map(_ => pool(rnd.nextInt(pool.size))).mkString(". "))
    }
    val mem = MemoryStream[(Long, String)]
    val out = StreamingTSDF.noveltyOwnership(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id", k = 5, w = 4)
    val q = out.writeStream.format("memory").queryName("novelty_diff_sink")
      .outputMode(OutputMode.Append()).start()
    // id-ordered batches (the documented contract), shuffled WITHIN a batch
    var rest = docs
    while (rest.nonEmpty) {
      val (batch, tail) = rest.splitAt(1 + rnd.nextInt(30))
      rest = tail
      mem.addData(rnd.shuffle(batch): _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = StreamingTSDF.noveltyScores(
      spark.table("novelty_diff_sink"), "doc_id")
    val batchNov = graft.pipeline.TextAnalysis.winnowNovelty(
      docs.toDF("doc_id", "text"), "text", "doc_id", k = 5, w = 4)
    assertDfEquality(streamed, batchNov, exact = true)
  }

  test("noveltyOwnership OUT-OF-ORDER ingestion: streamed scores equal the " +
      "first-ARRIVAL reference, and exactly the predicted doc set flips " +
      "non-novel vs the batch min-id answer") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(229)
    val pool = Vector.tabulate(20)(i =>
      (0 until 8).map(_ => s"w${rnd.nextInt(30)}").mkString(" ") + s" s$i")
    val docs = (0 until 60).map { id =>
      (id.toLong, (0 until 1 + rnd.nextInt(3))
        .map(_ => pool(rnd.nextInt(pool.size))).mkString(". "))
    }
    // deliberately id-DESCENDING batch schedule: later ids arrive first
    val schedule = Seq(docs.slice(40, 60), docs.slice(20, 40), docs.slice(0, 20))
    val mem = MemoryStream[(Long, String)]
    val out = StreamingTSDF.noveltyOwnership(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id", k = 5, w = 4)
    val q = out.writeStream.format("memory").queryName("novelty_ooo_sink")
      .outputMode(OutputMode.Append()).start()
    schedule.foreach { b => mem.addData(rnd.shuffle(b): _*); q.processAllAvailable() }
    q.stop()
    // driver reference: doc -> distinct fps from the batch fingerprint op
    val docFps = graft.pipeline.TextAnalysis.winnowFingerprints(
        docs.toDF("doc_id", "text"), "text", "doc_id", k = 5, w = 4)
      .select(col("doc_id"), col("fp")).distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val arrivalRound = schedule.zipWithIndex
      .flatMap { case (b, i) => b.map(d => d._1 -> i) }.toMap
    def ownerBy(order: Long => (Int, Long)): Map[Long, Long] = docFps.toSeq
      .flatMap { case (d, fps) => fps.map(f => f -> d) }
      .groupBy(_._1).map { case (f, v) => f -> v.map(_._2).minBy(order) }
    val streamOwner = ownerBy(d => (arrivalRound(d), d)) // first ARRIVAL, min id in round
    val batchOwner = ownerBy(d => (0, d))                // global min id
    def scoresOf(owner: Map[Long, Long]): Map[Long, (Long, Long)] =
      docFps.map { case (d, fps) =>
        d -> (fps.size.toLong, fps.count(f => owner(f) == d).toLong) }.toMap
    val expStream = scoresOf(streamOwner)
    val expBatch = scoresOf(batchOwner)
    val got = StreamingTSDF.noveltyScores(
        spark.table("novelty_ooo_sink"), "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expStream, "streamed != first-arrival reference")
    // the flip set: exactly the docs whose ownership the arrival order moved
    val predictedFlips = expStream.keySet.filter(d => expStream(d) != expBatch(d))
    assert(predictedFlips.nonEmpty,
      "fixture failed to create any out-of-order ownership flip")
    val batchNov = graft.pipeline.TextAnalysis.winnowNovelty(
        docs.toDF("doc_id", "text"), "text", "doc_id", k = 5, w = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(batchNov == expBatch, "batch operator != min-id reference")
    val actualFlips = got.keySet.filter(d => got(d) != batchNov(d))
    assert(actualFlips == predictedFlips,
      s"flip set mismatch: got $actualFlips expected $predictedFlips")
  }

  test("noveltyOwnership stateTtl: ownership is forgotten past the " +
      "event-time rotation horizon (re-claim scores novel again); the " +
      "no-TTL gate keeps it forever") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tX = "alpha beta gamma delta epsilon zeta eta theta"
    val others = Seq("one two three four five six seven eight",
      "red green blue cyan magenta yellow black white",
      "north south east west up down left right")
    def run(ttl: Option[String]): Map[Long, (Long, Long)] = {
      val mem = MemoryStream[(Long, String, Timestamp)]
      val name = s"novelty_ttl_${ttl.isDefined}"
      val out = StreamingTSDF.noveltyOwnership(
        mem.toDF().toDF("doc_id", "text", "etime"), "text", "doc_id",
        k = 5, w = 4, stateTtl = ttl,
        eventTimeCol = ttl.map(_ => "etime"))
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      def t(min: Int) = new Timestamp(base + min * 60_000L)
      val batches = Seq(
        Seq((1L, tX, t(0))),          // doc 1 claims X's fps at 00:00
        Seq((2L, others(0), t(2))),   // unrelated; watermark still low
        Seq((3L, others(1), t(30))),  // watermark -> 20:00 after this batch
        Seq((4L, others(2), t(31))),  // X's fps (timeout 10:00) evict here
        Seq((5L, tX, t(32))))         // doc 5 re-claims X verbatim
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      StreamingTSDF.noveltyScores(spark.table(name), "doc_id")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    val withTtl = run(Some("10 minutes"))
    // doc 5 re-claims every fingerprint doc 1 owned: fully novel again
    assert(withTtl(1L)._1 == withTtl(1L)._2 && withTtl(1L)._1 > 0)
    assert(withTtl(5L) == withTtl(1L),
      s"doc 5 must be fully novel after the horizon: $withTtl")
    // control: without TTL the duplicate is fully NON-novel
    val noTtl = run(None)
    assert(noTtl(5L)._1 == noTtl(1L)._1 && noTtl(5L)._2 == 0L,
      s"doc 5 must stay non-novel without TTL: $noTtl")
  }

  test("property: kmDeltas and batch kaplanMeier agree on a NULLABLE " +
      "event column (null-event rows dropped by BOTH paths)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(211)
    val mem = MemoryStream[(String, Long, Option[Boolean])]
    val out = StreamingTSDF.kmDeltas(mem.toDF().toDF("g", "dur", "ev"),
      Seq("g"), col("dur"), col("ev"))
    val q = out.writeStream.format("memory").queryName("km_null_diff_sink")
      .outputMode(OutputMode.Append()).start()
    val all = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Option[Boolean])]
    for (_ <- 0 until 3) {
      val batch = (0 until 120).map { _ =>
        val ev = rnd.nextInt(4) match {
          case 0 => None // ~25% unknown outcome rows
          case k => Some(k % 2 == 0)
        }
        ("g" + rnd.nextInt(3), rnd.nextInt(10).toLong, ev)
      }
      all ++= batch
      mem.addData(batch: _*)
      q.processAllAvailable()
    }
    q.stop()
    val grid = spark.table("km_null_diff_sink").groupBy(col("g"), col("t"))
      .agg(sum(col("d")).alias("d"), sum(col("obs")).alias("obs"))
    val streamed = graft.pipeline.Analytics.kaplanMeierFromGrid(grid, Seq("g"))
    val batchKm = graft.pipeline.Analytics.kaplanMeier(
      all.toSeq.toDF("g", "dur", "ev"), Seq("g"), col("dur"), col("ev"))
    assertDfEquality(streamed, batchKm, exact = true)
  }

  test("property: streaming statsDeltas fold to the exact batch " +
      "(n, sum, sumsq) moments across micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(103)
    val mem = MemoryStream[(String, Long)]
    val out = StreamingTSDF.statsDeltas(mem.toDF().toDF("g", "v"),
      Seq("g"), col("v"))
    val q = out.writeStream.format("memory").queryName("stats_diff_sink")
      .outputMode(OutputMode.Append()).start()
    val all = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    for (_ <- 0 until 4) {
      val batch = (0 until 200).map(_ =>
        ("g" + rnd.nextInt(4), rnd.nextInt(2001).toLong - 1000))
      all ++= batch
      mem.addData(batch: _*)
      q.processAllAvailable()
    }
    q.stop()
    val rolled = spark.table("stats_diff_sink").groupBy(col("g"))
      .agg(sum(col("n")).alias("n"), sum(col("s1")).alias("s1"),
        sum(col("s2")).alias("s2"))
    val batch = all.toSeq.toDF("g", "v").groupBy(col("g"))
      .agg(count(lit(1)).alias("n"), sum(col("v")).alias("s1"),
        sum(col("v") * col("v")).alias("s2"))
    assertDfEquality(rolled, batch, exact = true)
  }

  test("property: streaming olsMomentDeltas fold to the exact batch OLS " +
      "moments and bit-identical betas across micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(101)
    val mem = MemoryStream[(String, Long, Long, Long)]
    val out = StreamingTSDF.olsMomentDeltas(
      mem.toDF().toDF("g", "x1", "x2", "y"),
      Seq("g"), col("x1"), col("x2"), col("y"))
    val q = out.writeStream.format("memory").queryName("ols_diff_sink")
      .outputMode(OutputMode.Append()).start()
    val all = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
    for (_ <- 0 until 4) {
      val batch = (0 until 150).map { _ =>
        val x1 = rnd.nextInt(24).toLong; val x2 = rnd.nextInt(7).toLong
        ("g" + rnd.nextInt(3), x1, x2,
          100L + 3L * x1 - 2L * x2 + rnd.nextInt(21) - 10L)
      }
      all ++= batch
      mem.addData(batch: _*)
      q.processAllAvailable()
    }
    q.stop()
    val folded = spark.table("ols_diff_sink").groupBy(col("g"))
      .agg(sum(col("n")).alias("n"), sum(col("sx1")).alias("sx1"),
        sum(col("sx2")).alias("sx2"), sum(col("sy")).alias("sy"),
        sum(col("sx11")).alias("sx11"), sum(col("sx12")).alias("sx12"),
        sum(col("sx22")).alias("sx22"), sum(col("sx1y")).alias("sx1y"),
        sum(col("sx2y")).alias("sx2y"))
    val streamed = graft.pipeline.Regression.olsFromMoments(folded)
    val batchOls = graft.pipeline.Regression.groupOls2(
      all.toSeq.toDF("g", "x1", "x2", "y"), Seq("g"),
      col("x1"), col("x2"), col("y"))
    assertDfEquality(streamed, batchOls, exact = true)
  }

  test("property: streaming pairCountDeltas fold to the exact batch pair " +
      "counts across micro-batches and input partitions") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(97)
    val mem = MemoryStream[(String, String)]
    val out = StreamingTSDF.pairCountDeltas(mem.toDF().toDF("a", "b"),
      col("a"), col("b"))
    val q = out.writeStream.format("memory").queryName("pair_diff_sink")
      .outputMode(OutputMode.Append()).start()
    val all = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for (_ <- 0 until 4) {
      val batch = (0 until 250).map(_ =>
        ("w" + rnd.nextInt(6), "w" + rnd.nextInt(6)))
      all ++= batch
      mem.addData(batch: _*)
      q.processAllAvailable()
    }
    q.stop()
    val rolled = spark.table("pair_diff_sink")
      .groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).alias("n"))
    val batchCounts = all.toSeq.toDF("w1", "w2")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).alias("n"))
    assertDfEquality(rolled, batchCounts, exact = true)
  }

  test("property: streaming sumDeltas fold to the exact batch grouped sums " +
      "across micro-batches (signed values, repeated keys)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(79)
    val mem = MemoryStream[(String, Long, Long)]
    val out = StreamingTSDF.sumDeltas(mem.toDF().toDF("src", "k", "v"),
      Seq("src"), col("k"), col("v"))
    val q = out.writeStream.format("memory").queryName("sum_diff_sink")
      .outputMode(OutputMode.Append()).start()
    val all = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    for (_ <- 0 until 5) {
      val batch = (0 until 200).map(_ => ("s" + rnd.nextInt(3),
        rnd.nextInt(8).toLong, rnd.nextInt(2001).toLong - 1000))
      all ++= batch
      mem.addData(batch: _*)
      q.processAllAvailable()
    }
    q.stop()
    val rolled = spark.table("sum_diff_sink")
      .groupBy(col("src"), col("key")).agg(sum(col("s")).alias("s"))
    val batchSums = all.toSeq.toDF("src", "key", "v")
      .groupBy(col("src"), col("key")).agg(sum(col("v")).alias("s"))
    assertDfEquality(rolled, batchSums, exact = true)
  }

  test("property: streaming gramDeltas sum-roll to the exact batch Gram " +
      "matrix across micro-batches and input partitions") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = 6
    val rnd = new scala.util.Random(71)
    val mem = MemoryStream[Seq[Double]]
    // negative coordinates exercise signed products
    val out = StreamingTSDF.gramDeltas(
      mem.toDF().toDF("vec"), col("vec"), dim = dim)
    val q = out.writeStream.format("memory").queryName("gram_diff_sink")
      .outputMode(OutputMode.Append()).start()
    val all = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    for (_ <- 0 until 4) {
      val batch = (0 until 50).map(_ =>
        Seq.fill(dim)((rnd.nextInt(2001) - 1000).toDouble))
      all ++= batch
      mem.addData(batch: _*)
      q.processAllAvailable()
    }
    q.stop()
    val pairs = for { i <- 0 until dim; j <- i until dim } yield (i, j)
    val iLit = typedLit(pairs.map(_._1.toLong))
    val jLit = typedLit(pairs.map(_._2.toLong))
    val rolled = spark.table("gram_diff_sink")
      .groupBy(col("k"))
      .agg(sum(col("s")).alias("s"), sum(col("n")).alias("n"))
      .select(
        element_at(iLit, col("k").cast(IntegerType) + 1).alias("i"),
        element_at(jLit, col("k").cast(IntegerType) + 1).alias("j"),
        col("n"), col("s"))
    val batchGram = graft.pipeline.Pca.gramMatrix(
      all.toSeq.toDF("vec"), col("vec"), dim)
    assertDfEquality(rolled, batchGram, exact = true)
  }

  test("property: patternDfa deltas sum to lazy-regex non-overlapping " +
      "counts on random traces across micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dfa: Map[(Int, String), (Int, Boolean)] = Map(
      (0, "v") -> ((1, false)), (0, "o") -> ((0, false)),
      (0, "c") -> ((0, false)), (0, "p") -> ((0, false)),
      (1, "v") -> ((1, false)), (1, "o") -> ((1, false)),
      (1, "c") -> ((2, false)), (1, "p") -> ((0, false)),
      (2, "v") -> ((1, false)), (2, "o") -> ((0, false)),
      (2, "c") -> ((0, false)), (2, "p") -> ((0, true)))
    val types = Vector("view", "other", "click", "purchase", "view", "click")
    val rnd = new scala.util.Random(67)
    // globally time-ordered rows split into contiguous micro-batches —
    // the operator's documented in-order arrival contract
    val rows = (0 until 1200).map { i =>
      ("u" + rnd.nextInt(4), new Timestamp(base + i * 1000L), i.toLong,
        types(rnd.nextInt(types.size)))
    }
    val mem = MemoryStream[(String, Timestamp, Long, String)]
    val out = StreamingTSDF.patternDfa(
      mem.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      "ts", Seq("user_id"), "event_type",
      Map("view" -> "v", "click" -> "c", "purchase" -> "p"), dfa,
      tieCol = "event_id")
    val q = out.writeStream.format("memory").queryName("dfa_diff_sink")
      .outputMode(OutputMode.Append()).start()
    rows.grouped(250).foreach { batch =>
      mem.addData(batch: _*)
      q.processAllAvailable()
    }
    q.stop()
    val rolled = spark.table("dfa_diff_sink")
      .groupBy(col("user_id"))
      .agg(sum(col("trace_len")).alias("len"),
        sum(col("n_matches")).alias("m"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("len"), r.getAs[Long]("m"))).toMap
    val pat = java.util.regex.Pattern.compile("v[vo]*?cp")
    for ((u, evs) <- rows.groupBy(_._1)) {
      val trace = evs.sortBy(e => (e._2.getTime, e._3)).map(e => e._4 match {
        case "view" => 'v'; case "click" => 'c'; case "purchase" => 'p'
        case _ => 'o'
      }).mkString
      val mtr = pat.matcher(trace)
      var n = 0L
      while (mtr.find()) n += 1
      assert(rolled(u) == ((trace.length.toLong, n)), s"user $u trace $trace")
    }
  }

  test("patternDfa rejects a non-total transition table at construction, " +
      "before any stream starts") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    // state 1 has no mapping for the default symbol 'o' — pre-fix this only
    // surfaced as a mid-flight sys.error on the first unmapped event.
    val holey: Map[(Int, String), (Int, Boolean)] = Map(
      (0, "v") -> ((1, false)), (0, "o") -> ((0, false)),
      (1, "v") -> ((1, true)))
    val mem = MemoryStream[(String, Timestamp, Long, String)]
    val ex = intercept[IllegalArgumentException] {
      StreamingTSDF.patternDfa(
        mem.toDF().toDF("user_id", "ts", "event_id", "event_type"),
        "ts", Seq("user_id"), "event_type",
        Map("view" -> "v"), holey, tieCol = "event_id")
    }
    assert(ex.getMessage.contains("not total"))
  }

  test("property: streaming resample(mean) equals batch resample on random series") {
    val rnd = new scala.util.Random(42)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false) :+ (("u1", sentinel, 0.0))
      val streamed = runStream(rows, df =>
        StreamingTSDF.resample(df, "ts", Seq("user_id"), "1 minute", "mean",
          watermarkDelay = "0 seconds"))
        .select("user_id", "ts", "value")
      val spark2 = spark
      import spark2.implicits._
      val batch = TSDF(rows.toDF("user_id", "ts", "value"), "ts", Seq("user_id"))
        .resample("1 minute", "mean").df
        .filter(col("ts") < sentinel)
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming vwap equals batch vwap on random series") {
    val rnd = new scala.util.Random(43)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false) :+ (("u1", sentinel, 0.0))
      // price = value, volume = a deterministic integer of the row
      val withVol = (df: DataFrame) =>
        df.withColumn("volume", (col("value") % 7 + 1).cast("double"))
      val streamed = runStream(rows, df =>
        StreamingTSDF.vwap(withVol(df), "ts", Seq("user_id"), "value", "volume",
          "1 minute", watermarkDelay = "0 seconds"))
        .select("user_id", "ts", "vwap", "max_value")
      val spark2 = spark
      import spark2.implicits._
      val batch = graft.tsdf.Stats.vwap(
        TSDF(withVol(rows.toDF("user_id", "ts", "value")), "ts", Seq("user_id")),
        "m", "volume", "value").df
        .filter(col("ts") < sentinel)
        .select("user_id", "ts", "vwap", "max_value")
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming ema equals batch emaExact on random series") {
    val rnd = new scala.util.Random(44)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false)
      val streamed = runStream(rows, df =>
        StreamingTSDF.ema(df, "ts", Seq("user_id"), "value", alpha = 0.3))
        .select(col("user_id"), col("ts"), col("value"),
          col("ema_value").alias("ema"))
      val spark2 = spark
      import spark2.implicits._
      val batch = TSDF(rows.toDF("user_id", "ts", "value"), "ts", Seq("user_id"))
        .emaExact("value", alpha = 0.3).df
        .select(col("user_id"), col("ts"), col("value"),
          col("ema_exact_value").alias("ema"))
      // same recursion, same IEEE op order: bit-identical, alpha need not be
      // exactly representable
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming holt equals batch holtExact on random series") {
    val rnd = new scala.util.Random(46)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false)
      val streamed = runStream(rows, df =>
        StreamingTSDF.holt(df, "ts", Seq("user_id"), "value",
          alpha = 0.3, beta = 0.1))
        .select(col("user_id"), col("ts"), col("value"),
          col("holt_level_value").alias("lvl"), col("holt_trend_value").alias("trd"))
      val spark2 = spark
      import spark2.implicits._
      val batch = TSDF(rows.toDF("user_id", "ts", "value"), "ts", Seq("user_id"))
        .holtExact("value", alpha = 0.3, beta = 0.1).df
        .select(col("user_id"), col("ts"), col("value"),
          col("holt_level_value").alias("lvl"), col("holt_trend_value").alias("trd"))
      // same recursion, same IEEE op order: bit-identical even with
      // non-binary alpha/beta
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: the shared recurrences skip null values in stream and " +
      "batch alike (ema, ewmVolatility, holt, kalmanLevel, holtWinters)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    def tsdf(df: DataFrame) = TSDF(df, "ts", Seq("user_id"))
    val key = Seq("user_id")
    val cases: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame,
        Seq[String])] = Seq(
      ("ema", StreamingTSDF.ema(_, "ts", key, "value", alpha = 0.3),
        tsdf(_).emaExact("value", alpha = 0.3).df
          .withColumnRenamed("ema_exact_value", "ema_value"),
        Seq("ema_value")),
      ("ewmVolatility",
        StreamingTSDF.ewmVolatility(_, "ts", key, "value", alpha = 0.3),
        tsdf(_).ewmVolatility("value", alpha = 0.3).df,
        Seq("ewm_mean_value", "ewm_var_value")),
      ("holt", StreamingTSDF.holt(_, "ts", key, "value", alpha = 0.3, beta = 0.1),
        tsdf(_).holtExact("value", alpha = 0.3, beta = 0.1).df,
        Seq("holt_level_value", "holt_trend_value")),
      ("kalmanLevel",
        StreamingTSDF.kalmanLevel(_, "ts", key, "value", q = 0.3, r = 2.7),
        tsdf(_).kalmanLevel("value", q = 0.3, r = 2.7).df,
        Seq("kalman_level_value", "kalman_var_value", "kalman_gain_value")),
      ("holtWinters", StreamingTSDF.holtWinters(_, "ts", key, "value",
          alpha = 0.5, beta = 0.25, gamma = 0.5, m = 3),
        graft.tsdf.Stats.holtWinters(_, "ts", "value", key,
          alpha = 0.5, beta = 0.25, gamma = 0.5, m = 3),
        Seq("hw_level", "hw_trend", "hw_seasonal")))
    val rnd = new scala.util.Random(83)
    for (trial <- 0 until 3; (name, stream, batch, outs) <- cases) {
      // every series opens with a null (no output yet), then ~1 in 4 null
      val rows = randomSeries(rnd, pinEnds = false).groupBy(_._1).toSeq
        .sortBy(_._1).flatMap { case (_, rs) =>
          rs.zipWithIndex.map { case ((s, t, v), i) =>
            (s, t, if (i == 0 || rnd.nextInt(4) == 0) None else Some(v))
          }
        }
      runId += 1
      val sink = s"null_sink_$runId"
      val mem = MemoryStream[(String, Timestamp, Option[Double])]
      val q = stream(mem.toDF().toDF("user_id", "ts", "value"))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append()).start()
      mem.addData(rows: _*)
      q.processAllAvailable()
      q.stop()
      val cols = (Seq("user_id", "ts", "value") ++ outs).map(col)
      val expected = batch(rows.toDF("user_id", "ts", "value")).select(cols: _*)
      withClue(s"$name trial $trial: ") {
        assertDfEquality(spark.table(sink).select(cols: _*), expected, exact = true)
      }
    }
  }

  test("property: streaming ewmVolatility equals batch on random series") {
    val rnd = new scala.util.Random(67)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false)
      val streamed = runStream(rows, df =>
        StreamingTSDF.ewmVolatility(df, "ts", Seq("user_id"), "value",
          alpha = 0.3))
        .select(col("user_id"), col("ts"), col("value"),
          col("ewm_mean_value").alias("m"), col("ewm_var_value").alias("v"))
      val spark2 = spark
      import spark2.implicits._
      val batch = TSDF(rows.toDF("user_id", "ts", "value"), "ts", Seq("user_id"))
        .ewmVolatility("value", alpha = 0.3).df
        .select(col("user_id"), col("ts"), col("value"),
          col("ewm_mean_value").alias("m"), col("ewm_var_value").alias("v"))
      // same recursion, same IEEE op order: bit-identical even with
      // non-binary alpha
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming rsi equals batch on random series") {
    val rnd = new scala.util.Random(71)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false)
      val streamed = runStream(rows, df =>
        StreamingTSDF.rsi(df, "ts", Seq("user_id"), "value", n = 14))
        .select(col("user_id"), col("ts"), col("value"),
          col("rsi_value").alias("r"))
      val spark2 = spark
      import spark2.implicits._
      val batch = TSDF(rows.toDF("user_id", "ts", "value"), "ts", Seq("user_id"))
        .rsi("value", n = 14).df
        .select(col("user_id"), col("ts"), col("value"),
          col("rsi_value").alias("r"))
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming macd equals batch on random series") {
    val rnd = new scala.util.Random(73)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false)
      val streamed = runStream(rows, df =>
        StreamingTSDF.macd(df, "ts", Seq("user_id"), "value"))
        .select(col("user_id"), col("ts"), col("value"),
          col("macd_value").alias("m"), col("macd_signal_value").alias("s"),
          col("macd_hist_value").alias("h"))
      val spark2 = spark
      import spark2.implicits._
      val batch = TSDF(rows.toDF("user_id", "ts", "value"), "ts", Seq("user_id"))
        .macd("value").df
        .select(col("user_id"), col("ts"), col("value"),
          col("macd_value").alias("m"), col("macd_signal_value").alias("s"),
          col("macd_hist_value").alias("h"))
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming drawdown equals batch on random series") {
    val rnd = new scala.util.Random(61)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false)
      val streamed = runStream(rows, df =>
        StreamingTSDF.drawdown(df, "ts", Seq("user_id"), "value"))
        .select(col("user_id"), col("ts"), col("value"),
          col("peak_value").alias("pk"), col("drawdown_value").alias("dd"))
      val batch = graft.tsdf.Stats.drawdown(
        { val spark2 = spark; import spark2.implicits._
          rows.toDF("user_id", "ts", "value") },
        "ts", "value", Seq("user_id"))
        .select(col("user_id"), col("ts"), col("value"),
          col("peak_value").alias("pk"), col("drawdown_value").alias("dd"))
      // running max is order-independent: bit-identical on raw doubles
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming thresholdCrossings equals batch on random series") {
    val rnd = new scala.util.Random(67)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false)
      val streamed = runStream(rows, df =>
        StreamingTSDF.thresholdCrossings(df, "ts", Seq("user_id"), "value",
          threshold = 500.0))
        .select(col("user_id"), col("ts"), col("prev_ts"),
          col("prev_value"), col("value"), col("direction"))
      val spark2 = spark
      import spark2.implicits._
      val batch = graft.tsdf.Stats.thresholdCrossings(
        rows.toDF("user_id", "ts", "value"),
        "ts", "value", Seq("user_id"), threshold = 500.0)
        .select(col("user_id"), col("ts"), col("prev_ts"),
          col("prev_value"), col("value"), col("direction"))
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming stochastic equals batch on random series") {
    val rnd = new scala.util.Random(68)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false)
      val streamed = runStream(rows, df =>
        StreamingTSDF.stochastic(df, "ts", Seq("user_id"), "value",
          window = 5))
        .select(col("user_id"), col("ts"), col("value"),
          col("pct_k"), col("pct_d"))
      val spark2 = spark
      import spark2.implicits._
      val batch = graft.tsdf.Stats.stochastic(
        rows.toDF("user_id", "ts", "value"),
        "ts", "value", Seq("user_id"), window = 5)
        .select(col("user_id"), col("ts"), col("value"),
          col("pct_k"), col("pct_d"))
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming donchian equals batch on random series") {
    val rnd = new scala.util.Random(69)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false)
      val streamed = runStream(rows, df =>
        StreamingTSDF.donchian(df, "ts", Seq("user_id"), "value",
          window = 5))
        .select(col("user_id"), col("ts"), col("value"),
          col("dc_upper"), col("dc_lower"), col("dc_mid"))
      val spark2 = spark
      import spark2.implicits._
      val batch = graft.tsdf.Stats.donchian(
        rows.toDF("user_id", "ts", "value"),
        "ts", "value", Seq("user_id"), window = 5)
        .select(col("user_id"), col("ts"), col("value"),
          col("dc_upper"), col("dc_lower"), col("dc_mid"))
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming holtWinters equals batch on random series") {
    val rnd = new scala.util.Random(70)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false)
      val streamed = runStream(rows, df =>
        StreamingTSDF.holtWinters(df, "ts", Seq("user_id"), "value",
          alpha = 0.5, beta = 0.25, gamma = 0.5, m = 5))
        .select(col("user_id"), col("ts"), col("value"),
          col("hw_level"), col("hw_trend"), col("hw_seasonal"))
      val spark2 = spark
      import spark2.implicits._
      val batch = graft.tsdf.Stats.holtWinters(
        rows.toDF("user_id", "ts", "value"),
        "ts", "value", Seq("user_id"),
        alpha = 0.5, beta = 0.25, gamma = 0.5, m = 5)
        .select(col("user_id"), col("ts"), col("value"),
          col("hw_level"), col("hw_trend"), col("hw_seasonal"))
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming kalmanLevel equals batch on random series") {
    val rnd = new scala.util.Random(53)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false)
      val streamed = runStream(rows, df =>
        StreamingTSDF.kalmanLevel(df, "ts", Seq("user_id"), "value",
          q = 0.3, r = 2.7))
        .select(col("user_id"), col("ts"), col("value"),
          col("kalman_level_value").alias("m"),
          col("kalman_var_value").alias("p"),
          col("kalman_gain_value").alias("k"))
      val spark2 = spark
      import spark2.implicits._
      val batch = TSDF(rows.toDF("user_id", "ts", "value"), "ts", Seq("user_id"))
        .kalmanLevel("value", q = 0.3, r = 2.7).df
        .select(col("user_id"), col("ts"), col("value"),
          col("kalman_level_value").alias("m"),
          col("kalman_var_value").alias("p"),
          col("kalman_gain_value").alias("k"))
      // same recursion, same IEEE op order: bit-identical even with
      // non-binary q/r
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming rolling median equals batch rollingMedian on random series") {
    val rnd = new scala.util.Random(48)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false)
      val streamed = runStream(rows, df =>
        StreamingTSDF.rollingMedian(df, "ts", Seq("user_id"), "value", window = 5))
        .select(col("user_id"), col("ts"), col("value"),
          col("rolling_median_value").alias("med"))
      val spark2 = spark
      import spark2.implicits._
      val batch = graft.tsdf.Stats.rollingMedian(
        rows.toDF("user_id", "ts", "value"), "ts", "value", Seq("user_id"),
        window = 5)
        .select(col("user_id"), col("ts"), col("value"),
          col("rolling_median_value").alias("med"))
      // identical frame multisets and rank convention: bit-identical
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming min-max downsample equals batch on random series") {
    val rnd = new scala.util.Random(50)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false) :+ (("u1", sentinel, 0.0))
      val streamed = runStream(rows, df =>
        StreamingTSDF.downsampleMinMax(df, "ts", Seq("user_id"),
          "1 minute", "value", watermarkDelay = "0 seconds"))
        .select("user_id", "bucket_ts", "ts", "value")
        .filter(col("bucket_ts") < sentinel)
      val spark2 = spark
      import spark2.implicits._
      val batch = graft.tsdf.Resample.downsampleMinMax(
        TSDF(rows.toDF("user_id", "ts", "value"), "ts", Seq("user_id")),
        "1 minute", "value")
        .select("user_id", "bucket_ts", "ts", "value")
        .filter(col("bucket_ts") < sentinel)
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming cusumControl equals batch on random series") {
    val rnd = new scala.util.Random(47)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false)
      val streamed = runStream(rows, df =>
        StreamingTSDF.cusumControl(df, "ts", Seq("user_id"), "value",
          target = 500L, slack = 10L, threshold = 2000L))
        .select("user_id", "ts", "value", "cusum_hi", "cusum_lo", "alert")
      val spark2 = spark
      import spark2.implicits._
      val batch = graft.tsdf.Stats.cusumControl(
        rows.toDF("user_id", "ts", "value"), "ts", "value", Seq("user_id"),
        target = 500L, slack = 10L, threshold = 2000L)
        .select(col("user_id"), col("ts"), col("value").cast("long"),
          col("cusum_hi"), col("cusum_lo"), col("alert"))
      // exact integer arithmetic on both sides: bit-identical always
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming gaps equals batch gaps on random series") {
    val rnd = new scala.util.Random(49)
    (0 until 4).foreach { trial =>
      val rows = randomSeries(rnd, pinEnds = false)
      val streamed = runStream(rows, df =>
        StreamingTSDF.gaps(df, "ts", Seq("user_id"), minGapSeconds = 30))
        .select("user_id", "gap_start", "gap_end", "gap_seconds")
      val spark2 = spark
      import spark2.implicits._
      val batch = graft.tsdf.Stats.gaps(
        rows.toDF("user_id", "ts", "value"), "ts", Seq("user_id"),
        minGapSeconds = 30)
        .select("user_id", "gap_start", "gap_end", "gap_seconds")
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming session_window intervals equal batch sessionize on random series") {
    val rnd = new scala.util.Random(47)
    (0 until 4).foreach { trial =>
      // gap of 145s is off the 6s data lattice, so no inter-event gap ever
      // EQUALS the threshold — where batch (gap > g breaks) and
      // session_window (gap >= g breaks) boundary conventions would differ
      val rows = randomSeries(rnd, pinEnds = false) :+ (("u1", sentinel, 0.0))
      val streamed = runStream(rows, df =>
        StreamingTSDF.sessionIntervals(df, "ts", Seq("user_id"),
          gap = "145 seconds", watermarkDelay = "0 seconds"))
        .select("user_id", "session_start", "session_end", "n_events")
        .filter(col("session_start") < sentinel)
      val spark2 = spark
      import spark2.implicits._
      val batch = graft.tsdf.Sessionize.intervals(
        rows.toDF("user_id", "ts", "value"), "ts", Seq("user_id"), gapSeconds = 145)
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
        .filter(col("session_start") < sentinel)
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: stream-stream tolerance join equals the batch join on random series") {
    val rnd = new scala.util.Random(46)
    (0 until 3).foreach { trial =>
      val leftRows = randomSeries(rnd, pinEnds = false)
      val rightRows = randomSeries(rnd, pinEnds = false)
      val spark2 = spark
      import spark2.implicits._
      implicit val sqlCtx = spark.sqlContext
      val memL = MemoryStream[(String, Timestamp, Double)]
      val memR = MemoryStream[(String, Timestamp, Double)]
      runId += 1
      val name = s"tol_sink_$runId"
      val out = StreamingTSDF.toleranceJoin(
        memL.toDF().toDF("user_id", "ts", "value"),
        memR.toDF().toDF("user_id", "ts", "rv"),
        "ts", Seq("user_id"), Seq("rv"), tolerance = "5 minutes")
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      memL.addData(leftRows: _*)
      memR.addData(rightRows: _*)
      q.processAllAvailable()
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
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("streaming PQ top-k equals the batch ivfPqTopK ranking") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two integer clusters, dim 4, M=2 subspaces
    val corpusRows = Seq(
      (1L, Seq(10.0, 0.0, 0.0, 10.0)), (2L, Seq(11.0, 0.0, 0.0, 11.0)),
      (3L, Seq(10.0, 1.0, 1.0, 10.0)), (4L, Seq(0.0, 10.0, 10.0, 0.0)),
      (5L, Seq(0.0, 11.0, 11.0, 0.0)), (6L, Seq(1.0, 10.0, 10.0, 1.0)))
    val corpus = corpusRows.toDF("vec_id", "v")
    val centroids = Seq(Seq(10.0, 0.0, 0.0, 10.0), Seq(0.0, 10.0, 10.0, 0.0))
    val cbs = (0 until 2).map(m => centroids.map(_.slice(m * 2, m * 2 + 2)))
    val queryRows = Seq(
      (101L, Timestamp.valueOf("2024-03-01 00:00:00"), Seq(10.0, 0.5, 0.5, 10.0)),
      (102L, Timestamp.valueOf("2024-03-01 00:00:06"), Seq(0.5, 10.0, 10.0, 0.5)))
    val mem = MemoryStream[(Long, Timestamp, Seq[Double])]
    runId += 1
    val name = s"pq_sink_$runId"
    val out = StreamingAnn.pqTopKStream(
      mem.toDF().toDF("vec_id", "ts", "v"), corpus, "vec_id", "ts", "v",
      k = 2, centroids, nprobe = 1, cbs, watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    mem.addData(queryRows: _*)
    q.processAllAvailable()
    // a second batch advances the watermark past both query rows
    mem.addData((999L, Timestamp.valueOf("2024-03-02 00:00:00"), Seq(0.0, 0.0, 0.0, 0.0)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)
      .filter(col("query_id") =!= 999L) // the watermark-advancing sentinel
      .select(col("query_id"), explode(col("topk")).alias("c"))
      .select(col("query_id"), col("c.neighbor_id"), col("c.adc_dist"))
    val batch = graft.pipeline.Similarity.ivfPqTopK(
      queryRows.map(r => (r._1, r._3)).toDF("vec_id", "v"), corpus,
      "vec_id", "v", k = 2, centroids, nprobe = 1, cbs)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"))
    assertDfEquality(streamed, batch, exact = true)
  }

  test("property: streaming interpolate equals batch resample(floor)+interpolate") {
    val rnd = new scala.util.Random(45)
    for (trial <- 0 until 3; method <- Seq("ffill", "linear")) {
      // ends pinned so the batch spine (first..last bucket per series) spans
      // the same range the streaming operator emits
      val rows = randomSeries(rnd, pinEnds = true)
      val streamed = runStream(rows, df =>
        StreamingTSDF.interpolate(df, "ts", Seq("user_id"), "value",
          "1 minute", method))
        .select("user_id", "ts", "value", "is_ts_interpolated")
      val spark2 = spark
      import spark2.implicits._
      val batch = TSDF(rows.toDF("user_id", "ts", "value"), "ts", Seq("user_id"))
        .resample("1 minute", "floor")
        .interpolate(method, showInterpolated = true)
        .df.select("user_id", "ts", "value", "is_ts_interpolated")
      withClue(s"trial $trial ($method): ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("property: streaming scd2Changelog equals batch scd2FromLog change " +
      "set across micro-batches (with ts ties)") {
    val rnd = new scala.util.Random(47)
    (0 until 4).foreach { trial =>
      // per user: in-order rows on a lattice, attrs drawn from 3 values so
      // no-op re-emits are common; some DUPLICATE timestamps (tie on seq)
      var seq = 0L
      val rows = Seq("u1", "u2").flatMap { u =>
        (0 until 20).flatMap { i =>
          val dup = rnd.nextInt(4) == 0
          (0 until (if (dup) 2 else 1)).map { _ =>
            seq += 1
            (u, at(i * 10), s"state${rnd.nextInt(3)}", seq)
          }
        }
      }.sortBy(r => (r._2.getTime, r._4))
      val spark2 = spark
      import spark2.implicits._
      implicit val sqlCtx = spark.sqlContext
      runId += 1
      val name = s"scd2_sink_$runId"
      val mem = MemoryStream[(String, Timestamp, String, Long)]
      val out = StreamingTSDF.scd2Changelog(
        mem.toDF().toDF("user_id", "ts", "event_type", "event_id"),
        Seq("user_id"), "ts", Seq("event_type"), "event_id")
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      // three micro-batches in event order: state must carry across them
      rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { chunk =>
        mem.addData(chunk: _*)
        q.processAllAvailable()
      }
      q.stop()
      val streamed = spark.table(name)
      val batch = graft.pipeline.Cdc.scd2FromLog(
        rows.toDF("user_id", "ts", "event_type", "event_id"),
        "user_id", "ts", Seq("event_type"), tieCols = Seq("event_id"))
        .select(col("user_id"), col("valid_from").alias("ts"),
          col("event_type"))
      withClue(s"trial $trial: ") { assertDfEquality(streamed, batch, exact = true) }
    }
  }

  test("streaming fingerprintOwnership over media payloads folds to the " +
      "batch mediaDedup groups under id-ordered multi-batch ingestion, " +
      "and a single shuffled batch resolves owners to the min id") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(331)
    val ids = (0L until 120L)
    val batchAnswer = graft.pipeline.Multimodal.mediaDedup(
      graft.pipeline.Multimodal.synthesizeMediaDedupPayload(
        ids.toDF("doc_id"), "doc_id"), "doc_id", "payload")

    def run(name: String, feed: (MemoryStream[Long],
        org.apache.spark.sql.streaming.StreamingQuery) => Unit): DataFrame = {
      val mem = MemoryStream[Long]
      val out = StreamingTSDF.fingerprintOwnership(
        graft.pipeline.Multimodal.mediaFingerprints(
          graft.pipeline.Multimodal.synthesizeMediaDedupPayload(
            mem.toDF().toDF("doc_id"), "doc_id"),
          "doc_id", "payload"), "doc_id")
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      feed(mem, q)
      q.stop()
      spark.table(name)
        .groupBy(col("modality"), col("fp"), col("n_units"))
        .agg(min(when(col("novel"), col("doc_id"))).alias("rep_id"),
          count(lit(1)).alias("n_docs"))
    }

    // id-ordered batches, shuffled WITHIN each batch (the contract)
    val multi = run("fp_own_multi", (mem, q) => {
      var rest: Seq[Long] = ids.toList
      while (rest.nonEmpty) {
        val (batch, tail) = rest.splitAt(1 + rnd.nextInt(40))
        rest = tail
        mem.addData(rnd.shuffle(batch): _*)
        q.processAllAvailable()
      }
    })
    assertDfEquality(multi, batchAnswer, exact = true)

    // ONE batch in fully shuffled order: in-batch ties resolve to the
    // min id, so even arbitrary order matches batch when nothing is split
    val single = run("fp_own_single", (mem, q) => {
      mem.addData(rnd.shuffle(ids.toList): _*)
      q.processAllAvailable()
    })
    assertDfEquality(single, batchAnswer, exact = true)
  }

  test("fingerprintOwnership OUT-OF-ORDER ingestion: the folded sink equals " +
      "the first-ARRIVAL reference, and exactly the predicted content " +
      "groups flip representative vs the batch min-id answer") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(577)
    val ids = (0L until 240L)
    // deliberately id-DESCENDING rounds: later ids arrive first, so dup
    // groups spanning rounds (image x/x+78, video x/x+195) get the LATER
    // member as first owner — a predictable flip vs batch's min-id rep
    val schedule = Seq(ids.filter(_ >= 160), ids.filter(i => i >= 80 && i < 160),
      ids.filter(_ < 80)).map(_.toList)
    val mem = MemoryStream[Long]
    val out = StreamingTSDF.fingerprintOwnership(
      graft.pipeline.Multimodal.mediaFingerprints(
        graft.pipeline.Multimodal.synthesizeMediaDedupPayload(
          mem.toDF().toDF("doc_id"), "doc_id"),
        "doc_id", "payload"), "doc_id")
    val q = out.writeStream.format("memory").queryName("fp_own_ooo")
      .outputMode(OutputMode.Append()).start()
    schedule.foreach { b => mem.addData(rnd.shuffle(b): _*); q.processAllAvailable() }
    q.stop()
    val folded = spark.table("fp_own_ooo")
      .groupBy(col("modality"), col("fp"), col("n_units"))
      .agg(min(when(col("novel"), col("doc_id"))).alias("rep_id"),
        count(lit(1)).alias("n_docs"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    // driver reference: each doc carries exactly one fingerprint group
    val docGroup = graft.pipeline.Multimodal.mediaFingerprints(
        graft.pipeline.Multimodal.synthesizeMediaDedupPayload(
          ids.toDF("doc_id"), "doc_id"), "doc_id", "payload")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(3), r.getLong(2)))
      .toMap
    val arrivalRound = schedule.zipWithIndex
      .flatMap { case (b, i) => b.map(_ -> i) }.toMap
    val groups = docGroup.toSeq.groupBy(_._2).map { case (g, v) =>
      g -> v.map(_._1) }
    val expStream = groups.map { case (g, docs) =>
      g -> (docs.minBy(d => (arrivalRound(d), d)), docs.size.toLong) }
    assert(folded.keySet == expStream.keySet)
    for ((g, (own, n)) <- expStream)
      assert(folded(g) == ((own, n)), s"group $g")
    // the flip set: exactly the groups whose rep the arrival order moved
    val batchRep = groups.map { case (g, docs) => g -> docs.min }
    val predictedFlips = expStream.collect {
      case (g, (own, _)) if own != batchRep(g) => g }.toSet
    assert(predictedFlips.nonEmpty,
      "fixture failed to create any out-of-order representative flip")
    val actualFlips = folded.collect {
      case (g, (rep, _)) if rep != batchRep(g) => g }.toSet
    assert(actualFlips == predictedFlips,
      s"flip set mismatch: got $actualFlips expected $predictedFlips")
  }

  test("fingerprintOwnership stateTtl: content-group ownership is forgotten " +
      "past the event-time rotation horizon (re-claim is novel again); the " +
      "no-TTL gate keeps it forever") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    def wav(seed: Int): Array[Byte] =
      graft.pipeline.Multimodal.buildWavWithSamples(8000,
        Array.tabulate(64)(i => (seed * 37 + 13 * i) % 4096 - 2048))
    val payX = wav(1)
    val others = Seq(wav(2), wav(3), wav(4))
    def t(min: Int) = new Timestamp(base + min * 60_000L)
    def run(ttl: Option[String]): Map[Long, Boolean] = {
      val mem = MemoryStream[(Long, Array[Byte], Timestamp)]
      val name = s"fp_own_ttl_${ttl.isDefined}"
      val fps = graft.pipeline.Multimodal.mediaFingerprints(
        mem.toDF().toDF("doc_id", "payload", "etime"),
        "doc_id", "payload", carryCols = Seq("etime"))
      val out = StreamingTSDF.fingerprintOwnership(fps, "doc_id",
        stateTtl = ttl, eventTimeCol = ttl.map(_ => "etime"))
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      val batches = Seq(
        Seq((1L, payX, t(0))),          // doc 1 claims X's group at 00:00
        Seq((2L, others(0), t(2))),     // unrelated; watermark still low
        Seq((3L, others(1), t(30))),    // watermark -> 20:00 after this batch
        Seq((4L, others(2), t(31))),    // X's group (timeout 10:00) evicts here
        Seq((5L, payX, t(32))))         // doc 5 re-claims X verbatim
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      spark.table(name).collect()
        .map(r => r.getLong(3) -> r.getBoolean(4)).toMap
    }
    val withTtl = run(Some("10 minutes"))
    assert(withTtl(1L) && withTtl(5L),
      s"doc 5 must re-claim as novel after the horizon: $withTtl")
    val noTtl = run(None)
    assert(noTtl(1L) && !noTtl(5L),
      s"doc 5 must stay non-novel without TTL: $noTtl")
  }
}

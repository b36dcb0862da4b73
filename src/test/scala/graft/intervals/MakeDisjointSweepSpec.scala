package graft.intervals

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** [[IntervalsDF.makeDisjoint]]'s one per-series sweep kernel: deep series
  * complete without an O(n²) cover join, and the kernel equals the
  * relational formulation of the same merge ([[relationalReference]]) on
  * arbitrary inputs, metric types included. */
class MakeDisjointSweepSpec extends SparkTestBase {

  private def ts(us: Long) = new Timestamp(us)

  private def idf(rows: Seq[(String, Timestamp, Timestamp, java.lang.Double)]): IntervalsDF = {
    val spark2 = spark
    import spark2.implicits._
    IntervalsDF(rows.toDF("series_1", "start_ts", "end_ts", "m"),
      "start_ts", "end_ts", Seq("series_1"))
  }

  /** The same merge as relational algebra, which `makeDisjoint` is
    * checked against: (1) elementary segments from one window over each
    * series' distinct boundaries; (2) segments ⋈ covering intervals; (3)
    * per segment and metric `max(struct(start, end, value))` over the
    * non-null carriers; (4) touching segments with a null-safe equal
    * metric vector coalesce through an island window and an aggregate.
    * Its cover join is O(segments × depth) per series. */
  private def relationalReference(in: IntervalsDF): DataFrame = {
    import in.{seriesIds, startTs, endTs}
    val ms = in.metricCols
    val series = seriesIds.map(col)
    val work = in.df.select((seriesIds ++ Seq(startTs, endTs) ++ ms).map(col): _*)

    // 1. distinct boundary points per series → elementary segments
    val boundaries = work
      .select(series :+ explode(array(col(startTs), col(endTs))).alias("__b"): _*)
      .distinct()
    val wb = Window.partitionBy(series: _*).orderBy(col("__b"))
    val segments = boundaries
      .withColumn("__b2", lead(col("__b"), 1).over(wb))
      .filter(col("__b2").isNotNull)

    // 2. segments ⋈ covering intervals (overlap: seg.start < i.end ∧ seg.end > i.start)
    val i = work.alias("i")
    val s = segments.alias("s")
    val joinCond = seriesIds.map(c => col(s"s.$c") === col(s"i.$c")).reduce(_ && _) &&
      col("s.__b") < col(s"i.$endTs") && col("s.__b2") > col(s"i.$startTs")

    // 3. merge metrics: latest non-null wins in (start, end) interval order
    val merged = s.join(i, joinCond, "inner")
      .groupBy(seriesIds.map(c => col(s"s.$c")) :+ col("s.__b") :+ col("s.__b2"): _*)
      .agg(
        ms.map(m => max(when(col(s"i.$m").isNotNull,
          struct(col(s"i.$startTs"), col(s"i.$endTs"), col(s"i.$m").alias("v"))))
          .getField("v").alias(m)).head,
        ms.map(m => max(when(col(s"i.$m").isNotNull,
          struct(col(s"i.$startTs"), col(s"i.$endTs"), col(s"i.$m").alias("v"))))
          .getField("v").alias(m)).tail: _*)
      .select(seriesIds.map(col) ++
        Seq(col("__b").alias(startTs), col("__b2").alias(endTs)) ++ ms.map(col): _*)

    // 4. coalesce adjacent segments whose metric vectors are identical
    //    (null-safe). Gaps-and-islands over the segments.
    val wSeg = Window.partitionBy(series: _*).orderBy(col(startTs))
    val sameAsPrev = (ms.map(m => col(m) <=> lag(col(m), 1).over(wSeg)) :+
      (col(startTs) <=> lag(col(endTs), 1).over(wSeg))).reduce(_ && _)
    val islands = merged
      .withColumn("__brk", when(sameAsPrev, 0).otherwise(1))
      .withColumn("__grp", sum(col("__brk")).over(
        wSeg.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands
      .groupBy((seriesIds :+ "__grp").map(col): _*)
      .agg(
        min(col(startTs)).alias(startTs),
        max(col(endTs)).alias(endTs) +: ms.map(m => first(col(m)).alias(m)): _*)
      .select(seriesIds.map(col) ++ Seq(col(startTs), col(endTs)) ++ ms.map(col): _*)
  }

  test("one series of 5k mutually-overlapping intervals completes via the sweep-line") {
    // interval i = [i, 10000 + i) — every pair overlaps, depth = 5000; the
    // relational path would join ~10k segments x 5k covering intervals
    val n = 5000
    val rows = (0 until n).map(i =>
      ("s", ts(i.toLong * 1000), ts((10000L + i) * 1000), Double.box(i.toDouble)))
    val t0 = System.nanoTime()
    val out = idf(rows).makeDisjoint().df.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 60, s"sweep-line fallback took $secs s")
    // disjoint cover: the latest-start interval wins each segment and runs
    // of equal winners coalesce — the winner changes at every interval start
    // and everything from the last start onward is one run, so n rows
    assert(out.length == n, s"expected $n rows, got ${out.length}")
    val byStart = out.sortBy(_.getTimestamp(1).getTime)
    // each segment's winner is the covering interval with the largest start
    byStart.zipWithIndex.foreach { case (r, i) =>
      val expected = math.min(i, n - 1).toDouble
      assert(r.getDouble(3) == expected, s"row $i: $r")
    }
  }

  test("makeDisjoint equals the relational reference on random interval sets") {
    val rnd = new scala.util.Random(1234)
    (0 until 25).foreach { trial =>
      val rows = (0 until 40).map { _ =>
        val series = "abc".charAt(rnd.nextInt(3)).toString
        val start = rnd.nextInt(50).toLong
        val len = rnd.nextInt(31).toLong // zero-length intervals included
        val value =
          if (rnd.nextInt(5) == 0) null else Double.box(rnd.nextInt(6).toDouble)
        (series, ts(start * 1000000L), ts((start + len) * 1000000L), value)
      }
      val in = idf(rows)
      withClue(s"trial $trial: ") {
        assertDfEquality(in.makeDisjoint().df, relationalReference(in))
      }
    }
  }

  test("property: makeDisjoint equals the relational reference on staircases " +
      "of depth 255/256/257 with mixed-type/null metrics") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val spark2 = spark
    import spark2.implicits._
    val thr = 256
    // metric generators: nullable double + nullable string (mixed types)
    val md = Gen.option(Gen.choose(0, 5).map(_.toDouble))
    val ms = Gen.option(Gen.oneOf("a", "b", "c"))
    val metricsGen = Gen.listOfN(3 * (thr + 1) + 20, Gen.zip(md, ms))
    val prop = Prop.forAll(metricsGen) { metrics =>
      // three staircase series with max overlap depth EXACTLY 255, 256,
      // 257 (interval i = [i, k+i) ⇒ depth k at t = k−1) plus a shallow
      // one: the kernel must match the reference bit-for-bit whatever the
      // metric values/null patterns are
      val it = metrics.iterator
      def staircase(name: String, k: Int) = (0 until k).map { i =>
        val (m1, m2) = it.next()
        (name, ts(i.toLong * 1000000L), ts((k + i).toLong * 1000000L),
          m1.map(Double.box).orNull, m2.orNull)
      }
      val rows = staircase("below", thr - 1) ++ staircase("at", thr) ++
        staircase("above", thr + 1) ++ staircase("shallow", 20)
      val df = rows.toDF("series_1", "start_ts", "end_ts", "m1", "m2")
      val in = IntervalsDF(df, "start_ts", "end_ts", Seq("series_1"))
      assertDfEquality(in.makeDisjoint().df, relationalReference(in))
      true
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("makeDisjoint plans no join and building it starts no Spark job") {
    val rows = Seq(
      ("s", ts(0L), ts(2000000L), Double.box(1.0)),
      ("s", ts(1000000L), ts(3000000L), Double.box(2.0)))
    val (out, jobs) = jobsDuring(idf(rows).makeDisjoint().df)
    assert(jobs == 0, s"building makeDisjoint started $jobs Spark jobs")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    // [1,2) and [2,3) merge to the same value and coalesce into [1,3)
    val got = out.orderBy("start_ts").collect()
    assert(got.map(_.getDouble(3)).toSeq == Seq(1.0, 2.0))
  }

  test("makeDisjoint keeps each metric's type and exact value " +
      "(Int, Long past 2^53, Boolean, nullable Double)") {
    val rnd = new scala.util.Random(53)
    val big = 1L << 53
    val rows = (0 until 300).map { _ =>
      val start = rnd.nextInt(200).toLong
      val len = rnd.nextInt(40).toLong
      def maybe[T](v: => T): Any = if (rnd.nextInt(4) == 0) null else v
      // Long values past 2^53 differ in their last bit: a Double rounds
      // them together and changes both the winner and the coalesce
      Row("abc".charAt(rnd.nextInt(3)).toString, ts(start * 1000000L),
        ts((start + len) * 1000000L), maybe(rnd.nextInt(4)),
        maybe(big + rnd.nextInt(3)), maybe(rnd.nextBoolean()),
        maybe(rnd.nextInt(3).toDouble))
    }
    val schema = StructType(Seq(
      StructField("series_1", StringType), StructField("start_ts", TimestampType),
      StructField("end_ts", TimestampType), StructField("mi", IntegerType),
      StructField("ml", LongType), StructField("mb", BooleanType),
      StructField("md", DoubleType)))
    val in = IntervalsDF(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema),
      "start_ts", "end_ts", Seq("series_1"))
    val got = in.makeDisjoint().df
    val want = relationalReference(in)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)), got.schema.treeString)
    assert(got.schema.map(_.dataType).drop(3) ==
      Seq(IntegerType, LongType, BooleanType, DoubleType))
    assert(want.collect().exists(r => !r.isNullAt(4) && r.getLong(4) > big))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}

package graft.io

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.MortonInterleave
import graft.tsdf.TSDF

/** Morton interleave correctness + the data-skipping property the Z-order
  * writer exists for: chunk (row-group) min/max envelopes on a non-leading
  * key stay selective under the Z-curve layout and degenerate under a plain
  * lexicographic sort. */
class ZOrderSpec extends SparkTestBase {

  private def naiveInterleave(vals: Seq[Long], bits: Int): Long = {
    var out = 0L
    for (i <- 0 until bits; j <- vals.indices)
      if (((vals(j) >> i) & 1L) == 1L) out |= 1L << (i * vals.size + j)
    out
  }

  test("interleave2/interleave3 match the naive bit loop on random inputs") {
    val rnd = new scala.util.Random(7)
    (0 until 500).foreach { _ =>
      val a = rnd.nextLong() & 0x7fffffffL
      val b = rnd.nextLong() & 0x7fffffffL
      assert(MortonInterleave.interleave2(a, b) == naiveInterleave(Seq(a, b), 31))
      val (x, y, z) =
        (rnd.nextLong() & 0x1fffffL, rnd.nextLong() & 0x1fffffL, rnd.nextLong() & 0x1fffffL)
      assert(MortonInterleave.interleave3(x, y, z) == naiveInterleave(Seq(x, y, z), 21))
    }
  }

  test("morton expression evaluates in a plan and matches the JVM helper") {
    val spark2 = spark
    import spark2.implicits._
    val df = (0L until 100L).map(i => (i, i * 7 % 64, i * 13 % 64)).toDF("i", "a", "b")
    val got = df.select(col("i"), org.apache.spark.sql.GraftColumns.column(
      MortonInterleave(Seq(
        org.apache.spark.sql.GraftColumns.expression(col("a")),
        org.apache.spark.sql.GraftColumns.expression(col("b"))))).alias("z"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 100L).foreach { i =>
      assert(got(i) == MortonInterleave.interleave2(i * 7 % 64, i * 13 % 64))
    }
  }

  test("z-curve layout keeps row-group envelopes selective on the second key") {
    val spark2 = spark
    import spark2.implicits._
    // two independent uniform keys; a lexicographic (x, y) sort makes every
    // chunk's y-envelope span the full domain, the z-curve does not
    val rnd = new scala.util.Random(11)
    val rows = (0 until 4096).map(_ => (rnd.nextInt(256), rnd.nextInt(256)))
    val df = rows.toDF("x", "y")
      .withColumn("xl", col("x").cast("long")).withColumn("yl", col("y").cast("long"))
    val z = ZOrder.zvalue(df, Seq("x", "y"), bits = 8)

    def matchingChunks(sorted: Array[(Int, Int)]): Int = {
      val chunks = sorted.grouped(64).toSeq // 64 chunks of 64 rows
      chunks.count { ch =>
        val ys = ch.map(_._2)
        ys.min <= 7 && 7 <= ys.max // would this "row group" survive y = 7?
      }
    }
    val zSorted = df.orderBy(z).select("x", "y").collect().map(r => (r.getInt(0), r.getInt(1)))
    val lexSorted = df.orderBy(col("x"), col("y")).select("x", "y")
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    val (zHit, lexHit) = (matchingChunks(zSorted), matchingChunks(lexSorted))
    // 64 uniform chunks: lexicographic order leaves ~every chunk matching the
    // y predicate; the z-curve confines y=7 to the low-y quarter of the curve
    assert(lexHit >= 48, s"lex baseline unexpectedly selective: $lexHit/64")
    assert(zHit <= lexHit / 2, s"z-order not selective: $zHit vs lex $lexHit")
  }

  test("hilbert2 is a bijection with Manhattan-adjacent consecutive steps") {
    import graft.functions.HilbertIndex.hilbert2
    val bits = 4
    val n = 1 << bits
    val byD = (for (x <- 0 until n; y <- 0 until n)
      yield hilbert2(bits, x, y) -> (x, y)).toMap
    // bijection: all n*n indices 0..n^2-1 hit exactly once
    assert(byD.keySet == (0L until (n.toLong * n)).toSet)
    // the defining Hilbert property (and what Morton lacks): every step
    // along the curve moves to a Manhattan-adjacent cell
    (0L until n.toLong * n - 1).foreach { d =>
      val (x1, y1) = byD(d)
      val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"step $d: ($x1,$y1) -> ($x2,$y2)")
    }
  }

  test("hilbert layout is at least as chunk-selective as z-order") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 4096).map(_ => (rnd.nextInt(256), rnd.nextInt(256)))
    val df = rows.toDF("x", "y")
    val h = ZOrder.hvalue(df, Seq("x", "y"), bits = 8)
    val z = ZOrder.zvalue(df, Seq("x", "y"), bits = 8)
    def matchingChunks(sorted: Array[(Int, Int)]): Int =
      sorted.grouped(64).count { ch =>
        val ys = ch.map(_._2); ys.min <= 7 && 7 <= ys.max
      }
    def sortedBy(c: org.apache.spark.sql.Column) =
      df.orderBy(c).select("x", "y").collect().map(r => (r.getInt(0), r.getInt(1)))
    val (hHit, zHit) = (matchingChunks(sortedBy(h)), matchingChunks(sortedBy(z)))
    assert(hHit <= zHit, s"hilbert $hHit vs zorder $zHit chunks match y=7")
    assert(hHit <= 16, s"hilbert not selective: $hHit/64")
  }

  test("curve=hilbert write round-trips the same rows") {
    val spark2 = spark
    import spark2.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (0 until 500).map(i =>
      ("s" + i % 5, new java.sql.Timestamp(ts0 + i * 60000L), i.toDouble))
    val in = TSDF(rows.toDF("series", "ts", "value"), "ts", Seq("series"))
    val dir = caseDir("hilbert_write") + "/out"
    TSDFWriter.write(in, dir, zorderCols = Seq("ts", "value"), curve = "hilbert")
    val back = spark.read.parquet(dir).select("series", "ts", "value")
    assertDfEquality(back, in.df)
  }

  test("zorderCols write round-trips the same rows") {
    val spark2 = spark
    import spark2.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (0 until 500).map(i =>
      ("s" + i % 5, new java.sql.Timestamp(ts0 + i * 60000L), i.toDouble))
    val in = TSDF(rows.toDF("series", "ts", "value"), "ts", Seq("series"))
    val dir = caseDir("zorder_write") + "/out"
    TSDFWriter.write(in, dir, zorderCols = Seq("ts", "value"))
    val back = spark.read.parquet(dir)
      .select("series", "ts", "value")
    assertDfEquality(back, in.df)
  }
}

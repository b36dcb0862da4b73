package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.tsdf.TSDF
import graft.intervals.IntervalsDF
import graft.ml.TimeSeriesCrossValidator
import graft.pipeline.Hashing

import Inputs._

/** IntervalsDF (pivot, stack, set algebra, disjoint/union and their
  * stream twins), io (writer round trips, bucketed and z-ordered layouts,
  * Hilbert keys), ml (time-series CV folds and walk-forward splits) and
  * the TPC-H canaries. */
private[graft] object IntervalsIoMlQueries extends QueryFamily {

  spec("q_intervals_pivot", """SELECT user_id, epoch_us(date_trunc('hour', ts)) AS start_us,
        |epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS end_us,
        |max(value) FILTER (WHERE event_type = 'click') AS click,
        |max(value) FILTER (WHERE event_type = 'error') AS error,
        |max(value) FILTER (WHERE event_type = 'purchase') AS purchase,
        |max(value) FILTER (WHERE event_type = 'signup') AS signup,
        |max(value) FILTER (WHERE event_type = 'view') AS "view"
        |FROM events GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
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

  spec("q_intervals_stack", {
      val one = (m: String) =>
        s"""SELECT l_orderkey, l_linenumber, epoch_us(l_shipdate) AS start_us,
           |epoch_us(l_shipdate + INTERVAL 1 DAY) AS end_us,
           |'$m' AS metric_name, CAST($m AS DOUBLE) AS metric_value
           |FROM lineitem WHERE $m IS NOT NULL""".stripMargin
      Seq("l_quantity", "l_discount", "l_tax").map(one).mkString(" UNION ALL ")
    }) { (s, dir) =>
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
  // interval overlap join (half-open): plain theta join is the oracle for
  // the bin-decomposed equi-join
  spec("q_interval_join", """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS s,
        |  epoch_us(ts + INTERVAL 2 HOUR) AS e FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS right_event_id, epoch_us(ts) AS rs,
        |  epoch_us(ts + INTERVAL 2 HOUR) AS re FROM events
        |  WHERE event_type = 'purchase')
        |SELECT c.user_id, c.event_id, c.s AS start_us,
        |  p.right_event_id, p.rs AS right_start_us,
        |  greatest(c.s, p.rs) AS ov_start_us, least(c.e, p.re) AS ov_end_us
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND c.s < p.re AND p.rs < c.e""".stripMargin) { (s, dir) =>
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

  /** Boundary-delta sweep for interval coverage algebra: running per-side
    * depths over sorted (+1/−1) boundary events, keep elementary segments
    * passing `keepCond`, coalesce adjacent survivors via an island sum. */
  private def intervalAlgebraSql(keepCond: String): String =
    s"""WITH a AS (SELECT user_id, epoch_us(ts) AS s,
       |  epoch_us(ts + INTERVAL 2 HOUR) AS e FROM events
       |  WHERE event_type = 'click'),
       |b AS (SELECT user_id, epoch_us(ts) AS s,
       |  epoch_us(ts + INTERVAL 2 HOUR) AS e FROM events
       |  WHERE event_type = 'purchase'),
       |ev AS (
       |  SELECT user_id, s AS t, CAST(1 AS BIGINT) AS da, CAST(0 AS BIGINT) AS db FROM a
       |  UNION ALL SELECT user_id, e, -1, 0 FROM a
       |  UNION ALL SELECT user_id, s, 0, 1 FROM b
       |  UNION ALL SELECT user_id, e, 0, -1 FROM b),
       |r AS (SELECT user_id, t,
       |  sum(da) OVER w AS deptha, sum(db) OVER w AS depthb,
       |  lead(t) OVER (PARTITION BY user_id ORDER BY t, da, db) AS nxt
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, da, db
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |k AS (SELECT user_id, t, nxt FROM r
       |  WHERE nxt > t AND $keepCond),
       |i AS (SELECT user_id, t, nxt,
       |  CASE WHEN t = lag(nxt) OVER (PARTITION BY user_id ORDER BY t)
       |    THEN 0 ELSE 1 END AS nw FROM k),
       |i2 AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY t
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM i)
       |SELECT user_id, min(t) AS start_us, max(nxt) AS end_us
       |FROM i2 GROUP BY user_id, isl""".stripMargin

  // coverage set algebra: the same boundary-delta sweep replayed in SQL
  // (ties at equal t break on (da, db) in both engines; see
  // IntervalsDF.coverageAlgebra)
  spec("q_interval_intersect", intervalAlgebraSql("deptha > 0 AND depthb > 0")) { (s, dir) =>
    qIntervalAlgebra(s, dir, "intersect")
  }

  spec("q_interval_subtract", intervalAlgebraSql("deptha > 0 AND depthb = 0")) { (s, dir) =>
    qIntervalAlgebra(s, dir, "subtract")
  }

  /** Tag click events with the purchase-derived interval containing them. */
  // point-in-interval join (half-open containment): plain theta join is
  // the oracle for the bin-decomposed equi-join
  spec("q_point_in_interval", """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'click'),
        |i AS (SELECT user_id, event_id AS interval_iv_id, epoch_us(ts) AS s,
        |  epoch_us(ts + INTERVAL 2 HOUR) AS e FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id, p.t AS ts_us, i.interval_iv_id,
        |  i.s AS iv_start_us, i.e AS iv_end_us
        |FROM p JOIN i ON p.user_id = i.user_id
        |  AND i.s <= p.t AND p.t < i.e""".stripMargin) { (s, dir) =>
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

  /** occurrences of a marker in padded lowercase text */
  // multi-query BM25 replay - shared by q_bm25_multi (one-pass) and
  /** makeDisjoint replay shared by the batch query and its streaming
    * latest-rev-snapshot twin: boundary grid, per-segment winner under
    * the kernel's full max(struct(start, end, value)) total order,
    * adjacent equal-value coalesce. */
  private lazy val intervalsDisjointSql: String =
    """WITH iv AS (SELECT user_id, ts AS s, ts + INTERVAL 2 HOUR AS e, value FROM events),
      |b AS (SELECT user_id, s AS p FROM iv UNION SELECT user_id, e AS p FROM iv),
      |seg AS (SELECT user_id, p, lead(p) OVER (PARTITION BY user_id ORDER BY p) AS p2 FROM b),
      |sg AS (SELECT user_id, p, p2 FROM seg WHERE p2 IS NOT NULL),
      |m AS (SELECT g.user_id, g.p, g.p2,
      |  (max({'s': i.s, 'e': i.e, 'v': i.value})).v AS value
      |  FROM sg g JOIN iv i ON g.user_id = i.user_id AND g.p < i.e AND g.p2 > i.s
      |  GROUP BY g.user_id, g.p, g.p2),
      |fl AS (SELECT *, CASE WHEN p IS NOT DISTINCT FROM lag(p2) OVER w
      |    AND value IS NOT DISTINCT FROM lag(value) OVER w THEN 0 ELSE 1 END AS brk
      |  FROM m WINDOW w AS (PARTITION BY user_id ORDER BY p)),
      |g2 AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY p
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM fl)
      |SELECT user_id, epoch_us(min(p)) AS start_us, epoch_us(max(p2)) AS end_us,
      |  max(value) AS value
      |FROM g2 GROUP BY user_id, grp""".stripMargin

  spec("q_intervals_disjoint", intervalsDisjointSql) { (s, dir) =>
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
  spec("q_intervals_union", {
      def iv(t: String) =
        s"""SELECT user_id, epoch_us(ts) AS start_us,
           |epoch_us(ts + INTERVAL 1 HOUR) AS end_us, value
           |FROM events WHERE event_type = '$t'""".stripMargin
      // positional union of clicks + purchases, then by-name union of the
      // purchases again (column order is irrelevant to the value multiset)
      s"${iv("click")} UNION ALL ${iv("purchase")} UNION ALL ${iv("purchase")}"
    }) { (s, dir) =>
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

  spec("q_write_roundtrip", """SELECT user_id, epoch_us(ts) AS ts_us, value,
        |CAST(CAST(strftime(ts, '%H%M%S') AS BIGINT) AS DOUBLE) AS event_time,
        |CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS event_dt_days
        |FROM events""".stripMargin)(qWriteRoundtrip)

  /** Series-bucketed catalog-table round-trip: bucketBy(user_id) +
    * sortBy(user_id, ts), read back value-faithfully (the shuffle-free
    * read plans are asserted in BucketedWriteSpec). */
  // replays what the sink derives and persists: event_dt partition (epoch
  // days) and the HHmmss-as-double event_time; value/ts round-trip exactly
  // bucketed-table round-trip is value-faithful (layout-independent)
  spec("q_write_bucketed", """SELECT user_id, epoch_us(ts) AS ts_us, value FROM events""") { (s, dir) =>
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
  // same multiset as q_write_roundtrip: the z-curve changes only layout
  spec("q_write_zorder", """SELECT user_id, epoch_us(ts) AS ts_us, value,
        |CAST(CAST(strftime(ts, '%H%M%S') AS BIGINT) AS DOUBLE) AS event_time,
        |CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS event_dt_days
        |FROM events""".stripMargin) { (s, dir) =>
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
  // Hilbert index replay: the identical per-level rotate-and-reflect
  // arithmetic as graft.functions.HilbertIndex.hilbert2, run as a
  // recursive CTE over (x, y, s, d) — pure integer ops, s halves from
  // 2^(bits-1) to 0, rows finish when s = 0.
  spec("q_hilbert", """WITH RECURSIVE pts AS (
        |  SELECT o_orderkey, CAST(o_orderkey % 256 AS BIGINT) AS x0,
        |         CAST(o_custkey % 256 AS BIGINT) AS y0
        |  FROM orders WHERE o_orderkey < 4000),
        |walk AS (
        |  SELECT o_orderkey, x0, y0, x0 AS x, y0 AS y,
        |         CAST(128 AS BIGINT) AS s, CAST(0 AS BIGINT) AS d
        |  FROM pts
        |  UNION ALL
        |  SELECT o_orderkey, x0, y0,
        |    CASE WHEN (y // s) % 2 = 1 THEN x
        |         WHEN (x // s) % 2 = 1 THEN 255 - y ELSE y END,
        |    CASE WHEN (y // s) % 2 = 1 THEN y
        |         WHEN (x // s) % 2 = 1 THEN 255 - x ELSE x END,
        |    s // 2,
        |    d + s * s * xor(3 * ((x // s) % 2), (y // s) % 2)
        |  FROM walk WHERE s >= 1)
        |SELECT o_orderkey, x0 AS x, y0 AS y, d AS hilbert_d
        |FROM walk WHERE s = 0""".stripMargin) { (s, dir) =>
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

  spec("q_cv_folds", """SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |CAST(ntile(6) OVER (PARTITION BY user_id ORDER BY ts) - 1 AS BIGINT) AS split_idx
        |FROM events""".stripMargin) { (s, dir) =>
    TimeSeriesCrossValidator.withSplitIndex(
      events(s, dir).select("user_id", "ts", "event_id"), "ts", Seq("user_id"), 6)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"), col("event_id"),
        col("split_idx").cast(LongType).alias("split_idx"))
  }

  spec("q1_pricing_summary", """SELECT l_returnflag, l_linestatus,
        |sum(l_quantity) AS sum_qty,
        |sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
        |sum(CAST(round(l_extendedprice * 100) * (100 - round(l_discount * 100)) AS BIGINT)) / 10000.0 AS sum_disc_price,
        |sum(CAST(round(l_extendedprice * 100) * (100 - round(l_discount * 100)) * (100 + round(l_tax * 100)) AS BIGINT)) / 1000000.0 AS sum_charge,
        |avg(l_quantity) AS avg_qty,
        |avg(round(l_extendedprice * 100)) / 100.0 AS avg_price,
        |avg(round(l_discount * 100)) / 100.0 AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
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
  }

  spec("q_revenue_nation", """SELECT r_name, n_name,
        |sum(round(l_extendedprice * 100) * (100 - round(l_discount * 100))) / 10000.0 AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(tbl(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg((sum(cents(col("l_extendedprice")) * (lit(100) - cents(col("l_discount"))))
        / 10000.0).alias("revenue"))
  }

  spec("q_top_orders", """SELECT o_custkey, CAST(rn AS BIGINT) AS "rank", o_orderkey, o_totalprice FROM
        |(SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        | FROM orders) t
        |WHERE rn <= 3""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    tbl(s, dir, "orders")
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("o_custkey"), col("rank"), col("o_orderkey"), col("o_totalprice"))
  }

  /** Walk-forward purged CV with a 1-hour embargo
    * ([[graft.pipeline.Splits.walkForwardFolds]]): per eval fold, its
    * validation rows plus strictly-earlier training rows clearing the
    * embargo before the fold start. */
  // Walk-forward purged-CV replay: ntile folds per series, per-fold
  // min-ts starts, role CASE with the embargo in exact microseconds.
  spec("q_walk_forward", """WITH f AS (SELECT user_id, ts, event_id,
        |  CAST(ntile(5) OVER (PARTITION BY user_id ORDER BY ts) - 1
        |    AS BIGINT) AS fold FROM events),
        |st AS (SELECT user_id, fold AS fold_eval,
        |  min(epoch_us(ts)) AS fstart FROM f GROUP BY 1, 2),
        |x AS (SELECT f.user_id, f.ts, f.event_id, f.fold,
        |    CAST(e.fold_eval AS BIGINT) AS fold_eval, st.fstart,
        |    CASE WHEN f.fold = e.fold_eval THEN 'val'
        |         WHEN f.fold < e.fold_eval
        |           AND epoch_us(f.ts) < st.fstart - 3600000000
        |           THEN 'train' END AS role
        |  FROM f
        |  CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS fold_eval) e
        |  JOIN st ON st.user_id = f.user_id AND st.fold_eval = e.fold_eval)
        |SELECT user_id, epoch_us(ts) AS ts_us, event_id, fold, fold_eval,
        |  role
        |FROM x WHERE role IS NOT NULL""".stripMargin) { (s, dir) =>
    graft.pipeline.Splits.walkForwardFolds(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id")),
      "ts", Seq("user_id"), nFolds = 5, embargoSecs = 3600L)
      .select(col("user_id"), usec(col("ts")).alias("ts_us"),
        col("event_id"), col("fold"), col("fold_eval"), col("role"))
  }

  /** Group-leakage-safe split: the hash split keyed on the GROUP column
    * (source), so every document of a domain lands in the same split —
    * near-duplicates within a domain cannot straddle train/test. */
  // Group-leakage-safe split replay: the q_split_assign carve keyed on
  // the group column.
  spec("q_split_group", {
      val bucket =
        s"(${Hashing.mixSql(Hashing.polyHashSql("source"), 7)}) % 10"
      s"""SELECT doc_id, source,
         |CAST(CASE WHEN $bucket < 8 THEN 0 WHEN $bucket < 9 THEN 1
         |  ELSE 2 END AS BIGINT) AS split
         |FROM documents""".stripMargin
    }) { (s, dir) =>
    docs(s, dir).select(col("doc_id"), col("source"))
      .withColumn("split",
        graft.pipeline.Splits.splitIndex(col("source"), Seq(8, 1, 1)))
  }

  /** Streaming interval algebra — the §2.6 family's streaming face
    * ([[graft.streaming.StreamingTSDF.disjointIntervals]]): state per
    * series is the elementary disjoint grid with per-segment winner
    * structs; each touched series emits its full coalesced snapshot per
    * batch under a monotone rev, and "latest rev per series" IS the batch
    * makeDisjoint of everything ingested for ANY micro-batch split (the
    * randomized differential pins arbitrary arrival ORDER too). Shares
    * q_intervals_disjoint's oracle verbatim. */
  // the streaming maintainer's latest-rev snapshot IS the batch
  // makeDisjoint of everything ingested — the oracle is shared verbatim
  spec("q_stream_intervals", intervalsDisjointSql) { (s0, dir) =>
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

  /** Two-metric makeDisjoint replay (q_stream_intervals2): per-metric
    * winners resolved INDEPENDENTLY — the kernel's FULL
    * max(struct(start, end, value)) total order over each metric's
    * non-null carriers (DuckDB struct max is the same lexicographic
    * compare, so the replay no longer leans on the per-user-unique-ts
    * fixture premise) — and the coalesce break tests BOTH values
    * null-safely. */
  private lazy val intervalsDisjoint2Sql: String =
    """WITH iv AS (SELECT user_id, ts AS s, ts + INTERVAL 2 HOUR AS e,
      |  CASE WHEN event_id % 5 <> 0 THEN value END AS v1,
      |  CASE WHEN event_id % 3 <> 0 THEN CAST(event_id % 100 AS DOUBLE) END AS v2
      |  FROM events),
      |b AS (SELECT user_id, s AS p FROM iv UNION SELECT user_id, e AS p FROM iv),
      |seg AS (SELECT user_id, p, lead(p) OVER (PARTITION BY user_id ORDER BY p) AS p2 FROM b),
      |sg AS (SELECT user_id, p, p2 FROM seg WHERE p2 IS NOT NULL),
      |m AS (SELECT g.user_id, g.p, g.p2,
      |  (max({'s': i.s, 'e': i.e, 'v': i.v1}) FILTER (WHERE i.v1 IS NOT NULL)).v AS value,
      |  (max({'s': i.s, 'e': i.e, 'v': i.v2}) FILTER (WHERE i.v2 IS NOT NULL)).v AS score
      |  FROM sg g JOIN iv i ON g.user_id = i.user_id AND g.p < i.e AND g.p2 > i.s
      |  GROUP BY g.user_id, g.p, g.p2),
      |fl AS (SELECT *, CASE WHEN p IS NOT DISTINCT FROM lag(p2) OVER w
      |    AND value IS NOT DISTINCT FROM lag(value) OVER w
      |    AND score IS NOT DISTINCT FROM lag(score) OVER w THEN 0 ELSE 1 END AS brk
      |  FROM m WINDOW w AS (PARTITION BY user_id ORDER BY p)),
      |g2 AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY p
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM fl)
      |SELECT user_id, epoch_us(min(p)) AS start_us, epoch_us(max(p2)) AS end_us,
      |  max(value) AS value, max(score) AS score
      |FROM g2 GROUP BY user_id, grp""".stripMargin

  /** Two-metric streaming makeDisjoint — the per-metric-winner face of
    * the maintainer: value and score carry INDEPENDENT null patterns
    * (id-derived), so segments exist whose metrics resolve from
    * different covering intervals. */
  spec("q_stream_intervals2", intervalsDisjoint2Sql) { (s0, dir) =>
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
}

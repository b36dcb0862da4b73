package graft.intervals

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DataFrame of time intervals: `[startTs, endTs)` boundaries + series ids +
  * metric columns (auto-detected: numeric or boolean, as in
  * /root/reference/python/tempo/intervals.py:26-38,131-133).
  *
  * The flagship operation `makeDisjoint` splits every set of overlapping
  * intervals per series into a disjoint cover, merging metrics of overlapping
  * pieces (reference: a pandas sweep-line kernel via `applyInPandas`,
  * intervals.py:223-278,1070-1331). It is the same per-series sweep here:
  * one `flatMapGroups` call per series of [[DisjointSweep]], the kernel that
  * [[graft.streaming.StreamingTSDF.disjointIntervals]] runs on its state, so
  * a series is one task. The joins and the coverage algebra stay
  * relational plans.
  */
case class IntervalsDF(
    df: DataFrame,
    startTs: String = "start_ts",
    endTs: String = "end_ts",
    seriesIds: Seq[String] = Seq.empty) {

  def metricCols: Seq[String] =
    df.schema.fields.collect {
      case f if !Seq(startTs, endTs).contains(f.name) && !seriesIds.contains(f.name) &&
        (f.dataType.isInstanceOf[NumericType] || f.dataType == BooleanType) => f.name
    }.toSeq

  /** Overlapping-interval join against `other` on the shared series ids:
    * one row per pair of intervals with `start < other.end AND other.start
    * < end` (half-open convention — touching endpoints do not overlap),
    * carrying both payloads plus the intersection bounds.
    *
    * The naive theta-join is a per-series cross product — quadratic in the
    * busiest series. Here each interval explodes into the fixed-width time
    * bins it covers and candidates pair through a plain (series, bin)
    * EQUI-join — the standard scalable range-join decomposition, which
    * shuffles on uniformly-distributed bin keys instead of nesting loops.
    * A pair spanning several shared bins is emitted exactly ONCE, by the
    * bin containing the overlap's start — a filter, not a distinct pass.
    * Pick `binSeconds` near the typical interval length: per-side explode
    * cost is span/bin rows per interval, and per-bin fan-in stays bounded
    * when bins are not much wider than intervals.
    *
    * Long-interval guard: an interval spanning more than
    * `maxBinsPerInterval` bins (a year-long outlier at 1 h bins is 8,760
    * rows) does NOT explode — such intervals route through a hybrid side:
    * they join the other side's intervals on the plain series equi-key with
    * the overlap predicate as a filter. Long intervals are assumed to be
    * outliers, so that side is small; AQE sees its runtime size and
    * broadcasts it (and when it is empty, propagates the empty relation so
    * the extra branches cost nothing). Without the guard a mixed workload
    * (mostly short + a few very long intervals) quietly goes quadratic-ish
    * in explode volume.
    *
    * Output: seriesIds ++ left payload ++ `right_`-prefixed right payload
    * ++ (overlap_start_ts, overlap_end_ts). */
  def overlapJoin(other: IntervalsDF, binSeconds: Long = 3600L,
      rightPrefix: String = "right_",
      maxBinsPerInterval: Long = 256L): DataFrame = {
    require(binSeconds > 0, "binSeconds must be positive")
    require(maxBinsPerInterval >= 1, "maxBinsPerInterval must be >= 1")
    require(seriesIds == other.seriesIds,
      s"series ids must match: $seriesIds vs ${other.seriesIds}")
    val w = binSeconds * 1000000L
    def prepared(iv: IntervalsDF, prefix: String, sTag: String, eTag: String) = {
      val payload = iv.df.columns.filterNot(iv.seriesIds.contains)
      val renamed = payload.foldLeft(iv.df) { (d, c) =>
        if (prefix.isEmpty) d else d.withColumnRenamed(c, prefix + c)
      }
      renamed
        .withColumn(sTag, unix_micros(col(prefix + iv.startTs)))
        .withColumn(eTag, unix_micros(col(prefix + iv.endTs)))
        .filter(col(eTag) > col(sTag))
        .withColumn("__nbins",
          expr(s"($eTag - 1) div $w - $sTag div $w + 1"))
    }
    def short(p: DataFrame, sTag: String, eTag: String) =
      p.filter(col("__nbins") <= maxBinsPerInterval)
        .withColumn("__bin",
          explode(sequence(expr(s"$sTag div $w"), expr(s"($eTag - 1) div $w"))))
    val lp = prepared(this, "", "__su", "__eu")
    val rp = prepared(other, rightPrefix, "__rsu", "__reu")
    val overlap = col("__su") < col("__reu") && col("__rsu") < col("__eu")
    def finish(joined: DataFrame): DataFrame = joined
      .filter(overlap)
      .withColumn("overlap_start_ts",
        timestamp_micros(greatest(col("__su"), col("__rsu"))))
      .withColumn("overlap_end_ts",
        timestamp_micros(least(col("__eu"), col("__reu"))))
      .drop("__bin", "__nbins", "__su", "__eu", "__rsu", "__reu")
    // short×short: the bin equi-join, each pair emitted by its overlap-start bin
    val a = finish(short(lp, "__su", "__eu")
      .join(short(rp, "__rsu", "__reu").drop("__nbins"), seriesIds :+ "__bin", "inner")
      .filter(expr(s"greatest(__su, __rsu) div $w") === col("__bin")))
    // long-left × all-right, short-left × long-right: series equi-join;
    // the three branches partition the pair space, so a plain union (no
    // distinct) keeps each pair exactly once
    val b = finish(lp.filter(col("__nbins") > maxBinsPerInterval).drop("__nbins")
      .join(rp.drop("__nbins"), seriesIds, "inner"))
    val c = finish(lp.filter(col("__nbins") <= maxBinsPerInterval).drop("__nbins")
      .join(rp.filter(col("__nbins") > maxBinsPerInterval).drop("__nbins"),
        seriesIds, "inner"))
    val cols = a.columns.toIndexedSeq.map(col)
    a.select(cols: _*).union(b.select(cols: _*)).union(c.select(cols: _*))
  }

  /** Point-in-interval join: one row per (point, interval) pair with
    * `start <= point.ts < end` on the shared series ids — the "tag every
    * event with its containing regime/session/maintenance window" step.
    * A point inside k overlapping intervals emits k rows; make the
    * intervals disjoint first ([[makeDisjoint]]) for at-most-one semantics.
    *
    * Same scalable decomposition as [[overlapJoin]]: intervals explode into
    * the fixed-width time bins they cover, each point computes its single
    * bin, and candidates pair through a plain (series, bin) EQUI-join — a
    * point's bin is unique, so each qualifying pair matches exactly one bin
    * row and no dedup pass exists. Intervals spanning more than
    * `maxBinsPerInterval` bins skip the explode and route through the
    * hybrid series-keyed side (assumed rare ⇒ AQE broadcasts it), so one
    * year-long outlier cannot inflate explode volume.
    *
    * Output: seriesIds ++ point payload ++ `prefix`-renamed interval
    * payload. */
  def pointJoin(points: DataFrame, pointTs: String, binSeconds: Long = 3600L,
      prefix: String = "interval_",
      maxBinsPerInterval: Long = 256L): DataFrame = {
    require(binSeconds > 0, "binSeconds must be positive")
    require(maxBinsPerInterval >= 1, "maxBinsPerInterval must be >= 1")
    require(seriesIds.forall(points.columns.contains),
      s"points must carry the series id columns $seriesIds")
    val w = binSeconds * 1000000L
    val ivPayload = df.columns.filterNot(seriesIds.contains)
    val iv = ivPayload.foldLeft(df)((d, c) => d.withColumnRenamed(c, prefix + c))
      .withColumn("__su", unix_micros(col(prefix + startTs)))
      .withColumn("__eu", unix_micros(col(prefix + endTs)))
      .filter(col("__eu") > col("__su"))
      .withColumn("__nbins", expr(s"(__eu - 1) div $w - __su div $w + 1"))
    val pts = points
      .withColumn("__pu", unix_micros(col(pointTs)))
      .withColumn("__bin", expr(s"__pu div $w"))
    val contains = col("__su") <= col("__pu") && col("__pu") < col("__eu")
    def finish(joined: DataFrame): DataFrame = joined.filter(contains)
      .drop("__bin", "__nbins", "__su", "__eu", "__pu")
    val short = finish(pts.join(
      iv.filter(col("__nbins") <= maxBinsPerInterval)
        .withColumn("__bin",
          explode(sequence(expr(s"__su div $w"), expr(s"(__eu - 1) div $w"))))
        .drop("__nbins"),
      seriesIds :+ "__bin", "inner"))
    val long = finish(pts.drop("__bin").join(
      iv.filter(col("__nbins") > maxBinsPerInterval).drop("__nbins"),
      seriesIds, "inner"))
    val cols = short.columns.toIndexedSeq.map(col)
    short.select(cols: _*).union(long.select(cols: _*))
  }

  /** Interval set algebra on COVERAGE: both sides are read as the union of
    * their half-open intervals per series (self-overlaps and duplicates
    * are fine — only covered-or-not matters), and the result is the
    * maximal disjoint intervals of `A ∩ B` ([[intersectCoverage]]) or
    * `A \ B` ([[subtractCoverage]]). Metric columns do not survive set
    * algebra and are dropped; output schema = seriesIds + (startTs,
    * endTs).
    *
    * Execution is a boundary-delta sweep, all relational: each interval
    * contributes (+1 at start, −1 at end) to its side's running depth;
    * elementary segments between consecutive boundary rows keep
    * depth-based membership (`A ∩ B`: both depths > 0; `A \ B`: left
    * depth > 0, right = 0), and adjacent kept segments coalesce via an
    * island window. NO join and NO explode beyond the fixed 2 rows per
    * interval — boundary volume is linear in interval count, every window
    * rides ONE series exchange (the island merge reuses the same hash
    * partitioning), and ties at equal boundary timestamps resolve
    * order-independently (intermediate rows at a shared t are zero-width
    * and filtered; the surviving row carries the full delta sum, which is
    * commutative). Scales to arbitrarily deep overlap where a pairwise
    * approach (overlapJoin + dedup) would be quadratic in depth. */
  def intersectCoverage(other: IntervalsDF): IntervalsDF =
    coverageAlgebra(other, (da, db) => da > 0 && db > 0)

  /** `A \ B` on coverage — see [[intersectCoverage]] for semantics and
    * the sweep plan. */
  def subtractCoverage(other: IntervalsDF): IntervalsDF =
    coverageAlgebra(other, (da, db) => da > 0 && db === 0)

  private def coverageAlgebra(other: IntervalsDF,
      keep: (Column, Column) => Column): IntervalsDF = {
    require(seriesIds == other.seriesIds,
      s"series ids must match: $seriesIds vs ${other.seriesIds}")
    require(seriesIds.nonEmpty,
      "coverage algebra needs at least one series id column")
    def deltas(iv: IntervalsDF, mine: Boolean) = {
      val su = unix_micros(col(iv.startTs))
      val eu = unix_micros(col(iv.endTs))
      val d = (dd: Column) => if (mine) dd else lit(0L)
      val o = (dd: Column) => if (mine) lit(0L) else dd
      iv.df.filter(eu > su)
        .select(seriesIds.map(col) :+ explode(array(
          struct(su.alias("t"), lit(1L).alias("dd")),
          struct(eu.alias("t"), lit(-1L).alias("dd")))).alias("__e"): _*)
        .select(seriesIds.map(col) ++ Seq(col("__e.t").alias("__t"),
          d(col("__e.dd")).alias("__da"), o(col("__e.dd")).alias("__db")): _*)
    }
    val sc = seriesIds.map(col)
    // ties at equal t break on the delta columns so the running depths and
    // lead() agree row-for-row in any engine (remaining ties are identical
    // rows, interchangeable under commutative sums)
    val ord = Window.partitionBy(sc: _*)
      .orderBy(col("__t"), col("__da"), col("__db"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val segs = deltas(this, mine = true)
      .unionByName(deltas(other, mine = false))
      .withColumn("__deptha", sum(col("__da")).over(run))
      .withColumn("__depthb", sum(col("__db")).over(run))
      .withColumn("__next", lead(col("__t"), 1).over(ord))
      .filter(col("__next") > col("__t") &&
        keep(col("__deptha"), col("__depthb")))
    val islOrd = Window.partitionBy(sc: _*).orderBy(col("__t"))
    val islRun = islOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val merged = segs
      .withColumn("__new",
        when(col("__t") === lag(col("__next"), 1).over(islOrd), 0L)
          .otherwise(1L))
      .withColumn("__isl", sum(col("__new")).over(islRun))
      .groupBy(sc :+ col("__isl"): _*)
      .agg(min(col("__t")).alias("__s"), max(col("__next")).alias("__e"))
      .select(sc ++ Seq(timestamp_micros(col("__s")).alias(startTs),
        timestamp_micros(col("__e")).alias(endTs)): _*)
    IntervalsDF(merged, startTs, endTs, seriesIds)
  }

  /** Positional union (no dedup), intervals.py:280-300. */
  def union(other: IntervalsDF): IntervalsDF = copy(df = df.union(other.df))

  /** By-name union, intervals.py:302-339. */
  def unionByName(other: IntervalsDF): IntervalsDF = copy(df = df.unionByName(other.df))

  /** Wide→long unpivot via `stack` (intervals.py:341-380): one row per
    * (interval, metric), null metric values dropped. */
  def toStacked(nameCol: String = "metric_name", valueCol: String = "metric_value"): DataFrame = {
    // no explicit cast: stack() itself unifies the metric types, preserving
    // them when homogeneous (reference keeps the input type, intervals.py:360)
    val ms = metricCols
    val stackExpr = s"stack(${ms.size}, " +
      ms.map(m => s"'$m', $m").mkString(", ") +
      s") as ($nameCol, $valueCol)"
    df.select((seriesIds.map(col) :+ col(startTs) :+ col(endTs)) :+ expr(stackExpr): _*)
      .na.drop(Seq(valueCol))
  }

  /** Split overlapping intervals into a disjoint cover per series: one
    * row per maximal run of elementary segments with the same merged
    * metric vector. A segment's metric is the value of the greatest
    * (start, end, value) among its covering intervals that carry one
    * (the reference's "latest wins", intervals.py:223-278,1070-1331).
    *
    * One per-series sweep, as in the reference: the series' intervals go
    * to one `flatMapGroups` call of [[DisjointSweep.fold]] then
    * [[DisjointSweep.coalesce]], the kernel the stream twin also runs.
    * O(n log n) per series; nothing runs while the plan is built. The
    * trade: a series is one task however many intervals it has, so one
    * giant series runs on one core (as in the reference).
    *
    * Start and end are timestamps or integers. Metrics keep their input
    * type and exact value; a row with a null start or end covers nothing.
    * Empty `seriesIds` make the whole frame one series. */
  def makeDisjoint(): IntervalsDF = {
    val ms = metricCols
    val nS = seriesIds.length
    val types = ms.map(df.schema(_).dataType)
    val isTs = (c: String) => df.schema(c).dataType == TimestampType
    def micros(c: String) =
      (if (isTs(c)) unix_micros(col(c)) else col(c).cast(LongType)).alias(c)
    def typed(c: String) = (if (isTs(c)) timestamp_micros(col(c))
      else col(c).cast(df.schema(c).dataType)).alias(c)
    val work = df.filter(col(startTs).isNotNull && col(endTs).isNotNull)
      .select(seriesIds.map(col) ++ Seq(micros(startTs), micros(endTs)) ++
        ms.map(col): _*)
    val outSchema = StructType(work.schema.fields.zipWithIndex.map {
      case (f, i) => if (i >= nS + 2) f.copy(nullable = true) else f
    })
    // no series ids: one constant key, so the whole frame is one group
    val keys = if (nS == 0) Seq(lit(0).alias("__grp_all")) else seriesIds.map(col)
    val merged = work.groupBy(keys: _*)
      .as[Row, Row](Encoders.row(work.select(keys: _*).schema), Encoders.row(work.schema))
      .flatMapGroups { (key: Row, rows: Iterator[Row]) =>
        val ords = types.map(DisjointSweep.order).toIndexedSeq
        val ivs = rows.map(r => DisjointSweep.Interval(r.getLong(nS),
          r.getLong(nS + 1), Array.tabulate[Any](types.length)(m => r.get(nS + 2 + m))))
          .toSeq
        val grid = DisjointSweep.fold(IndexedSeq.empty, ivs, ords)
        DisjointSweep.coalesce(grid, ords).iterator.map { case (s, e, vs) =>
          Row.fromSeq(key.toSeq.take(nS) ++ (s +: e +: vs.toSeq))
        }
      }(Encoders.row(outSchema))
    copy(df = merged.select(seriesIds.map(col) ++ Seq(typed(startTs), typed(endTs)) ++
      ms.map(col): _*))
  }
}

object IntervalsDF {

  /** Long→wide pivot (intervals.py:139-221): one row per interval, one column
    * per metric name. Passing `metricNames` explicitly skips the extra
    * distinct job Spark needs to discover pivot values. */
  def fromStackedMetrics(
      df: DataFrame,
      startTs: String,
      endTs: String,
      seriesIds: Seq[String],
      metricNameCol: String,
      metricValueCol: String,
      metricNames: Seq[String] = Seq.empty): IntervalsDF = {
    val grouped = df.groupBy((Seq(startTs, endTs) ++ seriesIds).map(col): _*)
    val pivoted =
      if (metricNames.nonEmpty) grouped.pivot(metricNameCol, metricNames)
      else grouped.pivot(metricNameCol)
    IntervalsDF(pivoted.max(metricValueCol), startTs, endTs, seriesIds)
  }
}

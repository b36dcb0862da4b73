package graft.tsdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Point-in-time (as-of) join: for each left row attach the latest right row
  * with `right.ts <= left.ts` within the same series, optionally bounded by a
  * tolerance in seconds.
  *
  * Three physical strategies, mirroring the reference's dispatch
  * (/root/reference/python/tempo/tsdf.py:752-947) but chosen/realized
  * Spark-natively:
  *
  *  1. '''union + last-window''' (default): null-pad and union both sides,
  *     then one `last(col, ignoreNulls)` window per right column over
  *     `(series) ORDER BY (ts, rec_ind, seq)` — exactly one shuffle.
  *  2. '''broadcast interval join''' (`sqlJoinOpt`): when either side's
  *     optimized-plan `sizeInBytes` is under 30 MiB, build right-side validity
  *     intervals `[ts, lead(ts))` and equi-join on the series keys with a
  *     between-filter; Catalyst/AQE turns this into a BroadcastHashJoin.
  *     Plan statistics come straight from `queryExecution.optimizedPlan.stats`
  *     (no `explain cost` string parsing as in the reference, tsdf.py:702-750).
  *  3. '''time-bucketed skew path''' (`tsPartitionVal`): manual salting for
  *     window skew (AQE does not rebalance window operators) — bucket rows
  *     into `tsPartitionVal`-second brackets, copy the trailing `fraction` of
  *     each bracket into the next so lookbacks across the boundary resolve,
  *     include the bracket in the window partition key, then drop the copies.
  */
object AsOfJoin {

  private val BroadcastBytesThreshold = 30L * 1024 * 1024 // tsdf.py:793-795

  def apply(
      left: TSDF,
      right: TSDF,
      leftPrefix: Option[String],
      rightPrefix: String,
      tsPartitionVal: Option[Long],
      fraction: Double,
      skipNulls: Boolean,
      sqlJoinOpt: Boolean,
      tolerance: Option[Double]): TSDF = {

    // empty prefix = no renames (tsdf.py:206-212)
    val leftPre = leftPrefix.filter(_.nonEmpty)
    val rightPre = Some(rightPrefix).filter(_.nonEmpty)
    val joined =
      if (sqlJoinOpt && underBroadcastThreshold(left.df, right.df))
        broadcastJoin(left, right, leftPre, rightPre)
      else
        unionJoin(left, right, leftPre, rightPre, tsPartitionVal, fraction, skipNulls)

    tolerance.fold(joined)(t =>
      applyTolerance(joined, t, s"${rightPrefix}_", s"${rightPrefix}_${right.tsCol}"))
  }

  private def underBroadcastThreshold(l: DataFrame, r: DataFrame): Boolean = {
    def bytes(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes
    bytes(l) < BroadcastBytesThreshold || bytes(r) < BroadcastBytesThreshold
  }

  private def prefixed(prefix: Option[String], c: String): String =
    prefix.fold(c)(p => s"${p}_$c")

  /** Rename every non-series column with a prefix (join disambiguation,
    * tsdf.py:206-231). Series columns keep their names on both sides. */
  private def withPrefix(t: TSDF, prefix: Option[String]): TSDF = prefix match {
    case None => t
    case Some(_) =>
      val renames = t.df.columns.map { c =>
        if (t.partitionCols.contains(c)) col(c) else col(c).alias(prefixed(prefix, c))
      }
      TSDF(t.df.select(renames.toIndexedSeq: _*), prefixed(prefix, t.tsCol),
        t.partitionCols, t.sequenceCol.map(prefixed(prefix, _)))
  }

  /** Both sides renamed by their prefixes; their series columns must match. */
  private def prefixedSides(left: TSDF, right: TSDF,
      leftPrefix: Option[String], rightPrefix: Option[String]): (TSDF, TSDF) = {
    require(left.partitionCols == right.partitionCols,
      s"as-of join requires matching series columns: ${left.partitionCols} vs ${right.partitionCols}")
    (withPrefix(left, leftPrefix), withPrefix(right, rightPrefix))
  }

  /** The union paths' input ([[unionJoin]], [[nearest]]): the prefixed
    * sides, the right side's non-series columns, and both sides null-padded
    * with the other side's columns (tsdf.py:233-243) and unioned, each row
    * tagged `__rec_ind` (1 left, -1 right) and `__combined_ts`. */
  private def paddedUnion(left0: TSDF, right0: TSDF,
      leftPrefix: Option[String], rightPrefix: Option[String])
      : (TSDF, TSDF, Seq[String], DataFrame) = {
    val (left, right) = prefixedSides(left0, right0, leftPrefix, rightPrefix)
    val series = left.partitionCols
    val leftCols = left.df.columns.filterNot(series.contains).toSeq
    val rightCols = right.df.columns.filterNot(series.contains).toSeq
    def pad(df: DataFrame, ownCols: Seq[String], otherDf: DataFrame,
        otherCols: Seq[String], recInd: Int): DataFrame = {
      val otherTypes = otherDf.schema.fields.map(f => f.name -> f.dataType).toMap
      df.select(
        (series.map(col) ++ ownCols.map(col) ++
          otherCols.map(c => lit(null).cast(otherTypes(c)).alias(c)) :+
          lit(recInd).alias("__rec_ind")): _*)
    }
    val unioned = pad(left.df, leftCols, right.df, rightCols, 1)
      .unionByName(pad(right.df, rightCols, left.df, leftCols, -1))
      .withColumn("__combined_ts", coalesce(col(left.tsCol), col(right.tsCol)))
    (left, right, rightCols, unioned)
  }

  // ---------------------------------------------------------------- default
  private def unionJoin(
      left0: TSDF, right0: TSDF,
      leftPrefix: Option[String], rightPrefix: Option[String],
      tsPartitionVal: Option[Long], fraction: Double,
      skipNulls: Boolean): TSDF = {

    val (left, right, rightCols, unioned) =
      paddedUnion(left0, right0, leftPrefix, rightPrefix)
    val series = left.partitionCols

    val seqOrder: Seq[Column] =
      (left.sequenceCol.toSeq ++ right.sequenceCol.toSeq).map(c => col(c).asc)

    val (bucketed, partKeys, cleanup) = tsPartitionVal match {
      case None => (unioned, series, identity[DataFrame] _)
      case Some(v) =>
        // skew path: salt the window partition key by time bracket. The
        // reference materializes the overlap rows as a filter + union over a
        // cached input (tsdf.py:342-383); here each row *generates* its 1-2
        // bracket assignments through a single explode — one scan, no cache
        // to leak, and the duplicated fraction never re-reads the source.
        val base = lit(v) * floor(col("__combined_ts").cast(DoubleType) / v).cast(LongType)
        val inOverlapTail =
          col("__combined_ts").cast(DoubleType) - col("__bracket") >= lit(v * (1.0 - fraction))
        val assignments = filter(
          array(
            struct(col("__bracket").alias("p"), lit(1).alias("o")),
            when(inOverlapTail, struct((col("__bracket") + v).alias("p"), lit(0).alias("o")))),
          x => x.isNotNull)
        val both = unioned.withColumn("__bracket", base)
          .withColumn("__dup", explode(assignments))
          .withColumn("__ts_partition", col("__dup").getField("p"))
          .withColumn("__is_original", col("__dup").getField("o"))
          .drop("__dup", "__bracket")
        (both, series :+ "__ts_partition",
          (df: DataFrame) => df.filter(col("__is_original") === 1)
            .drop("__ts_partition", "__is_original"))
    }

    val w = Window.partitionBy(partKeys.map(col): _*)
      .orderBy(col("__combined_ts").asc +: col("__rec_ind").asc +: seqOrder: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // last right-hand value at or before each row (tsdf.py:252-340)
    val filled = rightCols.foldLeft(bucketed) { (df, c) =>
      val expr =
        if (skipNulls) last(col(c), ignoreNulls = true).over(w)
        else // propagate genuine right-side nulls via struct wrapping
          last(when(col("__rec_ind") === -1, struct(col(c))), ignoreNulls = true)
            .over(w).getField(c)
      df.withColumn(c, expr)
    }

    val result = cleanup(filled)
      .filter(col(left.tsCol).isNotNull)
      .drop("__rec_ind", "__combined_ts")

    TSDF(result, left.tsCol, series, left.sequenceCol)
  }

  // -------------------------------------------------------------- broadcast
  private def broadcastJoin(
      left0: TSDF, right0: TSDF,
      leftPrefix: Option[String], rightPrefix: Option[String]): TSDF = {

    val (left, right) = prefixedSides(left0, right0, leftPrefix, rightPrefix)
    val series = left.partitionCols

    val w = Window.partitionBy(series.map(col): _*).orderBy(col(right.tsCol).asc)
    val rightWithLead = right.df.withColumn("__lead_ts", lead(col(right.tsCol), 1).over(w))

    val rBytes = right.df.queryExecution.optimizedPlan.stats.sizeInBytes
    val rightSide =
      if (rBytes < BroadcastBytesThreshold) broadcast(rightWithLead) else rightWithLead

    val joined = left.df
      .join(rightSide, series, "inner")
      .filter(col(left.tsCol) >= col(right.tsCol) &&
        (col("__lead_ts").isNull || col(left.tsCol) < col("__lead_ts")))
      .drop("__lead_ts")

    TSDF(joined, left.tsCol, series, left.sequenceCol)
  }

  // -------------------------------------------------------------- tolerance
  /** Null out right-side values older than `tolerance` seconds
    * (tsdf.py:919-945). */
  private def applyTolerance(t: TSDF, tolerance: Double, rightPrefixUnderscore: String,
      rightTsCol: String): TSDF = {
    val rightCols = t.df.columns.filter(_.startsWith(rightPrefixUnderscore))
    // exact integer-µs comparison (double-seconds would wobble at the
    // boundary), materialized once up front — the fold below overwrites
    // rightTsCol itself, so the predicate must not re-read it
    val withStale = t.df.withColumn("__stale",
      unix_micros(col(t.tsCol)) - unix_micros(col(rightTsCol)) >
        math.round(tolerance * 1e6))
    val nulled = rightCols.foldLeft(withStale) { (df, c) =>
      df.withColumn(c, when(col("__stale"), lit(null)).otherwise(col(c)))
    }.drop("__stale")
    t.copy(df = nulled)
  }

  /** Forward ("next event") as-of join: attach the EARLIEST right row with
    * `right.ts >= left.ts` per series — the mirror of the prior-row default
    * (click → next purchase, order → next shipment event).
    *
    * Realized by negating event time (exact integer-µs negation, which
    * reverses order and preserves ties) on both sides, running the
    * backward union path unchanged, and negating the output timestamps
    * back — the same single-exchange plan, the same tolerance semantics
    * (the backward `l − r ∈ [0, t]` post-filter becomes `r − l ∈ [0, t]`
    * under negation), zero duplicated join logic. A `sequenceCol` (the
    * tie-break among equal timestamps) must reverse WITH the time axis —
    * otherwise the union window would pick the opposite end of the
    * sequence order among equal-ts rows — so numeric sequence columns are
    * negated alongside (and restored on output); non-numeric ones have no
    * generic order reversal and are rejected. */
  def forward(left: TSDF, right: TSDF, leftPrefix: Option[String],
      rightPrefix: String, skipNulls: Boolean,
      tolerance: Option[Double]): TSDF = {
    def negateTsdf(t: TSDF): TSDF = {
      t.sequenceCol.foreach { s =>
        val dt = t.df.schema(t.df.columns.find(_.equalsIgnoreCase(s)).getOrElse(s)).dataType
        require(dt.isInstanceOf[NumericType],
          s"forward as-of reverses the sequence tie-break by negation, which " +
            s"needs a numeric sequence column; '$s' is $dt")
      }
      val tsNeg = t.df.withColumn(t.tsCol,
        timestamp_micros(-unix_micros(col(t.tsCol))))
      t.copy(df = t.sequenceCol.fold(tsNeg)(s => tsNeg.withColumn(s, -col(s))))
    }
    val joined = apply(negateTsdf(left), negateTsdf(right), leftPrefix, rightPrefix,
      tsPartitionVal = None, fraction = 0.5, skipNulls = skipNulls,
      sqlJoinOpt = false, tolerance = tolerance)
    def leftOut(c: String) = leftPrefix.filter(_.nonEmpty)
      .map(p => s"${p}_$c").getOrElse(c)
    val tsRestores = Seq(leftOut(left.tsCol), s"${rightPrefix}_${right.tsCol}")
    val seqRestores = left.sequenceCol.map(leftOut).toSeq ++
      right.sequenceCol.map(s => s"${rightPrefix}_$s").toSeq
    val restored = seqRestores.filter(joined.df.columns.contains)
      .foldLeft(tsRestores.foldLeft(joined.df) { (d, c) =>
        d.withColumn(c, timestamp_micros(-unix_micros(col(c))))
      }) { (d, c) => d.withColumn(c, -col(c)) }
    joined.copy(df = restored)
  }

  /** Nearest-event as-of join: attach the right row minimizing
    * |right.ts − left.ts| per series — backward and forward in one
    * operator (sensor fusion / "closest reading" alignment). Equal
    * distances (including an exact-ts match, distance 0 both ways) prefer
    * the backward row — the prior-row default's convention.
    *
    * Plan shape: ONE series exchange. Both sides null-pad and union (as
    * the backward path); the trailing right row rides
    * `last(struct(right cols))` over the ascending running frame and the
    * leading right row the same `last` over the DESCENDING running frame —
    * two window sorts sharing one partitioning, not two joins, and both
    * frames are O(n) streaming accumulations (no unbounded-following
    * frame, whose execution re-scans to the partition end per row). Each
    * candidate is a whole struct, so the chosen values are guaranteed
    * row-consistent (never column A from the prior row and column B from
    * the next). `tolerance` (seconds) nulls the right side where the
    * chosen distance exceeds it — exact integer-µs compare.
    *
    * Sequence columns have no meaning across two directions at once and
    * are rejected. */
  def nearest(left0: TSDF, right0: TSDF, leftPrefix: Option[String],
      rightPrefix: String, tolerance: Option[Double]): TSDF = {
    require(left0.sequenceCol.isEmpty && right0.sequenceCol.isEmpty,
      "nearest as-of does not support sequence columns")
    val (left, right, rightCols, unioned) = paddedUnion(left0, right0,
      leftPrefix.filter(_.nonEmpty), Some(rightPrefix).filter(_.nonEmpty))
    val series = left.partitionCols
    val rightStruct = when(col("__rec_ind") === -1,
      struct(rightCols.map(col): _*))
    // backward: right rows sort BEFORE the left row at equal ts (asc
    // rec_ind: -1 < 1), so an exact-ts match is a backward hit
    val wBack = Window.partitionBy(series.map(col): _*)
      .orderBy(col("__combined_ts").asc, col("__rec_ind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // forward candidate via a DESCENDING-time running frame (rec_ind still
    // asc, so the equal-ts right row is inside the frame): `last` over
    // [unbounded preceding, current] in desc order = the right row with the
    // smallest ts >= this row's ts. Both frames are running frames — O(n)
    // streaming accumulation; a (currentRow, unboundedFollowing) frame
    // would re-scan to the partition end PER ROW (quadratic per series).
    val wFwd = Window.partitionBy(series.map(col): _*)
      .orderBy(col("__combined_ts").desc, col("__rec_ind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rightTs = right.tsCol // prefixed name (or the original if no prefix)
    val staged = unioned
      .withColumn("__back", last(rightStruct, ignoreNulls = true).over(wBack))
      .withColumn("__fwd", last(rightStruct, ignoreNulls = true).over(wFwd))
      .filter(col(left.tsCol).isNotNull)
    val lts = unix_micros(col(left.tsCol))
    val db = lts - unix_micros(col("__back").getField(rightTs))
    val df_ = unix_micros(col("__fwd").getField(rightTs)) - lts
    val useBack = col("__back").isNotNull &&
      (col("__fwd").isNull || db <= df_)
    val chosen = when(useBack, col("__back")).otherwise(col("__fwd"))
    val inTol = tolerance.fold(lit(true)) { t =>
      when(useBack, db).otherwise(df_) <= math.round(t * 1e6)
    }
    val picked = rightCols.foldLeft(staged) { (d, c) =>
      d.withColumn(c, when(inTol, chosen.getField(c)))
    }.drop("__rec_ind", "__combined_ts", "__back", "__fwd")
    TSDF(picked, left.tsCol, series, None)
  }
}

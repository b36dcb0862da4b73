package graft.tsdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.OrderStat

/** Tumbling-bucket resampling (downsample) and dense-spine upsampling.
  *
  * Semantics mirror /root/reference/python/tempo/resample.py:114-253:
  * buckets come from `window(ts, freq)`; `floor`/`ceil` are argmin/argmax by
  * ts realized with the `min(struct(ts, metrics...))` idiom (struct ordering
  * is field-by-field left-to-right, so the earliest/latest row's metric
  * values are selected atomically); `mean/min/max` are per-metric aggregates.
  * The bucket start becomes the new ts. One partial+final hash aggregate,
  * one shuffle — Catalyst handles map-side combine.
  *
  * `fill=true` builds a dense per-series spine with
  * `explode(sequence(min_ts, max_ts, interval))` and left-joins the
  * aggregates onto it, zero-filling numeric metrics (resample.py:225-251).
  */
object Resample {

  /** Freq string → (canonical Spark interval string, seconds-or-so length).
    * Accepts "30 seconds", "5 min", "1 hour", "hr", "day", "15 minutes", …
    * (resample.py:57-76, 256-305). */
  def parseFreq(freq: String): FreqSpec = {
    val t = freq.trim.toLowerCase
    val m = "^(\\d+)?\\s*([a-z]+)$".r
    t match {
      case m(amountStr, unitStr) =>
        val amount = Option(amountStr).map(_.toInt).getOrElse(1)
        val (unit, micros) = unitStr match {
          case "us" | "microsecond" | "microseconds" => ("microsecond", 1L)
          case "ms" | "millisecond" | "milliseconds" => ("millisecond", 1000L)
          case "s" | "sec" | "second" | "seconds"    => ("second", 1000000L)
          case "m" | "min" | "minute" | "minutes"    => ("minute", 60000000L)
          case "h" | "hr" | "hour" | "hours"         => ("hour", 3600000000L)
          case "d" | "day" | "days"                  => ("day", 86400000000L)
          case other => throw new IllegalArgumentException(s"unsupported freq unit '$other'")
        }
        FreqSpec(amount, unit, amount * micros)
      case _ => throw new IllegalArgumentException(s"cannot parse freq '$freq'")
    }
  }

  val Floor = "floor"
  val Mean = "mean"
  val Min = "min"
  val Max = "max"
  val Ceil = "ceil"
  val Sum = "sum"
  val Count = "count"
  val Median = "median"

  def aggregate(tsdf: TSDF, freq: String, func: String, fill: Boolean = false,
      metricCols: Option[Seq[String]] = None, prefix: Option[String] = None): TSDF = {
    val spec = parseFreq(freq)
    val metrics = metricCols.getOrElse(tsdf.observationalCols)
    val series = tsdf.partitionCols
    val bucket = window(tsdf.ts, spec.sparkInterval).getField("start")

    val grouped = tsdf.df
      .withColumn("__bucket", bucket)
      .groupBy((series :+ "__bucket").map(col): _*)

    val aggregated: DataFrame = func match {
      case Floor =>
        grouped
          .agg(min(struct((tsdf.tsCol +: metrics).map(col): _*)).alias("__c"))
          .select((series.map(col) :+ col("__bucket").alias(tsdf.tsCol)) ++
            metrics.map(m => col("__c").getField(m).alias(m)): _*)
      case Ceil =>
        grouped
          .agg(max(struct((tsdf.tsCol +: metrics).map(col): _*)).alias("__c"))
          .select((series.map(col) :+ col("__bucket").alias(tsdf.tsCol)) ++
            metrics.map(m => col("__c").getField(m).alias(m)): _*)
      case Median =>
        // the OrderStat median of the bucket's values, engine-exact with
        // no sketch (percentile_approx would not replay in another engine).
        // Memory is bounded by the largest single bucket, the same bound
        // resample itself implies.
        val aggs = metrics.map(c =>
          OrderStat.ofFrame(collect_list(col(c)), 0.5).alias(c))
        grouped
          .agg(aggs.head, aggs.tail: _*)
          .select((series.map(col) :+ col("__bucket").alias(tsdf.tsCol)) ++
            metrics.map(col): _*)
      case Mean | Min | Max | Sum | Count =>
        val aggFn: String => Column = func match {
          case Mean  => c => avg(col(c))
          case Min   => c => min(col(c))
          case Max   => c => max(col(c))
          // sum/count extend the reference's five funcs (resample.py has no
          // per-bucket totals; pipelines constantly need them)
          case Sum   => c => sum(col(c))
          case Count => c => count(col(c))
        }
        // min/max order any orderable type; mean over a non-numeric column is
        // the reference's lenient-cast avg (all-null double, resample.py
        // :157-201) — replicated with try_cast since Spark 4 is ANSI by
        // default and a plain cast would throw
        val numericByName = tsdf.df.schema.fields
          .map(f => f.name -> f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
          .toMap
        val aggs = metrics.map { c =>
          if ((func == Mean || func == Sum) && !numericByName(c))
            (if (func == Mean) avg(expr(s"try_cast($c as double)"))
             else sum(expr(s"try_cast($c as double)"))).alias(c)
          else aggFn(c).alias(c)
        }
        grouped
          .agg(aggs.head, aggs.tail: _*)
          .select((series.map(col) :+ col("__bucket").alias(tsdf.tsCol)) ++
            metrics.map(col): _*)
      case other => throw new IllegalArgumentException(
        s"unsupported resample func '$other' " +
          "(floor|mean|min|max|ceil|sum|count|median)")
    }

    // optional prefix on the sampled metric columns (resample.py prefix arg)
    val prefixed = prefix.filter(_.nonEmpty).fold(aggregated) { p =>
      aggregated.columns.filterNot(c => series.contains(c) || c == tsdf.tsCol)
        .foldLeft(aggregated)((df, c) => df.withColumnRenamed(c, s"${p}_$c"))
    }
    val result = if (fill) upsampleFill(prefixed, tsdf.tsCol, series, spec) else prefixed
    TSDF(result, tsdf.tsCol, series, None, resampleSpec = Some(ResampleSpec(freq, func)))
  }

  /** Dense spine + left join + zero-fill (resample.py:225-251). */
  private def upsampleFill(aggregated: DataFrame, tsCol: String,
      series: Seq[String], spec: FreqSpec): DataFrame = {
    val spine = aggregated
      .groupBy(series.map(col): _*)
      .agg(min(col(tsCol)).alias("__min_ts"), max(col(tsCol)).alias("__max_ts"))
      .select(series.map(col) :+
        explode(sequence(col("__min_ts"), col("__max_ts"),
          expr(s"interval ${spec.sparkInterval}"))).alias(tsCol): _*)
    val metricNames = aggregated.columns.filterNot(c => series.contains(c) || c == tsCol)
    val numericMetrics = aggregated.schema.fields
      .filter(f => metricNames.contains(f.name) &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name)
    spine
      .join(aggregated, series :+ tsCol, "left_outer")
      .na.fill(0, numericMetrics)
  }

  /** Min-max downsampling: per (series, `freq` bucket) keep the ROWS that
    * attain the bucket's minimum and maximum of `valueCol` — the
    * extreme-preserving decimation plotting and alerting pipelines use
    * (unlike `resample(mean)`, spikes survive; unlike [[graft.tsdf.Stats
    * .calcBars]], the original rows come through with all their columns).
    * Output rate is ≤ 2 rows per bucket regardless of input density.
    *
    * One partial+final aggregate on the (series, bucket) key — argmin and
    * argmax ride min/max-of-struct with (value, ts) as the tie-break key,
    * so the selection is deterministic WHEN (value, ts) is unique within a
    * bucket; rows sharing the exact same (value, ts) are interchangeable to
    * `min_by`/`max_by` and an arbitrary one of them is kept (pass a
    * uniquified value expression if full payload determinism matters).
    * A single-row bucket emits once (`array_distinct` before the explode,
    * no second shuffle). Output: input columns + `bucket_ts`. */
  def downsampleMinMax(tsdf: TSDF, freq: String, valueCol: String): DataFrame = {
    val spec = parseFreq(freq)
    val bucket = window(tsdf.ts, spec.sparkInterval).getField("start")
    val cols = tsdf.df.columns.toIndexedSeq
    val payload = struct(cols.map(col): _*)
    val key = struct(col(valueCol), tsdf.ts)
    tsdf.df.withColumn("__bucket", bucket)
      .groupBy((tsdf.partitionCols :+ "__bucket").map(col): _*)
      .agg(min_by(payload, key).alias("__lo"), max_by(payload, key).alias("__hi"))
      .select(col("__bucket").alias("bucket_ts"),
        explode(array_distinct(array(col("__lo"), col("__hi")))).alias("__r"))
      .select(col("bucket_ts") +: cols.map(c => col(s"__r.$c")): _*)
  }
}

/** Parsed resample frequency. */
case class FreqSpec(amount: Int, unit: String, micros: Long) {
  def sparkInterval: String = s"$amount $unit"
  def seconds: Double = micros / 1e6
}

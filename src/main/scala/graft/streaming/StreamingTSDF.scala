package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders,
  KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.functions.{OrderStat, Recurrence}
import graft.intervals.DisjointSweep
import graft.tsdf.Resample

/** Structured Streaming counterparts of the core time-series operators.
  *
  * The reference library is batch-only (no readStream/watermark anywhere in
  * it — SURVEY §2.9); these operators extend the same semantics to streams
  * the Spark-native way: event-time windows + watermarks for resampling and
  * grouped stats, and one keyed-state driver ([[keyedState]]) for
  * per-series state. Each batch operator's bucket/aggregate expressions
  * are reused, so a query can move batch→streaming without changing its
  * semantics.
  */
object StreamingTSDF {

  /** Series-key separator: the ASCII unit separator (0x1f), which cannot appear in
    * normal identifiers. Joining on a space would collide ("a b", "c") with
    * ("a", "b c") and silently merge distinct series. Null series values are
    * not supported (they would shift key positions). */
  private val KeySep = "\u001f"

  private def seriesKey(seriesCols: Seq[String]): Column =
    concat_ws(KeySep, seriesCols.map(col(_).cast(StringType)): _*)

  /** Re-emit the original typed series columns from the packed `series` key,
    * casting each segment back to its type in the source schema. */
  private def typedSeriesCols(schema: StructType, seriesCols: Seq[String]): Seq[Column] =
    seriesCols.zipWithIndex.map { case (c, i) =>
      split(col("series"), KeySep, -1).getItem(i).cast(schema(c).dataType).alias(c)
    }

  // ------------------------------------------------ the keyed-state driver
  /** The projection every per-series stateful operator reads: the packed
    * series key, the event micros, the operator's `payload` columns and the
    * raw event time. With `stateTtl` the watermark sits on that raw event
    * time: it must be on a column that survives into the stateful operator. */
  private def keyedRows(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      stateTtl: Option[String], payload: Column*): DataFrame = {
    val projected = df.select(Seq(seriesKey(seriesCols).alias("series"),
      unix_micros(col(tsCol)).alias("tsUs")) ++ payload :+
      col(tsCol).alias("eventTime"): _*)
    stateTtl.fold(projected)(ttl => projected.withWatermark("eventTime", ttl))
  }

  /** An event's `tie` from `tieCol` (0 without one). A null tie sorts
    * first, as in batch's ascending (ts, tie) order. */
  private def tieOf(tieCol: String): Column =
    (if (tieCol.isEmpty) lit(0L)
    else coalesce(col(tieCol).cast(LongType), lit(Long.MinValue))).alias("tie")

  /** The one keyed-state driver: every stateful operator of this file with
    * state of its own runs on it. Per key and micro-batch, `batch` maps
    * (key, stored state, the key's rows) to the next state and the output
    * rows; the driver owns the rest, once:
    *   - STATE: a next state is stored; None leaves the store untouched;
    *   - TIMEOUT: event time with `stateTtl`, none without;
    *   - TTL CONTRACT: a stored state times out once the event-time
    *     watermark passes its clock (`clockMs`) by the TTL. The clock is
    *     floor-clamped to just above the current watermark, so a state
    *     whose clock is already behind it still gets its TTL. A timed-out
    *     key runs `flush` (by default nothing) and its state is removed: an
    *     evicted key restarts from no state. This bounds state by the keys
    *     ACTIVE within one TTL instead of every key ever seen.
    * Each operator names its clock: the last folded event for the
    * per-series folds ([[foldClockMs]]), the batch's largest event time for
    * [[hllRegisters]] and [[firstOwners]]. */
  private def keyedState[K, E, S: Encoder, O: Encoder](
      grouped: KeyValueGroupedDataset[K, E], stateTtl: Option[String],
      clockMs: (S, Seq[E]) => Long,
      flush: (K, S) => Iterator[O] = (_: K, _: S) => Iterator.empty)(
      batch: (K, Option[S], Seq[E]) => (Option[S], IterableOnce[O])): Dataset[O] =
    grouped.flatMapGroupsWithState(OutputMode.Append(),
      if (stateTtl.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()) {
      (key: K, rows: Iterator[E], state: GroupState[S]) =>
        if (state.hasTimedOut) {
          val out = flush(key, state.get)
          state.remove()
          out
        } else {
          val seen = rows.toVector
          val (next, out) = batch(key, state.getOption, seen)
          next.foreach { s =>
            state.update(s)
            stateTtl.foreach(ttl => state.setTimeoutTimestamp(
              math.max(clockMs(s, seen), state.getCurrentWatermarkMs() + 1), ttl))
          }
          out.iterator
        }
    }

  // ------------------------------------------------ the per-series fold
  /** A fold input row: its packed series key and event time (micros), plus
    * a tie-breaker for operators whose order needs one. */
  trait SeriesEvent { def series: String; def tsUs: Long; def tie: Long = 0L }
  /** A fold state, stamped with the event time of the last row folded in;
    * `isLate` is the late-row test against it. */
  trait Stamped {
    def lastTsUs: Long
    def isLate(e: SeriesEvent): Boolean = e.tsUs < lastTsUs
  }
  /** Stamped with the last folded (ts, tie): a row at or behind it is late. */
  trait TieStamped extends Stamped {
    def lastTie: Long
    override def isLate(e: SeriesEvent): Boolean =
      e.tsUs < lastTsUs || (e.tsUs == lastTsUs && e.tie <= lastTie)
  }
  /** A state that folds every row in: none is late. */
  trait KeepsLate extends Stamped {
    override def isLate(e: SeriesEvent): Boolean = false
  }

  /** A fold's TTL clock: its last folded event. */
  private def foldClockMs(s: Stamped, rows: Seq[_]): Long = s.lastTsUs / 1000

  /** The per-row face of [[keyedState]]: one series' micro-batch folds in
    * event-time order ((ts, tie) — `tie` is 0 unless the event carries one).
    *   - LATE-ROW CONTRACT: a row late against the state
    *     ([[Stamped.isLate]]: strictly older than the last folded
    *     timestamp, unless the state says otherwise) is DROPPED — folding
    *     it in would rewind per-series state that on-time history already
    *     advanced; size the source watermark to the expected lateness if
    *     late rows must count;
    *   - `step` maps (key, state so far, row) to the next state and the
    *     row's output rows; a series with no state yet gets None.
    * Returns the state after the batch and the rows' outputs in order. */
  private def foldBatch[E <: SeriesEvent, S <: Stamped, O](key: String,
      stored: Option[S], rows: Seq[E])(
      step: (String, Option[S], E) => (Option[S], IterableOnce[O])): (Option[S], Seq[O]) = {
    var cur = stored
    val out = rows.sortBy(e => (e.tsUs, e.tie)).flatMap { e =>
      if (cur.exists(_.isLate(e))) None
      else { val (next, o) = step(key, cur, e); cur = next; o }
    }
    (cur, out)
  }

  /** [[foldBatch]] on [[keyedState]] over projected `rows`, keyed by series,
    * with the last folded event as the TTL clock. */
  private def foldStream[E <: Product with SeriesEvent: TypeTag,
      S <: Product with Stamped: TypeTag, O <: Product: TypeTag](
      rows: DataFrame, stateTtl: Option[String],
      flush: (String, S) => Iterator[O] = (_: String, _: S) => Iterator.empty)(
      step: (String, Option[S], E) => (Option[S], IterableOnce[O])): Dataset[O] = {
    val spark = rows.sparkSession
    import spark.implicits._
    keyedState[String, E, S, O](rows.as[E].groupByKey(_.series), stateTtl,
      foldClockMs, flush)(foldBatch(_, _, _)(step))
  }

  /** The per-series fold every stateful twin below runs on: [[foldStream]]
    * over the [[keyedRows]] projection of `df`. */
  private def seriesFold[E <: Product with SeriesEvent: TypeTag,
      S <: Product with Stamped: TypeTag, O <: Product: TypeTag](
      df: DataFrame, tsCol: String, seriesCols: Seq[String],
      stateTtl: Option[String], payload: Column*)(
      step: (String, Option[S], E) => (Option[S], IterableOnce[O])): Dataset[O] =
    foldStream[E, S, O](keyedRows(df, tsCol, seriesCols, stateTtl, payload: _*),
      stateTtl)(step)

  /** Streaming resample: tumbling event-time buckets with a watermark.
    * `func ∈ {floor, mean, min, max, ceil}` with the same argmin/argmax
    * struct idiom as the batch operator; emits finalized buckets once the
    * watermark passes (append mode). */
  def resample(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      freq: String, func: String, watermarkDelay: String = "10 minutes"): DataFrame = {
    val spec = Resample.parseFreq(freq)
    val metrics = df.schema.fields
      .filterNot(f => f.name == tsCol || seriesCols.contains(f.name)).map(_.name).toSeq
    val grouped = df
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(seriesCols.map(col) :+ window(col(tsCol), spec.sparkInterval).alias("__w"): _*)
    val aggregated = func match {
      case Resample.Floor =>
        grouped.agg(min(struct((tsCol +: metrics).map(col): _*)).alias("__c"))
          .select(seriesCols.map(col) ++ (col("__w.start").alias(tsCol) +:
            metrics.map(m => col("__c").getField(m).alias(m))): _*)
      case Resample.Ceil =>
        grouped.agg(max(struct((tsCol +: metrics).map(col): _*)).alias("__c"))
          .select(seriesCols.map(col) ++ (col("__w.start").alias(tsCol) +:
            metrics.map(m => col("__c").getField(m).alias(m))): _*)
      case Resample.Mean | Resample.Min | Resample.Max =>
        val fn: String => Column = func match {
          case Resample.Mean => c => avg(col(c))
          case Resample.Min  => c => min(col(c))
          case Resample.Max  => c => max(col(c))
        }
        val numeric = df.schema.fields
          .filter(f => metrics.contains(f.name) && f.dataType.isInstanceOf[NumericType])
          .map(_.name).toSeq
        require(numeric.nonEmpty,
          s"streaming resample('$func') needs at least one numeric metric column " +
            s"beyond '$tsCol' and series ${seriesCols.mkString("[", ", ", "]")}")
        grouped.agg(fn(numeric.head).alias(numeric.head),
            numeric.tail.map(c => fn(c).alias(c)): _*)
          .select(seriesCols.map(col) ++ (col("__w.start").alias(tsCol) +:
            numeric.map(col)): _*)
      case other =>
        throw new IllegalArgumentException(s"unsupported streaming resample func '$other'")
    }
    aggregated
  }

  /** Streaming grouped stats: mean/count/min/max/sum per metric per tumbling
    * bucket, watermark-finalized. */
  def groupedStats(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      metricCols: Seq[String], freq: String,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(metricCols.nonEmpty, "streaming groupedStats needs at least one metric column")
    val spec = Resample.parseFreq(freq)
    val aggs = metricCols.flatMap { c =>
      val v = col(c)
      Seq(avg(v).alias(s"mean_$c"), count(v).alias(s"count_$c"),
        min(v).alias(s"min_$c"), max(v).alias(s"max_$c"), sum(v).alias(s"sum_$c"))
    }
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(seriesCols.map(col) :+ window(col(tsCol), spec.sparkInterval).alias("__w"): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(tsCol, col("__w.start"))
      .drop("__w")
  }

  // ------------------------------------------------ streaming as-of join
  // not private: encoder-generated code must be able to access these
  case class AsOfEvent(series: String, tsUs: Long, side: Int,
      vals: Seq[Option[Double]], eventTime: java.sql.Timestamp) extends SeriesEvent {
    override def tie: Long = side // right (-1) before left (1) at equal ts
  }
  /** The latest right row's time and, per metric, the last non-null value
    * (batch's `skipNulls`). A left row is never late against it. */
  case class LastRight(tsUs: Long, vals: Seq[Option[Double]]) extends KeepsLate {
    def lastTsUs: Long = tsUs
  }
  case class AsOfOut(series: String, tsUs: Long, rightTsUs: Option[Long],
      rightVals: Option[Seq[Option[Double]]])

  /** Streaming as-of join: each left-stream row attaches the latest
    * right-stream observation with `right.ts <= left.ts` in its series
    * (ties resolve right-before-left, like the batch union path's rec_ind).
    *
    * Realization: a [[foldStream]] over the union of the two streams; state
    * per series is ONE record — the latest right row seen, each metric
    * keeping its last non-null value like the batch join's default
    * `skipNulls` (constant size, no growing buffers), which keeps every row
    * (no late drop). A right row
    * that arrives after a later-ts left row was already emitted does not
    * rewrite the emitted answer — the documented append-mode trade-off vs
    * the batch operator (use watermarked batch re-runs when exactness over
    * late data matters).
    *
    * v1 contract: right-side payload is its numeric metric columns.
    *
    * `stateTtl` (optional): the TTL clock is the series' last right
    * observation, so total state is bounded by the number of *active*
    * series. Left rows arriving after eviction join to null (the same
    * answer a batch re-run over the retained window would give).
    */
  def asofJoin(left: DataFrame, right: DataFrame, tsCol: String,
      seriesCols: Seq[String], rightMetricCols: Seq[String],
      stateTtl: Option[String] = None): DataFrame = {
    // each side is projected and watermarked BEFORE the union: Spark keeps
    // the minimum of several watermarks, so one watermark after the union
    // would evict state on another clock
    def keyed(df: DataFrame, side: Int, vals: Seq[String]) =
      keyedRows(df, tsCol, seriesCols, stateTtl, lit(side).alias("side"),
        array(vals.map(col(_).cast(DoubleType)): _*).alias("vals"))
    val out = foldStream[AsOfEvent, LastRight, AsOfOut](keyed(left, 1, Seq.empty)
        .unionByName(keyed(right, -1, rightMetricCols)), stateTtl) { (key, cur, e) =>
      if (e.side > 0) (cur, Some(AsOfOut(key, e.tsUs, cur.map(_.tsUs), cur.map(_.vals))))
      else if (cur.exists(_.tsUs > e.tsUs)) (cur, None)
      else (Some(LastRight(e.tsUs, cur.fold(e.vals)(c =>
        e.vals.zip(c.vals).map { case (v, last) => v.orElse(last) }))), None)
    }
    val metricsOut = rightMetricCols.zipWithIndex.map { case (m, i) =>
      element_at(col("rightVals"), i + 1).alias(s"right_$m")
    }
    out.toDF()
      .select(typedSeriesCols(left.schema, seriesCols) ++
        (timestamp_micros(col("tsUs")).alias(tsCol) +:
          timestamp_micros(col("rightTsUs")).alias(s"right_$tsCol") +:
          metricsOut): _*)
  }

  /** Stream-stream tolerance join: each left row pairs with EVERY right row
    * of its series whose timestamp lies in [left.ts − tolerance, left.ts] —
    * the windowed relaxation of the as-of join (which keeps only the latest
    * such row), built on Spark's native watermarked stream-stream join so
    * state cleanup, late-data handling and scale-out come from the engine:
    * both sides shuffle once on the series key and right-side state is
    * dropped as the watermark passes `tolerance + delay`. Prefer this over
    * [[asofJoin]] when downstream wants all-matches (feature windows) or
    * when exact engine-managed state bounds matter more than latest-only
    * semantics. */
  def toleranceJoin(left: DataFrame, right: DataFrame, tsCol: String,
      seriesCols: Seq[String], rightMetricCols: Seq[String], tolerance: String,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val lw = left.withWatermark(tsCol, watermarkDelay).alias("l")
    val rw = right
      .select((seriesCols :+ tsCol).map(col) ++ rightMetricCols.map(col): _*)
      .withWatermark(tsCol, watermarkDelay).alias("r")
    val cond = seriesCols.map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _) &&
      col(s"r.$tsCol") <= col(s"l.$tsCol") &&
      col(s"r.$tsCol") >= col(s"l.$tsCol") - expr(s"INTERVAL $tolerance")
    lw.join(rw, cond, "inner")
      .select(left.columns.toIndexedSeq.map(c => col(s"l.$c")) ++
        (col(s"r.$tsCol").alias(s"right_$tsCol") +:
          rightMetricCols.map(m => col(s"r.$m").alias(s"right_$m"))): _*)
  }

  // ------------------------------------------------ per-series fold twins
  /** A fold's (series, tsUs, value, outputs...) rows as the typed series
    * columns, the event timestamp, the value and the named outputs. */
  private def valueRows(out: Dataset[_], df: DataFrame, tsCol: String,
      seriesCols: Seq[String], valueCol: String, outCols: String*): DataFrame =
    out.toDF(Seq("series", "tsUs", "value") ++ outCols: _*)
      .select(typedSeriesCols(df.schema, seriesCols) ++ Seq(
        timestamp_micros(col("tsUs")).alias(tsCol),
        col("value").alias(valueCol)) ++ outCols.map(col): _*)

  // not private: encoder-generated code must be able to access these
  /** A nullable value row: every value twin folds these. */
  case class ValueEvent(series: String, tsUs: Long, value: Option[Double],
      eventTime: java.sql.Timestamp) extends SeriesEvent
  /** A [[graft.functions.Recurrence]]'s own state, stamped with the last
    * row folded in: the state record of every [[recurrenceFold]]. */
  case class RecState[R](rec: R, lastTsUs: Long) extends Stamped

  private def doubleValue(valueCol: String): Column =
    col(valueCol).cast(DoubleType).alias("value")

  /** The stream runner of a shared [[graft.functions.Recurrence]]: the
    * batch twin's `init`/`step`/`onNull`/`emit` run per series on the fold
    * under the recurrence's null rule, so the two are bit-identical by
    * construction. A null value before the series' first non-null value
    * leaves it without state (the row emits nulls). */
  private def recurrenceFold[R: TypeTag](df: DataFrame, tsCol: String,
      seriesCols: Seq[String], valueCol: String, stateTtl: Option[String],
      rec: Recurrence[R], outCols: Seq[String]): DataFrame = {
    val out = seriesFold[ValueEvent, RecState[R],
        (String, Long, Option[Double], Option[Seq[Option[Double]]])](
        df, tsCol, seriesCols, stateTtl, doubleValue(valueCol)) { (key, cur, e) =>
      val r = (cur.map(_.rec), e.value) match {
        case (None, x) => x.map(rec.init)
        case (Some(s), Some(x)) => Some(rec.step(s, x))
        case (Some(s), None) => Some(rec.onNull(s))
      }
      (r.map(RecState(_, e.tsUs)), Some((key, e.tsUs, e.value, r.map(rec.emit))))
    }
    valueRows(out.toDF("series", "tsUs", "value", "out")
      .select(col("series") +: col("tsUs") +: col("value") +:
        outCols.indices.map(i => col("out").getItem(i)): _*),
      df, tsCol, seriesCols, valueCol, outCols: _*)
  }

  // ------------------------------------------------ streaming EMA
  /** Streaming exponential moving average: ema' = α·x + (1−α)·ema per
    * series, one double of state — the [[graft.functions.Recurrence.ema]]
    * recursion shared with [[graft.tsdf.Stats.emaExact]]. This is the
    * EXACT infinite-horizon recursion; the batch `ema` operator
    * approximates it with a 5-term lag window (reference semantics), so the
    * two converge as the window grows but are not bit-equal by design. */
  def ema(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      valueCol: String, alpha: Double,
      stateTtl: Option[String] = None): DataFrame =
    recurrenceFold(df, tsCol, seriesCols, valueCol, stateTtl,
      Recurrence.ema(alpha), Seq(s"ema_$valueCol"))

  /** Streaming EW mean + variance: the [[graft.functions.Recurrence.ewmVar]]
    * recursion carried as two doubles of per-series state — bit-identical
    * to the batch window aggregate by construction. Output: series + ts +
    * value + `ewm_mean_<col>` + `ewm_var_<col>`. */
  def ewmVolatility(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      valueCol: String, alpha: Double,
      stateTtl: Option[String] = None): DataFrame =
    recurrenceFold(df, tsCol, seriesCols, valueCol, stateTtl,
      Recurrence.ewmVar(alpha), Seq(s"ewm_mean_$valueCol", s"ewm_var_$valueCol"))

  /** Streaming Wilder RSI: [[graft.functions.Recurrence.rsi]], shared with
    * [[graft.tsdf.Stats.rsi]] — the two EMA accumulators and the previous
    * value per series. The first row of a series emits a null rsi (no move
    * yet). Output: series + ts + value + `rsi_<col>`. */
  def rsi(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      valueCol: String, n: Int,
      stateTtl: Option[String] = None): DataFrame =
    recurrenceFold(df, tsCol, seriesCols, valueCol, stateTtl,
      Recurrence.rsi(n), Seq(s"rsi_$valueCol"))

  /** Streaming MACD: [[graft.functions.Recurrence.macd]], shared with
    * [[graft.tsdf.Stats.macd]] — the three exact-EMA recursions as three
    * doubles of per-series state. Output: series + ts + value +
    * `macd_<col>` + `macd_signal_<col>` + `macd_hist_<col>`. */
  def macd(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      valueCol: String, fast: Int = 12, slow: Int = 26, signal: Int = 9,
      stateTtl: Option[String] = None): DataFrame =
    recurrenceFold(df, tsCol, seriesCols, valueCol, stateTtl,
      Recurrence.macd(fast, slow, signal),
      Seq("macd", "macd_signal", "macd_hist").map(f => s"${f}_$valueCol"))

  /** Streaming running peak + drawdown: [[graft.functions.Recurrence.drawdown]],
    * shared with [[graft.tsdf.Stats.drawdown]] — one double of per-series
    * state (the high-water mark). Output: series + ts + value +
    * `peak_<col>` + `drawdown_<col>`. */
  def drawdown(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      valueCol: String, stateTtl: Option[String] = None): DataFrame =
    recurrenceFold(df, tsCol, seriesCols, valueCol, stateTtl,
      Recurrence.drawdown, Seq(s"peak_$valueCol", s"drawdown_$valueCol"))

  /** Streaming Holt double-exponential smoothing: the level/trend recursion
    * of [[graft.functions.Recurrence.holt]] carried as two doubles of
    * per-series state — bit-identical to the batch window aggregate by
    * construction. */
  def holt(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      valueCol: String, alpha: Double, beta: Double,
      stateTtl: Option[String] = None): DataFrame =
    recurrenceFold(df, tsCol, seriesCols, valueCol, stateTtl,
      Recurrence.holt(alpha, beta),
      Seq(s"holt_level_$valueCol", s"holt_trend_$valueCol"))

  /** Streaming 1-D local-level Kalman filter: the predict/update recursion
    * of [[graft.functions.Recurrence.kalman]] carried as three doubles of
    * per-series state — bit-identical to the batch window aggregate by
    * construction. */
  def kalmanLevel(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      valueCol: String, q: Double, r: Double, p0: Option[Double] = None,
      stateTtl: Option[String] = None): DataFrame =
    recurrenceFold(df, tsCol, seriesCols, valueCol, stateTtl,
      Recurrence.kalman(q, r, p0.getOrElse(r)),
      Seq("level", "var", "gain").map(f => s"kalman_${f}_$valueCol"))

  /** The trailing `window − 1` slots (None: a null value). */
  case class RollMedState(recent: Seq[Option[Double]], lastTsUs: Long)
    extends Stamped

  /** Streaming rolling median over the trailing `window` observations per
    * series — bounded state (window−1 slots per series), the streaming
    * twin of [[graft.tsdf.Stats.rollingMedian]] (the same [[OrderStat]]
    * median of the same frame multiset, so bit-identical on the same data;
    * asserted differentially). A null value takes a frame slot; a frame
    * with no value has a null median. (The batch side keeps its bounded
    * rows frame for the `chunkRows` hot-series path, so this step is its
    * own.) */
  def rollingMedian(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      valueCol: String, window: Int,
      stateTtl: Option[String] = None): DataFrame = {
    require(window >= 1, "window must be >= 1")
    valueRows(seriesFold[ValueEvent, RollMedState,
        (String, Long, Option[Double], Option[Double])](
        df, tsCol, seriesCols, stateTtl, doubleValue(valueCol)) { (key, cur, e) =>
      val recent = cur.fold(Vector.empty[Option[Double]])(_.recent.toVector) :+ e.value
      val med = OrderStat.ofSorted(recent.takeRight(window).flatten.sorted, 0.5)
      (Some(RollMedState(recent.takeRight(window - 1), e.tsUs)),
        Some((key, e.tsUs, e.value, med)))
    }, df, tsCol, seriesCols, valueCol, s"rolling_median_$valueCol")
  }

  case class GapState(lastTsUs: Long) extends Stamped

  /** Streaming observation-gap detector: emits one row per inter-event hole
    * longer than `minGapSeconds`, per series — one long of state (the last
    * seen timestamp), the streaming twin of [[graft.tsdf.Stats.gaps]]
    * (asserted differentially). The gap row emits when the closing event
    * arrives; a dropped late row cannot report a gap that on-time history
    * already closed. An evicted series forgets its last timestamp, so a
    * hole spanning the eviction is not reported (the TTL bounds both state
    * and lookback by design). */
  def gaps(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      minGapSeconds: Long, stateTtl: Option[String] = None): DataFrame = {
    require(minGapSeconds >= 0, "minGapSeconds must be >= 0")
    val minGapUs = minGapSeconds * 1000000L
    seriesFold[ValueEvent, GapState, (String, Long, Long)](
        df, tsCol, seriesCols, stateTtl, lit(null).cast(DoubleType).alias("value")) {
      (key, cur, e) =>
      (Some(GapState(e.tsUs)), cur.filter(l => e.tsUs - l.lastTsUs > minGapUs)
        .map(l => (key, l.lastTsUs, e.tsUs)))
    }.toDF("series", "startUs", "endUs")
      .select(typedSeriesCols(df.schema, seriesCols) ++ Seq(
        timestamp_micros(col("startUs")).alias("gap_start"),
        timestamp_micros(col("endUs")).alias("gap_end"),
        ((col("endUs") - col("startUs")) / lit(1000000L)).alias("gap_seconds")): _*)
  }

  case class CusumEvent(series: String, tsUs: Long, value: Option[Long])
    extends SeriesEvent
  case class CusumState(sumHi: Long, minHi: Long, sumLo: Long, minLo: Long,
      lastTsUs: Long) extends Stamped

  /** Streaming Page's CUSUM control chart: the sequential drift detector
    * [[graft.tsdf.Stats.cusumControl]] as four longs of per-series state —
    * the prefix sum and its running minimum for each side, which the
    * reflection identity S_t = P_t − min(0, min_j P_j) turns into the
    * clamped CUSUM recursion with no recomputation. Exact integer
    * arithmetic end to end, so the stream is bit-identical to the batch
    * window plan on the same data (asserted differentially). A null value
    * keeps the sums, as batch's running sum and min skip it, and the row
    * emits the current chart (null before the first value). */
  def cusumControl(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      valueCol: String, target: Long, slack: Long, threshold: Long,
      stateTtl: Option[String] = None): DataFrame = {
    require(slack >= 0, "slack must be >= 0")
    require(threshold > 0, "threshold must be > 0")
    valueRows(seriesFold[CusumEvent, CusumState, (String, Long, Option[Long],
        Option[Long], Option[Long], Option[Boolean])](
        df, tsCol, seriesCols, stateTtl,
        graft.tsdf.Stats.integralOrFail(col(valueCol), "cusumControl")
          .alias("value")) { (key, cur, e) =>
      val next = e.value.fold(cur.map(_.copy(lastTsUs = e.tsUs))) { x =>
        val pHi = cur.fold(0L)(_.sumHi) + (x - target - slack)
        val pLo = cur.fold(0L)(_.sumLo) + (target - slack - x)
        Some(CusumState(pHi, cur.fold(pHi)(c => math.min(c.minHi, pHi)),
          pLo, cur.fold(pLo)(c => math.min(c.minLo, pLo)), e.tsUs))
      }
      val s = next.map(c =>
        (c.sumHi - math.min(0L, c.minHi), c.sumLo - math.min(0L, c.minLo)))
      (next, Some((key, e.tsUs, e.value, s.map(_._1), s.map(_._2),
        s.map { case (hi, lo) => hi > threshold || lo > threshold })))
    }, df, tsCol, seriesCols, valueCol, "cusum_hi", "cusum_lo", "alert")
  }

  /** Streaming VWAP: volume-weighted average price per tumbling event-time
    * bucket, watermark-finalized — the streaming face of the batch `vwap`
    * operator (one partial+final aggregate, map-side combinable sums). */
  def vwap(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      priceCol: String, volumeCol: String, freq: String,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val spec = Resample.parseFreq(freq)
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(seriesCols.map(col) :+ window(col(tsCol), spec.sparkInterval).alias("__w"): _*)
      .agg(
        (sum(col(priceCol) * col(volumeCol)) / sum(col(volumeCol))).alias("vwap"),
        max(col(priceCol)).alias(s"max_$priceCol"),
        sum(col(volumeCol)).alias(s"sum_$volumeCol"))
      .withColumn(tsCol, col("__w.start"))
      .drop("__w")
  }

  /** Streaming min-max downsample: per (series, tumbling bucket) the rows
    * attaining the bucket min and max of `valueCol`, watermark-finalized —
    * the streaming face of [[graft.tsdf.Resample.downsampleMinMax]] (same
    * argmin/argmax struct idiom and (value, ts) tie-break; asserted
    * differentially). ≤ 2 output rows per bucket regardless of input rate. */
  def downsampleMinMax(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      freq: String, valueCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val spec = Resample.parseFreq(freq)
    val cols = df.columns.toIndexedSeq
    val payload = struct(cols.map(col): _*)
    val key = struct(col(valueCol), col(tsCol))
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(seriesCols.map(col) :+ window(col(tsCol), spec.sparkInterval).alias("__w"): _*)
      .agg(min_by(payload, key).alias("__lo"), max_by(payload, key).alias("__hi"))
      .select(col("__w.start").alias("bucket_ts"),
        explode(array_distinct(array(col("__lo"), col("__hi")))).alias("__r"))
      .select(col("bucket_ts") +: cols.map(c => col(s"__r.$c")): _*)
  }

  /** Streaming sessionization: per-series session aggregates via Spark's
    * native `session_window` (dynamic-gap event-time windows) — sessions
    * close and emit once the watermark passes `gap` past their last event.
    * The streaming face of [[graft.tsdf.Sessionize.intervals]] (equality
    * asserted differentially on random series). */
  def sessionIntervals(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      gap: String, watermarkDelay: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .groupBy(seriesCols.map(col) :+ session_window(col(tsCol), gap).alias("__w"): _*)
      .agg(min(col(tsCol)).alias("session_start"),
        max(col(tsCol)).alias("session_end"),
        count(lit(1)).alias("n_events"))
      .drop("__w")

  /** Streaming exact dedup on a normalized-text fingerprint: the streaming
    * face of `Dedup.exactNormalized`. State per fingerprint is bounded by
    * the watermark (`dropDuplicatesWithinWatermark`): two copies arriving
    * within `watermarkDelay` of each other dedup; state older than the
    * watermark is evicted — the standard at-scale trade of exactness-
    * forever vs bounded state. Emits the first-seen row per fingerprint. */
  def dedupNormalized(df: DataFrame, tsCol: String, textCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    df.withColumn("__fp", md5(graft.pipeline.Dedup.normalizeText(col(textCol))))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Stateless per-PARTITION pre-aggregation (a map-side combine): each
    * input partition folds its rows of a micro-batch into one `V` per key
    * (`add` from a fresh `zero`, so a mutable accumulator is never shared
    * across keys) and emits `out`'s rows per key in key order, which keeps
    * the output deterministic per input partition (task-retry safe); an
    * empty partition emits nothing. No exchange, no sort, no state
    * stores. Exact for any partitioning and any micro-batch split whenever
    * the sink fold is additive (sums, counts) or idempotent (max, OR, a
    * k-min re-fold) — the discipline of every `*Deltas` operator below. */
  private def partitionCombine[E, K: Ordering, V, O: Encoder](events: Dataset[E])(
      key: E => K, zero: => V)(add: (V, E) => V)(
      out: ((K, V)) => IterableOnce[O]): Dataset[O] =
    events.mapPartitions { it =>
      val acc = scala.collection.mutable.SortedMap.empty[K, V]
      it.foreach { e => val k = key(e); acc(k) = add(acc.getOrElse(k, zero), e) }
      acc.iterator.flatMap(out)
    }

  // ------------------------------------------------ streaming HLL registers
  case class HllEvent(series: String, bucket: Long, rho: Int,
      eventTime: java.sql.Timestamp)
  case class HllRegState(regs: Array[Int])

  /** Streaming HyperLogLog register build: per series, a register
    * CHANGELOG whose `max(register) per (series, bucket)` rollup at ANY
    * point reconstructs the exact batch
    * [[graft.pipeline.Sketch.hllRegisters]] file of everything ingested
    * so far; [[graft.pipeline.Sketch.hllEstimate]] then reads
    * distinct-count estimates from the rollup. The cell coordinates come
    * from the shared [[graft.pipeline.Sketch.hllCells]] expressions, so
    * batch and stream sketches are bit-identical by construction.
    *
    * Without `stateTtl` the emission is a stateless per-partition
    * pre-aggregation (each (partition, batch) emits its own per-bucket
    * max rho — max is idempotent and commutative, so the rollup is exact
    * for any partitioning; no exchange, no state stores — the
    * [[histogramDeltas]] discipline). With `stateTtl` the keyed stateful
    * form runs instead: m ints of state per series, merge-free,
    * watermark-evicted — eviction genuinely requires remembered state.
    * Late rows are harmless either way (a register can only be raised,
    * never needs rewinding). */
  def hllRegisters(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      itemCol: Column, bucketBits: Int = 6, seed: Int = 29,
      stateTtl: Option[String] = None, wide: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val m = 1 << bucketBits
    // `wide` selects the ~60-bit CRT-pair family (cells from the SAME
    // shared hllCells expressions the batch builder uses, so batch and
    // stream cannot drift) — required when a series' distinct count can
    // approach the narrow family's ~10⁹ ceiling; read the rollup with
    // hllEstimate(..., wide = true).
    val (bucket, rho) =
      graft.pipeline.Sketch.hllCells(itemCol, bucketBits, seed, wide)
    val projected = df.select(
      seriesKey(seriesCols).alias("series"),
      bucket.alias("bucket"), rho.cast(IntegerType).alias("rho"),
      col(tsCol).alias("eventTime"))
      .filter(col("bucket").isNotNull) // null items carry no cell
    val events = stateTtl.fold(projected)(ttl =>
      projected.withWatermark("eventTime", ttl)).as[HllEvent]
    // Without a TTL the changelog needs NO cross-batch state for the
    // rollup to be exact: the sink fold is max(register), and max is
    // idempotent and commutative, so emitting each PARTITION's per-batch
    // maxima (a stateless map-side combine — no exchange, no sort, no
    // state stores) max-folds to the identical register file for any
    // partitioning and any micro-batch split. The keyed stateful form
    // below survives only for the TTL path, whose eviction semantics
    // genuinely require remembered state.
    val out = (if (stateTtl.isEmpty)
      partitionCombine(events)((e: HllEvent) => (e.series, e.bucket), 0)(
        (r, e) => math.max(r, e.rho)) { case ((s, b), r) => Some((s, b, r)) }
    else keyedState[String, HllEvent, HllRegState, (String, Long, Int)](
        events.groupByKey(_.series), stateTtl,
        (_, rows) => rows.map(_.eventTime.getTime).max) { (key, stored, rows) =>
      val regs = stored.fold(new Array[Int](m))(_.regs)
      val changed = scala.collection.mutable.SortedSet.empty[Int]
      rows.foreach { e =>
        val b = e.bucket.toInt
        if (e.rho > regs(b)) { regs(b) = e.rho; changed += b }
      }
      (Some(HllRegState(regs)), changed.iterator.map(b => (key, b.toLong, regs(b))))
    })
      .toDF("series", "bucket", "register")
    out.select(typedSeriesCols(df.schema, seriesCols) ++ Seq(
      col("bucket"), col("register")): _*)
  }

  // ----------------------------------------------- streaming KMV k-min
  case class KmvEvent(series: String, h: Long)

  /** Streaming KMV k-min build: per series, each (input partition,
    * micro-batch) emits ITS OWN k smallest distinct item hashes — a
    * stateless per-partition pre-aggregation (the [[histogramDeltas]]
    * discipline: no exchange, no sort, no state stores).
    * Reconstruction invariant: a member of the FINAL global k-min set
    * has fewer than k distinct hashes below it anywhere, hence fewer
    * than k below it inside any (partition, batch) that carries it — so
    * every final member is emitted, the sink holds a superset of the
    * final set, and re-taking the k smallest distinct over it —
    * [[graft.pipeline.Sketch.kmvFromHashes]], the same aggregate the
    * batch builder uses — reproduces the batch
    * [[graft.pipeline.Sketch.kmvDistinct]] answer EXACTLY, for any
    * partitioning and any micro-batch split. Hashes come from the shared
    * engine-agnostic [[graft.pipeline.Hashing]] family, so the folded
    * readout still replays in a SQL oracle.
    *
    * The in-flight buffer is ≤ k longs per series per partition — the
    * streaming face of the bounded [[graft.functions.KMinDistinctAgg]]
    * buffer. Emission volume per (partition, batch) is ≤ k per series, so
    * the SINK grows as O(batches × partitions × k) per series and does not
    * stop growing once the sketch saturates: compact it periodically with
    * the k-min re-fold.
    * Documents carry no event time here; the per-bucket trailing variant
    * is the place for watermark/ttl semantics. */
  def kmvMins(df: DataFrame, seriesCols: Seq[String], itemCol: Column,
      k: Int, seed: Int = 17, wide: Boolean = false): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    // `wide` = the ~60-bit CRT-pair family, same expressions as the batch
    // kmvDistinct(wide = true) path — the k-min/changelog logic below is
    // hash-agnostic, so parity is by construction; fold the sink with
    // kmvFromHashes(..., space = Hashing.PW).
    val h =
      if (wide) graft.pipeline.Hashing.mixWide(
        graft.pipeline.Hashing.wideHash(itemCol), seed)
      else graft.pipeline.Hashing.mix(
        graft.pipeline.Hashing.polyHash(itemCol), seed)
    val events = df.select(
      seriesKey(seriesCols).alias("series"), h.alias("h"))
      .filter(col("h").isNotNull).as[KmvEvent]
    // Stateless per-PARTITION k-min emission — no exchange, no sort, no
    // state stores. Superset invariant, per partition: a member of the
    // FINAL global k-min set has fewer than k distinct hashes below it
    // anywhere, hence fewer than k below it inside any partition's batch
    // that contains it — so every final member is emitted by whichever
    // (partition, batch) first carries it, the sink holds a superset of
    // the final set, and the k-min re-fold ([[graft.pipeline.Sketch
    // .kmvFromHashes]], which takes the k smallest DISTINCT) reproduces
    // the batch sketch exactly for any partitioning and any micro-batch
    // split. A hash re-emitted by a later batch or a sibling partition is
    // excess the re-fold trims — the same slack the old changelog already
    // carried for evicted entries.
    import scala.jdk.CollectionConverters._
    val out = partitionCombine(events)((e: KmvEvent) => e.series,
        new java.util.TreeSet[java.lang.Long]()) { (set, e) =>
        val v = e.h
        if (!set.contains(v)) {
          if (set.size < k) set.add(v)
          else if (v < set.last()) { set.add(v); set.pollLast() }
        }
        set
      } { case (s, set) => set.iterator().asScala.map(v => (s, v.longValue())) }
      .toDF("series", "h")
    out.select(typedSeriesCols(df.schema, seriesCols) :+ col("h"): _*)
  }

  // ----------------------------------------------- streaming histogram
  case class HistEvent(series: String, bin: Long,
      eventTime: java.sql.Timestamp)

  /** Streaming histogram-sketch feed: per micro-batch, the exact bin
    * counts of the batch's rows per series — COUNT DELTAS, so a plain
    * `sum(cnt) per (series, bin)` over the sink reconstructs the exact
    * [[graft.pipeline.Sketch.histogram]] of everything ingested (counts
    * are additive; the rollup at any point is the sketch so far, and
    * [[graft.pipeline.Sketch.histQuantiles]] reads quantiles from it).
    * Bins come from the shared [[graft.pipeline.Sketch.histBin]]
    * expression, so batch and stream cannot drift. The operator carries
    * NO cross-batch state (deltas need none) — it is a stateless
    * per-partition pre-aggregation; nothing is stored, nothing can
    * leak. */
  def histogramDeltas(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      valueCol: Column, lo: Double, hi: Double, nBins: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val projected = df.select(
      seriesKey(seriesCols).alias("series"),
      graft.pipeline.Sketch.histBin(valueCol, lo, hi, nBins).alias("bin"),
      col(tsCol).alias("eventTime"))
      .filter(col("bin").isNotNull).as[HistEvent]
    val out = partitionCombine(projected)((e: HistEvent) => (e.series, e.bin),
        0L)((c, _) => c + 1L) { case ((s, b), c) => Some((s, b, c)) }
      .toDF("series", "bin", "cnt")
    out.select(typedSeriesCols(df.schema, seriesCols) ++ Seq(
      col("bin"), col("cnt")): _*)
  }

  // ----------------------------------------------- streaming count-min
  case class CmsEvent(series: String, row: Long, bucket: Long)

  /** Streaming Count-Min feed: per micro-batch, the exact per-cell hit
    * counts of the batch's items per series — COUNT DELTAS, so a plain
    * `sum(cnt) per (series, row, bucket)` over the sink reconstructs the
    * exact [[graft.pipeline.Sketch.cmsBuild]] grid of everything ingested
    * (CMS counters are additive), readable with the unchanged batch
    * [[graft.pipeline.Sketch.cmsEstimate]]. Addresses come from the shared
    * [[graft.pipeline.Sketch.cmsAddresses]] expressions (narrow or `wide`
    * CRT-pair family), so batch and stream cannot drift and the folded
    * readout replays in the same SQL oracle as the batch sketch.
    *
    * Deltas are emitted per INPUT PARTITION per batch (a stateless
    * map-side combine — the [[histogramDeltas]] discipline): additivity
    * makes the fold exact for any partitioning, parallelism follows the
    * ingest partitions, and the stream plan carries no exchange and no
    * state stores. No cross-batch state is needed (deltas carry none).
    * Null items carry no cells (same convention as [[hllRegisters]]). */
  def cmsDeltas(df: DataFrame, seriesCols: Seq[String], itemCol: Column,
      width: Int, depth: Int, seed: Int = 53,
      wide: Boolean = false): DataFrame = {
    require(width >= 2 && depth >= 1, "need width >= 2, depth >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val projected = df.select(
      seriesKey(seriesCols).alias("series"),
      explode(graft.pipeline.Sketch.cmsAddresses(
        itemCol, width, depth, seed, wide)).alias("__a"))
      .select(col("series"), col("__a.row").alias("row"),
        col("__a.bucket").alias("bucket"))
      .filter(col("bucket").isNotNull)
      .as[CmsEvent]
    val out = partitionCombine(projected)(
        (e: CmsEvent) => (e.series, e.row, e.bucket), 0L)((c, _) => c + 1L) {
        case ((s, r, b), c) => Some((s, r, b, c)) }
      .toDF("series", "row", "bucket", "cnt")
    out.select(typedSeriesCols(df.schema, seriesCols) ++ Seq(
      col("row"), col("bucket"), col("cnt")): _*)
  }

  // ----------------------------------------------- streaming Bloom filter
  case class BloomEvent(series: String, word: Long, mask: Long)

  /** Streaming Bloom filter build: per series, the filter's set bits
    * emitted as a CHANGELOG — each (input partition, micro-batch) emits,
    * per 31-bit word, one row holding the OR of the masks it saw. Set
    * bits are idempotent under OR, so `bit_or(mask) per (series, word)`
    * over the sink reconstructs the batch
    * [[graft.pipeline.Sketch.bloomBuild]] filter exactly, for any
    * partitioning and any micro-batch split — probed with the unchanged
    * batch [[graft.pipeline.Sketch.bloomProbe]], replayed by the same SQL
    * oracle. Addresses come from the shared
    * [[graft.pipeline.Sketch.bloomAddresses]] expressions (narrow or
    * `wide`).
    *
    * The emission is a stateless per-partition pre-aggregation (the
    * [[histogramDeltas]] discipline): no exchange, no sort, no state
    * stores — the filter's footprint (≤ m/31 word rows per series per
    * partition per batch) bounds both the in-flight map and the sink
    * traffic. CONTRACT: fold the sink with `bit_or(mask)`, never `sum` — a
    * (series, word, bit) may be emitted by several (partition, batch)
    * pairs, and only the idempotent OR lands on the batch filter. The SINK
    * grows as O(batches × partitions × m/31) word rows per series and does
    * not stop growing once the filter saturates: compact it periodically
    * with the same `bit_or` fold. Null items carry no bits. */
  def bloomBits(df: DataFrame, seriesCols: Seq[String], itemCol: Column,
      mBits: Int, depth: Int, seed: Int = 97,
      wide: Boolean = false): DataFrame = {
    require(mBits >= graft.pipeline.Sketch.BloomBitsPerWord && depth >= 1,
      s"need mBits >= 31, depth >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val projected = df.select(
      seriesKey(seriesCols).alias("series"),
      explode(graft.pipeline.Sketch.bloomAddresses(
        itemCol, mBits, depth, seed, wide)).alias("__a"))
      .select(col("series"), col("__a.word").alias("word"),
        col("__a.mask").alias("mask"))
      .filter(col("word").isNotNull)
      .as[BloomEvent]
    val out = partitionCombine(projected)((e: BloomEvent) => (e.series, e.word),
        0L)((m, e) => m | e.mask) { case ((s, w), m) => Some((s, w, m)) }
      .toDF("series", "word", "mask")
    out.select(typedSeriesCols(df.schema, seriesCols) ++ Seq(
      col("word"), col("mask")): _*)
  }

  // ----------------------------------------------- streaming keyed sums
  case class SumEvent(series: String, key: Long, v: Long)

  /** Streaming keyed-sum feed: per micro-batch, the exact integer SUM
    * DELTAS of `valueCol` per (series, key) — sums are additive, so a
    * plain `sum(s) per (series, key)` over the sink reconstructs the
    * exact batch grouped sum of everything ingested, for any micro-batch
    * split. This is the generic additive building block behind profile
    * maintenance on a stream: any downstream shape built from grouped
    * integer sums (hour-of-day profiles for DTW, per-bucket masses,
    * count grids via `valueCol = 1`) folds from the sink without
    * rescanning history. No cross-batch state is carried (deltas need
    * none — the emission is a stateless per-partition pre-aggregation,
    * the [[histogramDeltas]] discipline); sink traffic per batch is the
    * number of DISTINCT (series, key) cells touched per partition, not
    * the row count. Null keys and null values carry nothing. */
  def sumDeltas(df: DataFrame, seriesCols: Seq[String], keyCol: Column,
      valueCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val projected = df.select(
      seriesKey(seriesCols).alias("series"),
      keyCol.cast(LongType).alias("key"),
      valueCol.cast(LongType).alias("v"))
      .filter(col("key").isNotNull && col("v").isNotNull)
      .as[SumEvent]
    val out = partitionCombine(projected)((e: SumEvent) => (e.series, e.key),
        0L)((v, e) => v + e.v) { case ((s, k), v) => Some((s, k, v)) }
      .toDF("series", "key", "s")
    out.select(typedSeriesCols(df.schema, seriesCols) ++ Seq(
      col("key"), col("s")): _*)
  }

  // ------------------------------------------- streaming survival grid
  case class KmEvent(series: String, t: Long, ev: Boolean)

  /** Additive Kaplan–Meier grid deltas: per micro-batch, per (series,
    * duration t), the event count Δd and total observation count Δobs —
    * both plain sums, so the folded sink equals the batch (group, t)
    * grid for ANY micro-batching, and
    * [[graft.pipeline.Analytics.kaplanMeierFromGrid]] lands on the
    * identical curve (risk sets and the survival fold are pure
    * functions OF THE GRID). Same contract class as [[sumDeltas]]:
    * stateless per batch, sink traffic = touched (series, t) cells. */
  def kmDeltas(df: DataFrame, seriesCols: Seq[String],
      durationCol: Column, eventCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val projected = df.select(
      seriesKey(seriesCols).alias("series"),
      durationCol.cast(LongType).alias("t"),
      eventCol.alias("ev"))
      .filter(col("t").isNotNull && col("ev").isNotNull)
      .as[KmEvent]
    val out = partitionCombine(projected)((e: KmEvent) => (e.series, e.t),
        (0L, 0L)) { case ((d, o), e) => (d + (if (e.ev) 1L else 0L), o + 1L) } {
        case ((s, t), (d, o)) => Some((s, t, d, o)) }
      .toDF("series", "t", "d", "obs")
    out.select(typedSeriesCols(df.schema, seriesCols) ++ Seq(
      col("t"), col("d"), col("obs")): _*)
  }

  // --------------------------------------------- streaming novelty gate
  case class NoveltyFp(fp: Long, doc: Long)
  case class NoveltyFpT(fp: Long, doc: Long, eventTime: java.sql.Timestamp)

  /** Ingest-time first-occurrence novelty gate — the streaming face of
    * [[graft.pipeline.TextAnalysis.winnowNovelty]], the dedup-priority
    * operator a real ingestion pipeline runs: state per winnow
    * fingerprint is its FIRST owner's id, and every arriving document's
    * (doc, fp) rows are emitted with a `novel` flag (this doc owns the
    * fingerprint first). The per-doc score is then a stateless fold over
    * the sink — `n_novel / n_fps` per doc, exactly the batch formula.
    *
    * Ownership semantics: first ARRIVAL wins; within a micro-batch ties
    * break to the minimum id. Batch winnowNovelty's min-id "first owner"
    * is its ingestion-order proxy, so stream == batch EXACTLY whenever
    * ingestion order is nondecreasing in id (any batching, any order
    * WITHIN a batch) — the single-micro-batch AvailableNow harness and
    * the id-ordered multi-batch differential both sit inside that
    * contract. A smaller id arriving after its fingerprint was claimed
    * scores as non-novel — the honest ingest-time answer.
    *
    * Scale shape: the winnow selection is the same stateless scan-local
    * expression as the batch operator (no pair face, no all-pairs);
    * state is ONE long per distinct fingerprint, merge-free; the only
    * shuffle is the groupByKey on fp — the same key the batch first-owner
    * aggregate shuffles on. The per-(fp, batch) doc set materialized in
    * the group function is bounded by the fingerprint's document
    * frequency within the batch (the bounded-by-semantics per-group
    * contract class). Ids must be castable to long.
    *
    * State lifecycle: with the defaults, ownership is remembered FOREVER
    * — state grows with the distinct-fingerprint universe, the correct
    * gate for a bounded corpus build. For unbounded rolling ingestion
    * pass `stateTtl` + `eventTimeCol`: the TTL (the corpus-rotation
    * horizon) runs from a fingerprint's LAST sighting, and the next
    * arrival after its eviction re-claims it as novel (the answer a
    * batch re-run over the retained window would give). */
  def noveltyOwnership(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, w: Int = 4, stateTtl: Option[String] = None,
      eventTimeCol: Option[String] = None): DataFrame = {
    require(stateTtl.isDefined == eventTimeCol.isDefined,
      "stateTtl and eventTimeCol come together (event-time TTL eviction)")
    val spark = df.sparkSession
    import spark.implicits._
    if (stateTtl.isEmpty)
      firstOwners(graft.pipeline.TextAnalysis.winnowFingerprints(
          df, textCol, idCol, k, w)
        .select(col("fp"), col(idCol).cast(LongType).alias("doc"))
        .as[NoveltyFp].groupByKey(_.fp), stateTtl)(_.doc, _ => 0L)(
        (fp, d, novel) => (d, fp, novel))
        .toDF(idCol, "fp", "novel")
    else
      firstOwners(graft.pipeline.TextAnalysis.winnowFingerprints(
          df, textCol, idCol, k, w, carryCols = eventTimeCol.toSeq)
        .select(col("fp"), col(idCol).cast(LongType).alias("doc"),
          col(eventTimeCol.get).alias("eventTime"))
        .withWatermark("eventTime", stateTtl.get)
        .as[NoveltyFpT].groupByKey(_.fp), stateTtl)(
        _.doc, _.eventTime.getTime)((fp, d, novel) => (d, fp, novel))
        .toDF(idCol, "fp", "novel")
  }

  /** The first-owner state shared by [[noveltyOwnership]] and
    * [[fingerprintOwnership]]: ONE long per key (its owner's id), first
    * arrival wins and ties within a micro-batch break to the minimum id.
    * Every arriving (key, doc) is emitted once with its `novel` flag. With
    * `stateTtl` (the rows then carry a watermarked event time, `eventMs`)
    * the TTL clock is the key's LAST sighting: it restarts at each one. */
  private def firstOwners[K, E, O: Encoder](grouped: KeyValueGroupedDataset[K, E],
      stateTtl: Option[String])(doc: E => Long, eventMs: E => Long)(
      out: (K, Long, Boolean) => O): Dataset[O] =
    keyedState[K, E, Long, O](grouped, stateTtl, (_, rows) => rows.map(eventMs).max) {
      (key, stored, rows) =>
        val docs = rows.map(doc).toSet
        val owner = stored.getOrElse(docs.min)
        (Some(owner), docs.iterator.map(d => out(key, d, d == owner)))
    }(Encoders.scalaLong, implicitly[Encoder[O]])

  case class MediaFpRow(modality: String, fp: String, nUnits: Long,
      doc: Long)
  case class MediaFpRowT(modality: String, fp: String, nUnits: Long,
      doc: Long, eventTime: java.sql.Timestamp)

  /** First-owner gate over ARBITRARY content fingerprints —
    * [[noveltyOwnership]]'s state discipline (one owner per distinct
    * key, first-arrival-wins, min-id within a micro-batch) generalized
    * from winnow fingerprints to any (modality, fp, n_units, id) frame,
    * e.g. [[graft.pipeline.Multimodal.mediaFingerprints]] on an
    * arriving payload stream: the decode + fingerprint are stateless
    * scan-local maps, state is ONE long per distinct content group, and
    * the only shuffle carries fingerprint rows — payload bytes never
    * cross an exchange. Same id-ordered-ingestion equivalence contract
    * as [[noveltyOwnership]]; output (modality, fp, n_units, idCol,
    * novel).
    *
    * State lifecycle: as [[noveltyOwnership]]'s, per content group. For
    * rolling media ingestion `eventTimeCol` is a column of `fps`, carried
    * through the decode map via
    * [[graft.pipeline.Multimodal.mediaFingerprints]]'s carryCols. */
  def fingerprintOwnership(fps: DataFrame, idCol: String,
      stateTtl: Option[String] = None,
      eventTimeCol: Option[String] = None): DataFrame = {
    require(stateTtl.isDefined == eventTimeCol.isDefined,
      "stateTtl and eventTimeCol come together (event-time TTL eviction)")
    val spark = fps.sparkSession
    import spark.implicits._
    val rows = fps.select(Seq(col("modality"), col("fp"),
      col("n_units").alias("nUnits"), col(idCol).cast(LongType).alias("doc")) ++
      eventTimeCol.map(col(_).alias("eventTime")): _*)
    def out(key: (String, String, Long), d: Long, novel: Boolean) =
      (key._1, key._2, key._3, d, novel)
    (if (stateTtl.isEmpty)
      firstOwners(rows.as[MediaFpRow].groupByKey(r => (r.modality, r.fp, r.nUnits)),
        stateTtl)(_.doc, _ => 0L)(out)
    else
      firstOwners(rows.withWatermark("eventTime", stateTtl.get)
        .as[MediaFpRowT].groupByKey(r => (r.modality, r.fp, r.nUnits)),
        stateTtl)(_.doc, _.eventTime.getTime)(out))
      .toDF("modality", "fp", "n_units", idCol, "novel")
  }

  /** The batch-formula rollup over a [[noveltyOwnership]] sink: per-doc
    * fingerprint count, first-owned count, and their ratio — identical
    * column contract to [[graft.pipeline.TextAnalysis.winnowNovelty]].
    * Works on the sink at ANY point in the stream's life (each (doc, fp)
    * row is emitted exactly once). */
  def noveltyScores(sink: DataFrame, idCol: String): DataFrame = sink
    .groupBy(col(idCol))
    .agg(count(lit(1)).alias("n_fps"),
      sum(when(col("novel"), 1L).otherwise(0L)).alias("n_novel"))
    .withColumn("novelty",
      col("n_novel").cast(DoubleType) / col("n_fps").cast(DoubleType))

  // ---------------------------------------------- streaming stat moments
  case class StatEvent(series: String, y: Long)

  /** Streaming (n, Σy, Σy²) feed: per micro-batch, the exact integer
    * first/second-moment DELTAS of `valueCol` per series — additive, so
    * a plain fold over the sink reconstructs the batch moment table for
    * any micro-batch split. These three numbers are the sufficient
    * statistics behind mean/variance/z-scores and Welch's t-test
    * ([[graft.pipeline.Drift.welchTTest]]'s per-cohort state), so any
    * of those refit from the fold with no history rescan. No
    * cross-batch state; one output row per (series, batch). */
  def statsDeltas(df: DataFrame, seriesCols: Seq[String],
      valueCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val projected = df.select(
      seriesKey(seriesCols).alias("series"),
      valueCol.cast(LongType).alias("y"))
      .filter(col("y").isNotNull)
      .as[StatEvent]
    val out = partitionCombine(projected)((e: StatEvent) => e.series,
        (0L, 0L, 0L)) { case ((n, s1, s2), e) => (n + 1, s1 + e.y, s2 + e.y * e.y) } {
        case (k, (n, s1, s2)) => Some((k, n, s1, s2)) }
      .toDF("series", "n", "s1", "s2")
    out.select(typedSeriesCols(df.schema, seriesCols) ++ Seq(
      col("n"), col("s1"), col("s2")): _*)
  }

  // ---------------------------------------------- streaming OLS moments
  case class OlsEvent(series: String, x1: Long, x2: Long, y: Long)

  /** Streaming OLS-moment feed: per micro-batch, the nine exact integer
    * moment DELTAS per series that [[graft.pipeline.Regression]] fits
    * from — moments are additive, so `sum` per series over the sink
    * reconstructs the exact batch moment table for any micro-batch
    * split, and [[graft.pipeline.Regression.olsFromMoments]] turns the
    * fold into the identical bit-exact βs (incremental model refit with
    * no history rescan). No cross-batch state (deltas need none); one
    * output row per (series, batch). */
  def olsMomentDeltas(df: DataFrame, seriesCols: Seq[String], x1: Column,
      x2: Column, y: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val projected = df.select(
      seriesKey(seriesCols).alias("series"),
      x1.cast(LongType).alias("x1"), x2.cast(LongType).alias("x2"),
      y.cast(LongType).alias("y"))
      .filter(col("x1").isNotNull && col("x2").isNotNull &&
        col("y").isNotNull)
      .as[OlsEvent]
    // moments are additive, so per-partition per-batch deltas fold
    // identically for any partitioning and micro-batching
    val out = partitionCombine(projected)((e: OlsEvent) => e.series,
        new Array[Long](9)) { (a, e) =>
        a(0) += 1; a(1) += e.x1; a(2) += e.x2; a(3) += e.y
        a(4) += e.x1 * e.x1; a(5) += e.x1 * e.x2; a(6) += e.x2 * e.x2
        a(7) += e.x1 * e.y; a(8) += e.x2 * e.y
        a
      } { case (k, a) =>
        Some((k, a(0), a(1), a(2), a(3), a(4), a(5), a(6), a(7), a(8))) }
      .toDF("series", "n", "sx1", "sx2", "sy", "sx11", "sx12", "sx22",
        "sx1y", "sx2y")
    out.select(typedSeriesCols(df.schema, seriesCols) ++ Seq(
      col("n"), col("sx1"), col("sx2"), col("sy"), col("sx11"),
      col("sx12"), col("sx22"), col("sx1y"), col("sx2y")): _*)
  }

  // ---------------------------------------------- streaming pair counts
  case class PairEvent(w1: String, w2: String)

  /** Streaming pair-count feed: per micro-batch, the exact COUNT DELTAS
    * per (w1, w2) string pair — counts are additive, so `sum(cnt) per
    * (w1, w2)` over the sink reconstructs the exact batch pair grid of
    * everything ingested, for any micro-batch split (pairs are generated
    * WITHIN arriving rows — e.g. a document's bigrams — so no pair can
    * straddle a batch boundary and no cross-batch state is needed).
    * Deltas are emitted per INPUT PARTITION per batch (a stateless
    * map-side combine — the [[histogramDeltas]] discipline): no
    * exchange, no sort, no state stores. Sink traffic per batch =
    * distinct pairs touched per partition, not occurrences. */
  def pairCountDeltas(df: DataFrame, aCol: Column,
      bCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val projected = df.select(
      aCol.cast(StringType).alias("w1"), bCol.cast(StringType).alias("w2"))
      .filter(col("w1").isNotNull && col("w2").isNotNull)
      .as[PairEvent]
    partitionCombine(projected)((e: PairEvent) => (e.w1, e.w2), 0L)(
        (c, _) => c + 1L) { case ((a, b), c) => Some((a, b, c)) }
      .toDF("w1", "w2", "cnt")
  }

  // ----------------------------------------------- streaming Gram matrix
  case class GramEvent(vec: Seq[Long])

  /** Streaming Gram-matrix feed: per micro-batch, the exact integer
    * second-moment DELTAS of the batch's vectors — the packed
    * upper-triangle cell sums Σ vᵢ·vⱼ plus the contributing row count,
    * per input partition. Gram sums are additive across rows, so
    * `sum(s), sum(n) per (i, j)` over the sink reconstructs the exact
    * batch [[graft.pipeline.Pca.gramMatrix]] of everything ingested, for
    * any micro-batch split — the streaming face of the one-pass
    * PCA/covariance trainer (an incremental model refresh reads the
    * folded grid and re-runs the driver-side eigensolve; the corpus is
    * never rescanned). Cell layout is the same k ↔ (i ≤ j) enumeration
    * as [[graft.functions.GramMatrixAgg]], and every cell of every
    * (batch, group) is emitted — including zero sums — so the folded n
    * is the row count on every cell, exactly like the batch output.
    *
    * The emission is a stateless per-partition pre-aggregation (the
    * [[histogramDeltas]] discipline): no exchange, no sort, no state
    * stores — Gram deltas are additive across partitions exactly as they
    * are across rows. Per partition the in-flight accumulator is one
    * dim(dim+1)/2 Long array (~16 KiB at dim 64), the same bounded
    * footprint as the batch aggregate's buffer; no cross-batch state is
    * carried (deltas need none). Sink traffic is cells × input
    * partitions per micro-batch, independent of row count. Null and
    * wrong-length vectors are rejected up front (the batch aggregate's
    * convention). */
  def gramDeltas(df: DataFrame, vecCol: Column, dim: Int): DataFrame = {
    require(dim >= 1, "need dim >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val nCells = dim * (dim + 1) / 2
    val projected = df.select(
      transform(vecCol, x => x.cast(LongType)).alias("vec"))
      .filter(col("vec").isNotNull && size(col("vec")) === dim)
      .as[GramEvent]
    // Gram sums and row counts are additive, so per-partition per-batch
    // cell deltas fold identically for any partitioning and any
    // micro-batch split. One accumulator per partition (one constant key):
    // cells 0 until nCells, then the row count. Every cell of a non-empty
    // partition is emitted — including zero sums — so the folded n stays
    // the row count on every cell, exactly like the batch output.
    partitionCombine(projected)((_: GramEvent) => 0,
        new Array[Long](nCells + 1)) { (acc, e) =>
        val v = e.vec.toArray
        var k = 0
        var i = 0
        while (i < dim) {
          val vi = v(i)
          var j = i
          while (j < dim) { acc(k) += vi * v(j); k += 1; j += 1 }
          i += 1
        }
        acc(nCells) += 1
        acc
      } { case (_, acc) =>
        (0 until nCells).iterator.map(k => (k, acc(k), acc(nCells))) }
      .toDF("k", "s", "n")
  }

  // ----------------------------------------------- streaming pattern DFA
  case class DfaEvent(series: String, tsUs: Long, override val tie: Long,
      sym: String) extends SeriesEvent
  case class DfaState(state: Int, lastTsUs: Long, lastTie: Long)
    extends TieStamped

  /** Streaming CEP: run a caller-supplied DFA over each series' event
    * symbols in (ts, tie) order and emit per-micro-batch DELTAS of
    * (events consumed, matches accepted) — `sum` per series over the sink
    * reconstructs the batch trace length and non-overlapping match count
    * with ONE integer of pattern state per series, where the batch
    * [[graft.pipeline.Analytics.sequencePattern]] holds the whole trace.
    * This is the streaming face of sequence-pattern matching: a regular
    * pattern's matches over an unbounded stream in O(1) state.
    *
    * `transitions` must be TOTAL over (states × symbols seen):
    * (state, symbol) → (next state, accepted?). Accepting counts a match
    * and the supplied next state resumes AFTER the consumed symbol —
    * non-overlapping leftmost-SHORTEST (reluctant) semantics when the
    * DFA is the standard candidate-set construction of a regex; supply a
    * reluctant-quantifier pattern to the batch twin/oracle (the
    * q_stream_seq_pattern differential pins DFA == lazy-regex counting on
    * random traces). Unmapped events become `defaultSym`. A row at or
    * behind the series' last (ts, tie) is late ([[TieStamped]]). */
  def patternDfa(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      eventCol: String, alphabet: Map[String, String],
      transitions: Map[(Int, String), (Int, Boolean)],
      defaultSym: String = "o", tieCol: String = ""): DataFrame = {
    require(transitions.nonEmpty, "need a transition table")
    // Totality is validated HERE, on the driver, before the stream starts:
    // an unmapped (state, symbol) discovered inside the stateful operator
    // would kill the query mid-flight at runtime instead of failing fast.
    // Every symbol an event can render to is alphabet.values ++ defaultSym;
    // every reachable state is 0 plus the transition targets.
    locally {
      val syms = alphabet.values.toSet + defaultSym
      val states = transitions.valuesIterator.map(_._1).toSet ++
        transitions.keysIterator.map(_._1) + 0
      val missing = for (s <- states; y <- syms if !transitions.contains((s, y)))
        yield (s, y)
      require(missing.isEmpty,
        s"transition table not total over reachable states x symbols; " +
          s"missing: ${missing.toSeq.sorted.take(8).mkString(", ")}")
    }
    val spark = df.sparkSession
    import spark.implicits._
    val symOf = alphabet.toSeq.sortBy(_._1)
      .foldRight(lit(defaultSym): Column) { case ((k, v), acc) =>
        when(col(eventCol) === k, lit(v)).otherwise(acc)
      }
    val out = keyedState[String, DfaEvent, DfaState, (String, Long, Long)](
        keyedRows(df, tsCol, seriesCols, None, tieOf(tieCol), symOf.alias("sym"))
          .as[DfaEvent].groupByKey(_.series), None, foldClockMs) { (key, stored, rows) =>
      val (next, hits) = foldBatch(key, stored, rows) { (_, cur, e) =>
        val from = cur.fold(0)(_.state)
        val (to, hit) = transitions.getOrElse((from, e.sym),
          sys.error(s"transition table not total: state $from symbol '${e.sym}'"))
        (Some(DfaState(to, e.tsUs, e.tie)), Some(hit))
      }
      (next, Option.when(hits.nonEmpty)((key, hits.size.toLong, hits.count(identity).toLong)))
    }.toDF("series", "trace_len", "n_matches")
    out.select(typedSeriesCols(df.schema, seriesCols) ++ Seq(
      col("trace_len"), col("n_matches")): _*)
  }

  // -------------------------------------------- streaming transition steps
  case class StepEvent(series: String, tsUs: Long, override val tie: Long,
      typ: String) extends SeriesEvent
  case class StepState(lastTsUs: Long, lastTie: Long, lastType: String)
    extends TieStamped

  /** Streaming Markov transition feed: per micro-batch, the exact COUNT
    * DELTAS of adjacent (from → to) event-type steps per series in
    * (ts, tie) order — including the step that straddles the batch
    * boundary, because the state remembers the series' last event. A
    * plain `sum(n) per (from_type, to_type)` over the sink reconstructs
    * the exact batch [[graft.pipeline.Analytics.transitionMatrix]] counts
    * of everything ingested (adjacency is local, so counts are additive
    * once the boundary step is owned by the arriving batch). State is
    * ONE (ts, tie, type) triple per series; a row at or behind the
    * series' last (ts, tie) is late ([[TieStamped]]). */
  def transitionDeltas(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      typeCol: String, tieCol: String = ""): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    keyedState[String, StepEvent, StepState, (String, String, Long)](
        keyedRows(df, tsCol, seriesCols, None, tieOf(tieCol),
          col(typeCol).cast(StringType).alias("typ")).as[StepEvent].groupByKey(_.series),
        None, foldClockMs) { (key, stored, rows) =>
      val (next, steps) = foldBatch(key, stored, rows) { (_, cur, e) =>
        (Some(StepState(e.tsUs, e.tie, e.typ)),
          cur.flatMap(c => Option(c.lastType)).map((_, e.typ)))
      }
      (next, steps.groupMapReduce(identity)(_ => 1L)(_ + _).toSeq.sorted
        .map { case ((f, t), n) => (f, t, n) })
    }.toDF("from_type", "to_type", "n")
  }

  // ------------------------------------------------ streaming interpolation
  /** A non-null observation on the bucket grid. */
  case class Obs(tsUs: Long, value: Double)
  /** The last bucket taken (rows before it are late), the last non-null
    * observation, and the null buckets after it that `linear` still holds. */
  case class InterpState(lastTsUs: Long, obs: Option[Obs], held: Seq[Long])
    extends Stamped
  case class InterpOut(series: String, tsUs: Long, value: Option[Double],
      isInterpolated: Boolean)

  /** Streaming gap-fill: each series is resampled onto the `freq` grid and
    * missing buckets are emitted with `ffill` (previous value) or `linear`
    * (lerp between the flanking observations) — the streaming analog of the
    * batch resample+interpolate pipeline, emitted incrementally with ONE
    * observation of state per series (plus the null buckets `linear`
    * holds).
    *
    * On each observation at bucket b_cur, the operator emits the buckets
    * after the last one it emitted, up to b_cur. The FIRST observation in a
    * bucket wins; later observations landing in an already-taken bucket are
    * ignored, so an append sink sees each (series, bucket) exactly once —
    * the same granularity as batch `resample(freq, "floor")`, whose
    * resample + interpolate pipeline this operator equals row-for-row
    * (asserted differentially on random series in the spec).
    *
    * A null first-in-bucket value is a real bucket whose value is filled:
    * `ffill` fills it at once from the last value (null before the first);
    * `linear` holds it until the next non-null value arrives and then emits
    * the held run on the line between the two. Append-mode difference: a
    * trailing null run is held, not emitted, while batch emits it with null
    * values.
    *
    * An evicted series starts a fresh segment instead of filling across
    * the idle gap.
    */
  def interpolate(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      valueCol: String, freq: String, method: String = "ffill",
      stateTtl: Option[String] = None): DataFrame = {
    require(method == "ffill" || method == "linear",
      s"streaming interpolate supports ffill|linear, got '$method'")
    val linear = method == "linear"
    val stepUs = Resample.parseFreq(freq).micros
    seriesFold[ValueEvent, InterpState, InterpOut](df, tsCol, seriesCols,
        stateTtl, doubleValue(valueCol)) { (key, cur, e) =>
      val bucket = Math.floorDiv(e.tsUs, stepUs) * stepUs
      val obs = cur.flatMap(_.obs)
      val held = cur.fold(Seq.empty[Long])(_.held)
      // strictly greater: a second observation in an already-taken bucket
      // must not re-emit it (append sinks would see duplicates)
      if (cur.exists(bucket <= _.lastTsUs)) (cur, None)
      else if (linear && e.value.isEmpty && obs.isDefined)
        (Some(InterpState(bucket, obs, held :+ bucket)), None)
      else {
        val fill: Long => Option[Double] = t =>
          if (!linear) obs.map(_.value)
          else for (o <- obs; x <- e.value) yield o.value + (x - o.value) *
            ((t - o.tsUs).toDouble / (bucket - o.tsUs).toDouble)
        val from = if (held.nonEmpty) obs.get.tsUs else cur.fold(bucket)(_.lastTsUs)
        val fills = Iterator.iterate(from + stepUs)(_ + stepUs).takeWhile(_ < bucket)
          .map(t => InterpOut(key, t, fill(t), isInterpolated = !held.contains(t)))
        (Some(InterpState(bucket, e.value.map(Obs(bucket, _)).orElse(obs), Nil)),
          fills.toSeq :+ InterpOut(key, bucket, e.value.orElse(fill(bucket)),
            isInterpolated = false))
      }
    }.toDF()
      .select(typedSeriesCols(df.schema, seriesCols) ++ Seq(
        timestamp_micros(col("tsUs")).alias(tsCol),
        col("value").alias(valueCol),
        col("isInterpolated").alias("is_ts_interpolated")): _*)
  }

  // ------------------------------------------------ stateful run tracking
  case class ObsEvent(series: String, tsUs: Long, metrics: Seq[Option[Double]],
      eventTime: java.sql.Timestamp) extends SeriesEvent
  /** The open run. It keeps late rows (see below). */
  case class RunState(startUs: Long, lastUs: Long, metrics: Seq[Option[Double]],
      observations: Int) extends KeepsLate {
    def lastTsUs: Long = lastUs
  }

  /** Streaming analog of `extractStateIntervals` (equality state): per
    * series, maximal runs of consecutive observations with identical metric
    * vectors close and emit [start_ts, end_ts] when the state changes. The
    * compare is null-safe: a null metric is a state of its own (the batch
    * operator's `=` instead drops a row whose compare is null).
    *
    * State per key is one open run (constant size). LATE rows arriving
    * after their run closed start a new run rather than rewriting history
    * — the documented streaming-consistency trade-off vs the batch
    * operator.
    *
    * `stateTtl` (optional): a timed-out series emits its open run as
    * closed — so idle series both flush their final run (which otherwise
    * only a state *change* emits) and stop occupying memory.
    */
  def stateIntervalRuns(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      metricCols: Seq[String], stateTtl: Option[String] = None): DataFrame = {
    def closed(key: String, r: RunState) =
      Option.when(r.observations >= 2)((key, r.startUs, r.lastUs))
    foldStream[ObsEvent, RunState, (String, Long, Long)](
        keyedRows(df, tsCol, seriesCols, stateTtl,
          array(metricCols.map(col(_).cast(DoubleType)): _*).alias("metrics")),
        stateTtl, flush = closed(_, _).iterator) { (key, cur, e) =>
      cur match {
        case Some(r) if r.metrics == e.metrics =>
          (Some(r.copy(lastUs = e.tsUs, observations = r.observations + 1)), None)
        case _ => (Some(RunState(e.tsUs, e.tsUs, e.metrics, 1)), cur.flatMap(closed(key, _)))
      }
    }.toDF("series", "start_us", "end_us")
      .select(typedSeriesCols(df.schema, seriesCols) ++ Seq(
        timestamp_micros(col("start_us")).alias("start_ts"),
        timestamp_micros(col("end_us")).alias("end_ts")): _*)
  }

  case class ThreshState(lastValue: Option[Double], lastTsUs: Long)
    extends Stamped

  /** Streaming threshold-crossing detector: one (value, ts) pair of state
    * per series, the twin of [[graft.tsdf.Stats.thresholdCrossings]] —
    * emits a row only when the series crosses `threshold` between
    * consecutive observations. Neither a null row nor the row after it can
    * cross, as with batch's `lag`. Output: series + (ts, prev_ts,
    * prev_value, value, direction). */
  def thresholdCrossings(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      valueCol: String, threshold: Double,
      stateTtl: Option[String] = None): DataFrame =
    seriesFold[ValueEvent, ThreshState, (String, Long, Long, Double, Double, String)](
        df, tsCol, seriesCols, stateTtl, doubleValue(valueCol)) { (key, cur, e) =>
      val crossing = for {
        c <- cur; p <- c.lastValue; x <- e.value
        up = p < threshold && x >= threshold
        if up || (p >= threshold && x < threshold)
      } yield (key, e.tsUs, c.lastTsUs, p, x, if (up) "up" else "down")
      (Some(ThreshState(e.value, e.tsUs)), crossing)
    }.toDF("series", "tsUs", "prevTsUs", "prev_value", "value", "direction")
      .select(typedSeriesCols(df.schema, seriesCols) ++ Seq(
        timestamp_micros(col("tsUs")).alias(tsCol),
        timestamp_micros(col("prevTsUs")).alias("prev_ts"),
        col("prev_value"), col("value").alias(valueCol), col("direction")): _*)

  /** Streaming stochastic oscillator: [[graft.functions.Recurrence.stochastic]],
    * shared with [[graft.tsdf.Stats.stochastic]] — per-series state is the
    * trailing frame plus the last three %K values for the %D mean. Output:
    * series + ts + value + pct_k + pct_d. */
  def stochastic(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      valueCol: String, window: Int,
      stateTtl: Option[String] = None): DataFrame =
    recurrenceFold(df, tsCol, seriesCols, valueCol, stateTtl,
      Recurrence.stochastic(window), Seq("pct_k", "pct_d"))

  /** Streaming Donchian channels: [[graft.functions.Recurrence.donchian]],
    * shared with [[graft.tsdf.Stats.donchian]] — per-series state is the
    * trailing frame. Output: series + ts + value + dc_upper + dc_lower +
    * dc_mid. */
  def donchian(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      valueCol: String, window: Int,
      stateTtl: Option[String] = None): DataFrame =
    recurrenceFold(df, tsCol, seriesCols, valueCol, stateTtl,
      Recurrence.donchian(window), Seq("dc_upper", "dc_lower", "dc_mid"))

  /** Streaming additive Holt-Winters: per-series state is the warm-up
    * accumulator plus the rotated `m`-factor seasonal ring — the
    * [[graft.functions.Recurrence.holtWinters]] recursion shared with
    * [[graft.tsdf.Stats.holtWinters]], bit-identical by construction. Emits
    * null level/trend/seasonal through the first season. Output: series +
    * ts + value + hw_level + hw_trend + hw_seasonal. */
  def holtWinters(df: DataFrame, tsCol: String, seriesCols: Seq[String],
      valueCol: String, alpha: Double, beta: Double, gamma: Double, m: Int,
      stateTtl: Option[String] = None): DataFrame =
    recurrenceFold(df, tsCol, seriesCols, valueCol, stateTtl,
      Recurrence.holtWinters(alpha, beta, gamma, m),
      Seq("hw_level", "hw_trend", "hw_seasonal"))

  // ------------------------------------------------- streaming SCD2 changelog
  case class Scd2Event(series: String, tsUs: Long, override val tie: Long,
      attrs: Seq[String], eventTime: java.sql.Timestamp) extends SeriesEvent
  case class Scd2State(attrs: Seq[String], lastTsUs: Long, lastTie: Long)
    extends TieStamped

  /** Streaming SCD2 CHANGELOG — the dimension-maintenance face of
    * [[graft.pipeline.Cdc.scd2FromLog]]: per id, emit a row whenever the
    * tracked attributes differ (null-safe) from the previous change, in
    * (ts, tie) order; no-op re-emits are dropped. The emitted rows are
    * exactly the batch operator's collapsed change set (its `valid_from`
    * rows) — `valid_to` is a derivable view (lead over the changelog), so
    * the append-only sink stays monotone and never rewrites history.
    * State per id is ONE attribute tuple (constant size). A row at or
    * behind the id's last (ts, tie) is late ([[TieStamped]]). `tieCol`
    * totalizes the order on duplicate timestamps like the batch tieCols. */
  def scd2Changelog(df: DataFrame, idCols: Seq[String], tsCol: String,
      attrCols: Seq[String], tieCol: String,
      stateTtl: Option[String] = None): DataFrame = {
    require(attrCols.nonEmpty, "need at least one tracked attribute")
    seriesFold[Scd2Event, Scd2State, (String, Long, Seq[String])](
        df, tsCol, idCols, stateTtl, tieOf(tieCol),
        array(attrCols.map(col(_).cast(StringType)): _*).alias("attrs")) {
      (key, cur, e) =>
        // null-safe element compare: Seq equality treats null elements as
        // equal, mirroring the batch <=> struct
        (Some(Scd2State(e.attrs, e.tsUs, e.tie)),
          if (cur.forall(_.attrs != e.attrs)) Some((key, e.tsUs, e.attrs)) else None)
    }.toDF("series", "tsUs", "attrs")
      .select(typedSeriesCols(df.schema, idCols) ++
        (timestamp_micros(col("tsUs")).alias(tsCol) +:
          attrCols.zipWithIndex.map { case (a, i) =>
            col("attrs").getItem(i).cast(df.schema(a).dataType).alias(a)
          }): _*)
  }

  // ----------------------------------------------- streaming intervals
  case class IvEvent(series: String, sUs: Long, eUs: Long,
      values: Seq[Option[Double]])
  /** Per-metric winning (origStart, origEnd, value) of one elementary
    * segment: a [[graft.intervals.DisjointSweep.Win]] kept as a double. */
  case class IvWin(ws: Long, we: Long, v: Double)
  /** One elementary segment of a series' disjoint grid, carrying each
    * metric's winner independently (None = no covering interval carries
    * that metric). */
  case class IvSeg(s: Long, e: Long, wins: Seq[Option[IvWin]])
  case class IvState(rev: Long, segs: Seq[IvSeg])

  /** Streaming interval algebra — the ingest-time
    * [[graft.intervals.IntervalsDF.makeDisjoint]] maintainer. State per
    * series is its ELEMENTARY disjoint grid (no output coalescing in
    * state), each segment carrying every metric's winning
    * `(origStart, origEnd, value)`. Each micro-batch runs the batch
    * operator's kernel: [[graft.intervals.DisjointSweep.fold]] of the
    * batch's intervals into the grid, then
    * [[graft.intervals.DisjointSweep.coalesce]] of the new grid as the
    * series' snapshot. The fold is exact for ANY arrival order (no late
    * drop; see [[graft.intervals.DisjointSweep]]). Each TOUCHED series
    * emits its full coalesced snapshot tagged with a monotone `rev`;
    * "latest rev per series" over the sink IS the batch `makeDisjoint` of
    * everything ingested, for any micro-batch split and across checkpoint
    * restarts. State is O(series' boundary count) × metric count, the same
    * per-series bound as the batch kernel. Metrics are carried as doubles
    * (the documented contract). */
  def disjointIntervals(df: DataFrame, startCol: String, endCol: String,
      seriesCols: Seq[String], metricCols: Seq[String]): DataFrame = {
    require(metricCols.nonEmpty, "at least one metric column")
    val spark = df.sparkSession
    import spark.implicits._
    val k = metricCols.size
    val events = df.select(
      seriesKey(seriesCols).alias("series"),
      unix_micros(col(startCol)).alias("sUs"),
      unix_micros(col(endCol)).alias("eUs"),
      array(metricCols.map(m => col(m).cast(DoubleType)): _*)
        .alias("values")).as[IvEvent]
    val out = keyedState[String, IvEvent, IvState,
        (String, Long, Long, Long, Seq[Option[Double]])](
        events.groupByKey(_.series), None, (_, _) => 0L /* no TTL */) {
      (key, stored, rows) =>
        val ords = IndexedSeq.fill(k)(DisjointSweep.order(DoubleType))
        val st = stored.getOrElse(IvState(0L, Seq.empty))
        val grid = DisjointSweep.fold(st.segs.map(g => DisjointSweep.Seg(g.s, g.e,
          g.wins.map(_.map(w => DisjointSweep.Win(w.ws, w.we, w.v)).orNull)
            .toArray)).toIndexedSeq, rows.map(iv => DisjointSweep.Interval(iv.sUs,
          iv.eUs, iv.values.map(_.getOrElse(null)).toArray[Any])), ords)
        val rev = st.rev + 1
        (Some(IvState(rev, grid.map(g => IvSeg(g.s, g.e, g.wins.toSeq.map(w =>
          Option(w).map(x => IvWin(x.ws, x.we, x.v.asInstanceOf[Double]))))))),
          DisjointSweep.coalesce(grid, ords).iterator.map { case (s, e, vs) =>
            (key, rev, s, e, vs.toSeq.map(v => Option(v).map(_.asInstanceOf[Double])))
          })
    }.toDF("series", "rev", "sUs", "eUs", "values")
    out.select(typedSeriesCols(df.schema, seriesCols) ++ Seq(col("rev"),
      col("sUs").alias("start_us"), col("eUs").alias("end_us")) ++
      metricCols.zipWithIndex.map { case (m, i) =>
        col("values").getItem(i).alias(m) }: _*)
  }

  /** Single-metric face of [[disjointIntervals]] (the original v1
    * signature), kept for callers and the shared oracle fixture. */
  def disjointIntervals(df: DataFrame, startCol: String, endCol: String,
      seriesCols: Seq[String], metricCol: String): DataFrame =
    disjointIntervals(df, startCol, endCol, seriesCols, Seq(metricCol))

}

package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The one exact order statistic, written once for every operator that
  * selects a quantile: the "lower" quantile q_p (0 < p ≤ 1) of a multiset
  * of n values is the value at rank max(1, ⌈p·n⌉) of the values sorted
  * ascending, counting from 1; the median is p = 0.5. The rank is one IEEE
  * product p·n, then its ceiling. q_p is a SELECTION, a member of the
  * multiset, so it is a pure function of the multiset (ties and input
  * order cannot move it) and replays bit for bit in another engine, with
  * no sketch.
  *
  * The null rule, the same in every form: a null is not a value. It
  * leaves the multiset and n, and a frame or series with no value gives
  * null. NaN is a value; it sorts above every other double (Spark's
  * double order, in `array_sort` and in a window's sort alike).
  *
  * The forms: [[ofFrame]] over an array of values (a trailing or centered
  * window frame, a resample bucket), [[withRanks]] then [[atRank]] over a
  * whole series, [[ofSorted]] over a sorted Scala sequence (a stream
  * step), and [[rank]] alone where the caller finds the row at that rank
  * itself (Theil–Sen's slope filter, the histogram sketch quantiles). */
private[graft] object OrderStat {

  /** max(1, ⌈p·n⌉); `p` a literal or a column. */
  def rank(p: Column, n: Column): Column =
    greatest(lit(1L), ceil(p * n).cast(LongType))

  /** max(1, ⌈p·n⌉) on the driver: the same IEEE product and ceiling. */
  def rank(p: Double, n: Long): Long = math.max(1L, math.ceil(p * n).toLong)

  /** q_p of the array `values` (e.g. `collect_list` over a frame, which
    * drops nulls); an empty array gives null. */
  def ofFrame(values: Column, p: Double): Column = {
    val sorted = array_sort(values)
    try_element_at(sorted, rank(lit(p), size(sorted)).cast(IntegerType))
  }

  /** q_p of an ascending sequence of values; None when it is empty. */
  def ofSorted(sorted: IndexedSeq[Double], p: Double): Option[Double] =
    Option.when(sorted.nonEmpty)(sorted((rank(p, sorted.size) - 1).toInt))

  /** The whole-series form, first step: adds `rn`, the row's rank by
    * `value` within its series (ascending, nulls last), and `n`, the
    * series' count of values. Both windows partition by `series` only, so
    * they share one exchange with any other window on the series. */
  def withRanks(df: DataFrame, series: Seq[Column], value: Column,
      rn: String = "__rn", n: String = "__n"): DataFrame = {
    val all = Window.partitionBy(series: _*)
    df.withColumn(rn, row_number().over(all.orderBy(value.asc_nulls_last)))
      .withColumn(n, count(value).over(all))
  }

  /** The whole-series form, second step: q_p of `value` over the columns
    * [[withRanks]] added, as an aggregate (a `groupBy` of the series, or
    * `.over` the series' partition). A null ranks after every value, so
    * it is never at rank(p, n); with n = 0 rank 1 holds a null. */
  def atRank(value: Column, p: Double, rn: String = "__rn",
      n: String = "__n"): Column =
    max(when(col(rn) === rank(lit(p), col(n)), value))
}

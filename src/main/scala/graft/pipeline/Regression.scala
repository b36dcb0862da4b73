package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.OrderStat

/** Grouped multivariate least squares — the ml-lite "fit a plane per
  * group" pass (per-entity trend + seasonality coefficients, pricing
  * curves, per-source quality drift) without any ML-library dependency
  * or driver-side loop: ONE map-side-combinable aggregate of exact
  * integer moment sums per group, then the 3×3 normal equations solved
  * in closed form by Cramer's rule as a fixed-order Column expression.
  *
  * Determinism: inputs are integer-valued (the cents contract), so all
  * nine moment sums are exact BIGINTs — order-free; the determinants
  * and the three β divisions are a FIXED composition of IEEE ops on
  * those exact integers, hence bit-identical in any engine. A singular
  * system (a group whose feature matrix has no full rank — e.g. a
  * constant feature) yields null βs, never NaN.
  *
  * Scale: per-group state is 10 numbers regardless of group size; the
  * aggregate partial-combines in every input task (no window, no
  * per-group sort), and the solve is a projection. */
object Regression {

  /** OLS of `y` on (1, x1, x2) per group: exact moment sums + Cramer
    * βs. Output: groupCols ++ (n, sx1, sx2, sy, sx11, sx12, sx22,
    * sx1y, sx2y, beta0, beta1, beta2). */
  def groupOls2(df: DataFrame, groupCols: Seq[String], x1: Column,
      x2: Column, y: Column): DataFrame = {
    val base = df.select(
      groupCols.map(col) ++ Seq(x1.alias("__x1"), x2.alias("__x2"),
        y.alias("__y")): _*)
      .filter(col("__x1").isNotNull && col("__x2").isNotNull &&
        col("__y").isNotNull)
    val m = base.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).alias("n"),
      sum(col("__x1")).alias("sx1"),
      sum(col("__x2")).alias("sx2"),
      sum(col("__y")).alias("sy"),
      sum(col("__x1") * col("__x1")).alias("sx11"),
      sum(col("__x1") * col("__x2")).alias("sx12"),
      sum(col("__x2") * col("__x2")).alias("sx22"),
      sum(col("__x1") * col("__y")).alias("sx1y"),
      sum(col("__x2") * col("__y")).alias("sx2y"))
    olsFromMoments(m)
  }

  /** The Cramer solve over an already-aggregated moments table
    * (n, sx1, sx2, sy, sx11, sx12, sx22, sx1y, sx2y — the shape a
    * folded streaming [[graft.streaming.StreamingTSDF.olsMomentDeltas]]
    * sink arrives in): appends beta0/1/2. Moments are additive, so the
    * stream fold and the batch aggregate land on identical integers and
    * the pinned-order determinants match bit-for-bit. */
  def olsFromMoments(m: DataFrame): DataFrame = {
    def d(c: Column) = c.cast(DoubleType)
    // det of [[a b c][p q r][u v w]] in one pinned evaluation order
    def det3(a: Column, b: Column, c: Column, p: Column, q: Column,
        r: Column, u: Column, v: Column, w: Column): Column =
      a * (q * w - r * v) - b * (p * w - r * u) + c * (p * v - q * u)
    val (n, s1, s2, sy) = (d(col("n")), d(col("sx1")), d(col("sx2")),
      d(col("sy")))
    val (s11, s12, s22) = (d(col("sx11")), d(col("sx12")), d(col("sx22")))
    val (s1y, s2y) = (d(col("sx1y")), d(col("sx2y")))
    val detA = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
    val det0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
    val det1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22)
    val det2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y)
    m.withColumn("beta0", when(detA =!= 0.0, det0 / detA))
      .withColumn("beta1", when(detA =!= 0.0, det1 / detA))
      .withColumn("beta2", when(detA =!= 0.0, det2 / detA))
  }

  /** Theil–Sen robust slope per group — the outlier-immune trend next to
    * [[groupOls2]]'s least squares and Hampel's despike: the (LOWER)
    * median of all pairwise slopes (y_j − y_i)/(x_j − x_i) over x_i < x_j.
    * Up to ~29% contamination moves it not at all, where one wild point
    * drags an OLS slope arbitrarily.
    *
    * Determinism: x and y are exact integers (micros / cents contract),
    * each slope is ONE correctly-rounded IEEE division, and the estimator
    * is an exact SELECTION — the [[graft.functions.OrderStat]] median of
    * the m slopes, ranked under the total order (slope, tie_i, tie_j) — so
    * equal slopes cannot make the answer engine-dependent. A point with a
    * null x or y is no point. Equal-x pairs are excluded (slope
    * undefined), the standard convention.
    *
    * Scale: O(n²) pairs per group BY CONSTRUCTION — run it on bounded
    * anchor groups or pre-aggregated series (hourly rollups), the
    * q_dtw/q_jaro bounded-pair-source convention; the join and the one
    * rank window shuffle on the group key. Output:
    * groupCols ++ (n_pairs, slope). */
  def theilSen(df: DataFrame, groupCols: Seq[String], xCol: Column,
      yCol: Column, tieCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val base = df.select(groupCols.map(col) ++ Seq(
      xCol.alias("__x"), yCol.alias("__y"), tieCol.alias("__i")): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val a = base.select(groupCols.map(col) ++ Seq(col("__x").alias("__xa"),
      col("__y").alias("__ya"), col("__i").alias("__ia")): _*)
    val b = base.select(groupCols.map(col) ++ Seq(col("__x").alias("__xb"),
      col("__y").alias("__yb"), col("__i").alias("__ib")): _*)
    val pairs = a.join(b, groupCols)
      .filter(col("__xa") < col("__xb"))
      .withColumn("__s", (col("__yb") - col("__ya")).cast(DoubleType) /
        (col("__xb") - col("__xa")).cast(DoubleType))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("__s").asc, col("__ia").asc, col("__ib").asc)
    pairs
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__m", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col): _*)))
      .filter(col("__rn") === OrderStat.rank(lit(0.5), col("__m")))
      .select(groupCols.map(col) ++ Seq(col("__m").alias("n_pairs"),
        col("__s").alias("slope")): _*)
  }

  /** Mann–Kendall trend test per group — Theil–Sen's classical companion
    * ("IS there a monotone trend" next to "how steep is it"): S =
    * Σ_{x_i<x_j} sign(y_j − y_i), variance with the standard y-tie
    * correction Var = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18, and the
    * continuity-corrected z = (S∓1)/√Var (0 when S = 0).
    *
    * Determinism: S, n, and the variance NUMERATOR are exact BIGINTs;
    * var = num/18 and the z assembly are a fixed composition of
    * correctly-rounded IEEE ops — engine-exact. The classic formula
    * assumes distinct x, so the input dedupes per (group, x) first
    * (lowest tie wins — deterministic), documented in place of an x-tie
    * variance correction.
    *
    * Scale: same O(n²)-pairs-per-group contract as [[theilSen]] — bounded
    * anchors or pre-aggregated series. Output: groupCols ++
    * (n, s_stat, var_num, z). */
  def mannKendall(df: DataFrame, groupCols: Seq[String], xCol: Column,
      yCol: Column, tieCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val base0 = df.select(groupCols.map(col) ++ Seq(
      xCol.alias("__x"), yCol.alias("__y"), tieCol.alias("__i")): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    // distinct x per group: keep the lowest-tie row (exact argmin struct)
    val base = base0.groupBy(groupCols.map(col) :+ col("__x"): _*)
      .agg(min(struct(col("__i"), col("__y"))).alias("__w"))
      .select(groupCols.map(col) ++ Seq(col("__x"),
        col("__w.__y").alias("__y")): _*)
    val a = base.select(groupCols.map(col) ++ Seq(col("__x").alias("__xa"),
      col("__y").alias("__ya")): _*)
    val b = base.select(groupCols.map(col) ++ Seq(col("__x").alias("__xb"),
      col("__y").alias("__yb")): _*)
    val sStat = a.join(b, groupCols)
      .filter(col("__xa") < col("__xb"))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(signum(col("__yb") - col("__ya")).cast("long")).alias("s_stat"))
    val nTab = base.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).alias("n"))
    val ties = base.groupBy(groupCols.map(col) :+ col("__y"): _*)
      .agg(count(lit(1)).alias("__t"))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("__t") * (col("__t") - 1L) * (lit(2L) * col("__t") + 5L))
        .alias("__tc"))
    val joined = nTab.join(sStat, groupCols).join(ties, groupCols)
      .withColumn("var_num",
        col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L) - col("__tc"))
    val v = col("var_num").cast(DoubleType) / lit(18.0)
    joined.withColumn("z",
      when(col("s_stat") > 0L, (col("s_stat") - 1L).cast(DoubleType) / sqrt(v))
        .when(col("s_stat") < 0L,
          (col("s_stat") + 1L).cast(DoubleType) / sqrt(v))
        .otherwise(lit(0.0)))
      .select(groupCols.map(col) ++ Seq(col("n"), col("s_stat"),
        col("var_num"), col("z")): _*)
  }

  /** Split-conformal prediction intervals per group (Vovk et al. 2005;
    * the split/inductive form of Lei et al. 2018) — distribution-free
    * coverage for a per-entity forecast, the calibration artifact a
    * model-evaluation pipeline ships next to its point predictions:
    * chronological 60/20/20 train/calibration/test split per group,
    * point predictor = train mean, interval half-width = the conformal
    * quantile of calibration residuals at miscoverage α, and the
    * held-out tail measures empirical coverage (guaranteed ≥ 1−α in
    * expectation under exchangeability).
    *
    * Exact integers end to end: the train mean is kept as the RATIONAL
    * (sum_y, n_train) — never divided — so residuals are the scaled
    * integers |y·n_train − sum_y|, the conformal quantile is the
    * k = ⌈(n_cal+1)(1−α)⌉-th smallest calibration residual by exact
    * per-group rank (k > n_cal ⇒ the interval is infinite ⇒ every test
    * point covered, the standard small-sample convention, q_scaled
    * null), and coverage is one terminal division. α arrives in
    * milli-units (alphaMilli = 100 ⇒ 90% target coverage); `y` must be
    * integer-valued (the cents contract).
    *
    * Scale shape: two per-GROUP-partitioned windows (arrival rank,
    * residual rank — never global), one map-side-combinable train
    * aggregate, group-key equi-joins throughout; groups too small to
    * split (any split slice empty) are dropped, documented. Output:
    * groupCols ++ (n, n_train, n_cal, n_test, q_scaled, n_covered,
    * coverage). */
  def conformalSplit(df: DataFrame, groupCols: Seq[String], y: Column,
      orderCols: Seq[Column], alphaMilli: Long = 100L): DataFrame = {
    val marked = conformalMarked(df, groupCols, y, orderCols)
    val model = conformalModelFromMarked(marked, groupCols, alphaMilli)
    conformalFinish(conformalScore(model,
      marked.filter(col("__role") === "test"), groupCols,
      col("__y")), model, groupCols)
  }

  /** The per-group rows of the chronological split, with roles. Shared
    * plumbing for [[conformalModel]] / [[conformalTestRows]]. */
  private def conformalMarked(df: DataFrame, groupCols: Seq[String],
      y: Column, orderCols: Seq[Column]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val oAliases = orderCols.indices.map(i => col(s"__o$i"))
    val wArr = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(oAliases: _*)
    val wGrp = org.apache.spark.sql.expressions.Window.partitionBy(g: _*)
    val ranked = df
      .select(groupCols.map(col) ++ Seq(y.cast("long").alias("__y")) ++
        orderCols.zipWithIndex.map { case (c, i) => c.alias(s"__o$i") }: _*)
      .withColumn("__rn", row_number().over(wArr).cast("long"))
      .withColumn("__n", count(lit(1)).over(wGrp))
    val nTrain = call_function("div", col("__n") * 3L, lit(5L))
    val nCal8 = call_function("div", col("__n") * 4L, lit(5L))
    ranked
      .withColumn("__role", when(col("__rn") <= nTrain, lit("train"))
        .when(col("__rn") <= nCal8, lit("cal")).otherwise(lit("test")))
      .filter(nTrain >= 1L && nCal8 > nTrain && col("__n") > nCal8)
  }

  /** The frozen per-group conformal MODEL — the batch-trained artifact
    * an ingest gate joins against (the lm-KN frozen-model convention):
    * one row per group that splits cleanly, carrying the train rational
    * (__sy, n_train), the calibration size, and the conformal quantile
    * q_scaled (null = infinite interval). */
  def conformalModel(df: DataFrame, groupCols: Seq[String], y: Column,
      orderCols: Seq[Column], alphaMilli: Long = 100L): DataFrame =
    conformalModelFromMarked(conformalMarked(df, groupCols, y, orderCols),
      groupCols, alphaMilli)

  private def conformalModelFromMarked(marked: DataFrame,
      groupCols: Seq[String], alphaMilli: Long): DataFrame = {
    require(alphaMilli > 0 && alphaMilli < 1000, "alphaMilli in (0,1000)")
    val g = groupCols.map(col)
    val wGrp = org.apache.spark.sql.expressions.Window.partitionBy(g: _*)
    val trainAgg = marked.filter(col("__role") === "train")
      .groupBy(g: _*)
      .agg(sum(col("__y")).alias("__sy"),
        count(lit(1)).alias("n_train"))
    val calR = marked.filter(col("__role") === "cal")
      .join(trainAgg, groupCols)
      .withColumn("__r",
        abs(col("__y") * col("n_train") - col("__sy")))
      .withColumn("__ncal", count(lit(1)).over(wGrp))
    // k = ceil((n_cal+1)(1000-alpha)/1000); rank ties broken by arrival
    // index — the k-th smallest VALUE is rank-order independent anyway
    val k = call_function("div",
      (col("__ncal") + 1L) * (1000L - alphaMilli) + 999L, lit(1000L))
    val wRes = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("__r").asc, col("__rn").asc)
    val qRow = calR
      .withColumn("__rr", row_number().over(wRes).cast("long"))
      .filter(col("__rr") === k)
      .select(groupCols.map(col) :+ col("__r").alias("q_scaled"): _*)
    val calStats = calR.groupBy(g: _*)
      .agg(count(lit(1)).alias("n_cal"))
    trainAgg.join(calStats, groupCols).join(qRow, groupCols, "left")
  }

  /** The held-out tail of the split, with __y attached — the rows an
    * ingest stream replays. Output is the split projection only:
    * groupCols ++ (__y, __o0.., __rn, __n, __role) — source columns
    * outside the keys are NOT carried through. */
  def conformalTestRows(df: DataFrame, groupCols: Seq[String], y: Column,
      orderCols: Seq[Column]): DataFrame =
    conformalMarked(df, groupCols, y, orderCols)
      .filter(col("__role") === "test")

  /** Stateless per-row conformal verdicts under a frozen [[
    * conformalModel]]: pure stream-static equi-joins on the group key —
    * runs unchanged on a streaming frame (the lmKneserNeyContribs
    * contract). Rows of groups absent from the model drop (no split, no
    * interval). Output: groupCols + __covered (0/1). */
  def conformalScore(model: DataFrame, rows: DataFrame,
      groupCols: Seq[String], y: Column): DataFrame =
    rows.select(groupCols.map(col) :+ y.cast("long").alias("__yy"): _*)
      .join(model, groupCols)
      .select(groupCols.map(col) :+
        when(col("q_scaled").isNull ||
          abs(col("__yy") * col("n_train") - col("__sy")) <=
            col("q_scaled"), 1L).otherwise(0L).alias("__covered"): _*)

  /** The per-group fold over [[conformalScore]] verdicts (or their
    * streaming sink), joined back to the model for the full
    * [[conformalSplit]] output shape. */
  def conformalFinish(scored: DataFrame, model: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    scored.groupBy(g: _*)
      .agg(count(lit(1)).alias("n_test"),
        sum(col("__covered")).alias("n_covered"))
      .join(model, groupCols)
      .select(groupCols.map(col) ++ Seq(
        (col("n_train") + col("n_cal") + col("n_test")).alias("n"),
        col("n_train"), col("n_cal"), col("n_test"), col("q_scaled"),
        col("n_covered"),
        (col("n_covered").cast(DoubleType) /
          col("n_test").cast(DoubleType)).alias("coverage")): _*)
  }
}

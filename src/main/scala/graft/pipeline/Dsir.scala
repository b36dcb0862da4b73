package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Hashed n-gram importance weighting for domain-targeted data selection —
  * the DSIR recipe (Xie et al. 2023, "Data Selection for Language Models
  * via Importance Resampling"): score every raw-corpus document by how much
  * more likely its hashed unigram+bigram profile is under a small TARGET
  * corpus (the domain you want more of) than under the raw corpus itself,
  * then keep the top slice / sample proportionally.
  *
  * 100 TB design:
  *  - Model state is bounded by the BUCKET count, not the vocabulary:
  *    grams hash into `buckets` cells, so each corpus profile is ≤ buckets
  *    rows after one map-side-combinable count aggregate — broadcast-sized
  *    by construction, joined into the scoring pass without a hint (AQE).
  *  - Scoring is one explode over the raw corpus; partial aggregation
  *    collapses (partition, doc) before the shuffle, so shuffle volume is
  *    O(#docs), not O(#grams).
  *  - Determinism: the paper's log-likelihood-ratio sum is replaced by
  *    fixed-point likelihood RATIOS — per-bucket probabilities in exact
  *    micro-units (floor division via (x − x mod d)/d, exact in both
  *    engines), per-gram ratio in milli-units, per-doc sums exact BIGINT
  *    adds, one final IEEE division. A transcendental log would not replay
  *    bit-identically across engines (the [[LangModel]] trade); the
  *    arithmetic-mean-of-ratios keeps the same "target-like grams score
  *    high" ordering signal and is exactly reproducible anywhere.
  *    Magnitude bound (caller-owned, the [[Profile.pairwiseCorrelation]]
  *    discipline): scale·(maxBucketCnt+1) must stay below 2^53, which the
  *    default scale=1e6 holds to ~9e9 grams per bucket (≈ 10^13 corpus
  *    grams at 8k buckets).
  */
object Dsir {

  /** Exact floor(x / d) for non-negative integer columns: the numerator is
    * made an exact multiple of d, so the one double division is exact. */
  private def floorDivExact(x: Column, d: Column): Column =
    ((x - pmod(x, d)) / d).cast(LongType)

  /** Word unigrams ++ bigrams WITH multiplicity (DSIR counts occurrences,
    * unlike [[Dedup.shingles]]' distinct sets). The token array is bound
    * once as a lambda variable — the Dedup.shingles CSE lesson. */
  private[graft] def grams(textCol: Column): Column = {
    val toks = split(Dedup.normalizeText(textCol), " ")
    flatten(transform(array(toks), ts =>
      concat(ts,
        when(size(ts) >= 2,
          transform(sequence(lit(1), size(ts) - 1),
            i => concat_ws(" ", slice(ts, i, lit(2)))))
          .otherwise(array().cast(ArrayType(StringType))))))
  }

  private def bucketOf(g: Column, buckets: Int, seed: Int): Column =
    pmod(Hashing.mix(Hashing.polyHash(g), seed), lit(buckets.toLong))

  /** The fused bucket pass: `transform(grams(text), g => bucketOf(g))`
    * as ONE codegen'd kernel over the normalized text
    * ([[graft.functions.TextKernels.hashedGramBuckets]]) — no per-gram
    * string materialization, no interpreted per-gram hash lambda.
    * Bit-identical values (TextKernelsSpec differential + shared
    * oracles). */
  private def gramBuckets(textCol: Column, buckets: Int, seed: Int): Column =
    org.apache.spark.sql.GraftColumns.column(
      graft.functions.HashedGramBuckets(
        org.apache.spark.sql.GraftColumns.expression(
          Dedup.normalizeText(textCol)), buckets, seed))

  /** Hashed gram profile of a corpus: (b, cnt), ≤ `buckets` rows. One
    * corpus scan, map-side combined. */
  def hashedGramCounts(df: DataFrame, textCol: Column, buckets: Int,
      seed: Int = 23): DataFrame =
    df.select(explode(gramBuckets(textCol, buckets, seed)).alias("b"))
      .groupBy(col("b")).agg(count(lit(1)).alias("cnt"))

  /** Per-bucket likelihood-ratio table from target + raw profiles:
    * ratio_milli(b) = floor(1000 · pT_u(b) / max(pR_u(b), 1)) with
    * pX_u(b) = floor(scale · (cntX(b)+1) / (totalX + buckets)) — add-one
    * smoothing over the bucket space, all divisions exact floor. The
    * windows run over ≤ `buckets` rows (never over data).
    * `rawCounts` is a precomputed (b, cnt) profile — [[importanceWeights]]
    * derives it from the scoring pass's own aggregate so the raw corpus
    * is scanned once, not twice. */
  def ratioTable(target: DataFrame, rawCounts: DataFrame, textCol: Column,
      buckets: Int, seed: Int = 23, scale: Long = 1000000L): DataFrame = {
    val t = hashedGramCounts(target, textCol, buckets, seed)
      .withColumnRenamed("cnt", "__ct")
    val r = rawCounts.withColumnRenamed("cnt", "__cr")
    val all = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val j = t.join(r, Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("__ct"), lit(0L)).alias("__ct"),
        coalesce(col("__cr"), lit(0L)).alias("__cr"))
      .withColumn("__tt", sum(col("__ct")).over(all))
      .withColumn("__tr", sum(col("__cr")).over(all))
    val pT = floorDivExact(lit(scale) * (col("__ct") + 1L),
      col("__tt") + lit(buckets.toLong))
    val pR = floorDivExact(lit(scale) * (col("__cr") + 1L),
      col("__tr") + lit(buckets.toLong))
    j.select(col("b"),
      floorDivExact(lit(1000L) * pT, greatest(pR, lit(1L)))
        .alias("ratio_milli"))
  }

  /** Importance weight per raw-corpus document against a target corpus.
    * Output: (idCol, n_grams, sum_ratio_milli, dsir_weight) — the weight
    * is the mean per-gram likelihood ratio in milli-units (1000 ≈ "looks
    * equally target-like and raw-like"; higher = more target-like), one
    * IEEE division of exact integers. Grams absent from BOTH profiles
    * still hit a bucket (hashing is total), so every gram scores.
    *
    * Plan shape: the raw corpus is exploded ONCE into a (doc, bucket)
    * count aggregate; the raw profile is a re-aggregation of that SAME
    * exchange (runtime exchange reuse — the exactSubstringDedup idiom,
    * plan-asserted), the ratio table broadcasts back, and the per-doc
    * score weights each bucket's ratio by the doc's bucket count. One
    * corpus scan total on the raw side instead of two. */
  /** The ratio table as a driver-side map — bounded by `buckets` rows
    * (the ANN-codebook bounded-literal discipline), for [[scoreColumn]]'s
    * join-free serving path. */
  def collectRatios(target: DataFrame, rawCounts: DataFrame, textCol: Column,
      buckets: Int, seed: Int = 23, scale: Long = 1000000L): Map[Long, Long] =
    ratioTable(target, rawCounts, textCol, buckets, seed, scale)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** JOIN-FREE importance score of a single text column against a trained
    * ratio map: per-gram lookups in a `buckets`-bounded MAP LITERAL, summed
    * with higher-order aggregates — pure stateless Column algebra, so the
    * same expression scores a STREAMING frame (the "gate documents as they
    * arrive" serving path; batch [[importanceWeights]] and this literal
    * path are output-identical by construction, pinned by the shared
    * oracle). Output struct: (n_grams, sum_ratio_milli, dsir_weight).
    * Buckets absent from the map (possible only for text OUTSIDE the raw
    * corpus the table was trained on) contribute 0 — unseen vocabulary is
    * not evidence of target-likeness; scoring the training corpus itself
    * never hits that arm, which is what keeps this path output-identical
    * to the join. */
  def scoreColumn(textCol: Column, ratios: Map[Long, Long], buckets: Int,
      seed: Int = 23): Column = {
    require(ratios.nonEmpty, "empty ratio map")
    // Dense array literal indexed by bucket, not a map literal: Spark's
    // GetMapValue on a literal map is a LINEAR key scan per lookup
    // (O(buckets) comparisons per gram — measured as the q_stream_dsir
    // hot path at buckets=4096), while GetArrayItem is O(1). bucketOf is
    // a pmod into [0, buckets), so the dense table is total; absent
    // buckets hold 0L, exactly the old coalesce(…, 0L) arm.
    val arrLit = typedLit((0L until buckets.toLong)
      .map(b => ratios.getOrElse(b, 0L)))
    val rs = transform(gramBuckets(textCol, buckets, seed),
      b => element_at(arrLit, (b + 1L).cast(IntegerType)))
    val n = size(rs).cast(LongType)
    val s = aggregate(rs, lit(0L), (acc, x) => acc + x)
    struct(n.alias("n_grams"), s.alias("sum_ratio_milli"),
      (s.cast(DoubleType) / n.cast(DoubleType)).alias("dsir_weight"))
  }

  def importanceWeights(raw: DataFrame, target: DataFrame, textCol: String,
      idCol: String, buckets: Int = 8192, seed: Int = 23,
      scale: Long = 1000000L): DataFrame = {
    val tfb = raw
      .select(col(idCol),
        explode(gramBuckets(col(textCol), buckets, seed)).alias("b"))
      // the inner join below null-filters b on the scoring branch; doing
      // it HERE keeps the two consumers' subtrees identical so they share
      // one exchange (ReuseExchange needs bit-equal subplans)
      .filter(col("b").isNotNull)
      .groupBy(col(idCol), col("b")).agg(count(lit(1)).alias("__c"))
    val rawCounts = tfb.groupBy(col("b")).agg(sum(col("__c")).alias("cnt"))
    val ratios = ratioTable(target, rawCounts, col(textCol), buckets, seed,
      scale)
    tfb.join(ratios, Seq("b"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).alias("n_grams"),
        sum(col("ratio_milli") * col("__c")).alias("sum_ratio_milli"))
      .withColumn("dsir_weight",
        col("sum_ratio_milli").cast(DoubleType) / col("n_grams").cast(DoubleType))
  }
}

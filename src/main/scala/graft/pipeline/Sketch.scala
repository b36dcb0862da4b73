package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.OrderStat

/** Deterministic cardinality sketches.
  *
  * KMV (k-minimum-values): keep the k smallest distinct hash values of a
  * set; with a hash uniform on [0, P), the k-th smallest value h_(k)
  * estimates the distinct count as (k−1)·P / h_(k). Groups with fewer than
  * k distinct hashes report their EXACT count (the sketch degrades to
  * nothing — no estimate error on small groups). Everything runs on
  * [[Hashing]]'s engine-agnostic polynomial hash, so the sketch — including
  * the estimate's single double division — replays bit-identically in any
  * engine; unlike HyperLogLog there is no register rounding, no bias
  * correction table, and the k-th-minimum is a pure function of the value
  * set.
  *
  * Plan shape: ONE aggregate — the bounded mergeable
  * [[graft.functions.KMinDistinctAgg]] k-min buffer (a ≤ k-entry dedup
  * heap, ~2 KiB at k = 256) partial-combines in every input partition, so
  * only ≤ k longs per group cross the exchange and no per-group sort task
  * exists anywhere (the `row_number` window this replaced put a hot
  * group's ENTIRE distinct-hash set into one task — at 10⁹ distinct items
  * the window task was the whole job; measured, the window form was ≥4×
  * slower than the aggregate on a single 10M-copy hot key, a gap unbounded
  * in group cardinality). No up-front `distinct()` either: the buffer
  * dedups, so the raw token stream feeds the aggregate directly.
  * Hash-space choice: the default 30-bit family caps resolvable
  * cardinality near P ≈ 10⁹ per group. Every sketch constructor takes
  * `wide = true` to switch to the [[Hashing.PW]] ≈ 10¹⁸ CRT-pair family
  * (same base-131 fold under two primes — still exact 64-bit integer
  * arithmetic, still DuckDB-replayable), which resolves cardinalities
  * through ~10¹⁴. Use narrow for small/medium groups and the long-standing
  * oracle fixtures; use wide whenever a group's distinct count can
  * approach 10⁹ (WAU at 100 TB, corpus-wide vocabularies). The ceiling
  * and the crossover are measured in PipelineUnitSpec's
  * "wide-hash KMV resolves cardinalities past the 30-bit ceiling" test.
  *
  * Reference scope note: tempo has no sketches; this serves the pipeline
  * side (e.g. distinct-token profiling per source over a 100 TB corpus,
  * where exact count-distinct is a full re-shuffle of every token). */
object Sketch {

  /** Per-group KMV distinct-count estimate of `itemCol` values.
    * Output: group cols + (n_kept ≤ k, kth_hash, distinct_est). Groups
    * whose items are all null are OMITTED (null items carry no distinct
    * hash, so the group has an empty k-min set) — by construction the
    * same row set as the SQL replay's rank-over-DISTINCT-hashes form,
    * which yields no row for such a group. */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], itemCol: Column,
      k: Int, seed: Int = 17, wide: Boolean = false): DataFrame =
    if (wide)
      kmvFromHashes(df, groupCols,
        Hashing.mixWide(Hashing.wideHash(itemCol), seed), k,
        space = Hashing.PW)
    else
      kmvFromHashes(df, groupCols,
        Hashing.mix(Hashing.polyHash(itemCol), seed), k)

  /** KMV readout over pre-hashed values: per group, the k-min aggregate
    * + estimate of [[kmvDistinct]]. Exposed separately so any stream or
    * shard that carries the engine-agnostic hashes (e.g. the
    * [[graft.streaming.StreamingTSDF.kmvMins]] changelog sink, whose
    * rows are a superset of the final k-min set) can be folded to the
    * identical batch answer. */
  def kmvFromHashes(df: DataFrame, groupCols: Seq[String], hashCol: Column,
      k: Int, space: Long = Hashing.P): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val gc = groupCols.map(col)
    val kmin = org.apache.spark.sql.GraftColumns.column(
      graft.functions.KMinDistinctAgg(
        org.apache.spark.sql.GraftColumns.expression(hashCol), k))
    val nKept = size(col("__ks")).cast(LongType)
    val kth = element_at(col("__ks"), -1)
    df.groupBy(gc: _*).agg(kmin.alias("__ks"))
      // an all-null-item group has an empty k-min set; the SQL replay
      // (rank over DISTINCT hashes) yields no row for it, so drop it here
      // too — the convention and the oracle then agree by construction
      // (and element_at below never sees an out-of-range index under ANSI)
      .filter(size(col("__ks")) > 0)
      // kth_hash = 0 in the estimate branch is unreachable with k >= 2
      // distinct non-negative hashes (their max is >= k-1 >= 1), but the
      // greatest() guard makes division-by-zero impossible by
      // construction rather than by argument; the oracle replay carries
      // the identical guard
      .select(gc ++ Seq(nKept.alias("n_kept"), kth.alias("kth_hash"),
        when(nKept < k, nKept.cast(DoubleType))
          .otherwise(lit((k - 1).toDouble * space) /
            greatest(kth, lit(1L)))
          .alias("distinct_est")): _*)
  }

  /** Cross-group set-overlap estimates from KMV k-min sets: per ordered
    * group pair, Jaccard / union / intersection distinct-count estimates —
    * the classic KMV set-operation estimator (Beyer et al., SIGMOD 2007):
    * with X = kmin_k(A ∪ B) — computable from the two groups' own k-min
    * sets, since every member of the union's k-min is in its side's
    * k-min — J_est = |X ∩ kminA ∩ kminB| / |X| (the membership test
    * against the per-side k-min sets is EXACT for members of X, by the
    * same containment argument), union_est reads X's k-th minimum through
    * the usual KMV formula (exact count when |X| < k), and
    * inter_est = J_est · union_est.
    *
    * Scale shape: ONE bounded mergeable aggregate over the corpus (≤ k
    * hashes per group — the [[graft.functions.KMinDistinctAgg]] buffer),
    * then pure array algebra over group pairs (#groups² pairs of
    * ≤ k arrays; groups are sources/languages/shards — bounded by the
    * caller's domain, never by the corpus). This answers "how much do two
    * sources' vocabularies overlap" at 100 TB without any pairwise token
    * join. Every output is a pure function of the two value sets, so the
    * whole report replays bit-identically in a SQL oracle.
    * Output: (group_a, group_b, n_union_kept, n_inter, jaccard_est,
    * union_est, inter_est). */
  def kmvJaccardPairs(df: DataFrame, groupCol: Column, itemCol: Column,
      k: Int, seed: Int = 17): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val h = Hashing.mix(Hashing.polyHash(itemCol), seed)
    val kmin = org.apache.spark.sql.GraftColumns.column(
      graft.functions.KMinDistinctAgg(
        org.apache.spark.sql.GraftColumns.expression(h), k))
    val sets = df.groupBy(groupCol.alias("__g")).agg(kmin.alias("__ks"))
    val a = sets.select(col("__g").alias("group_a"), col("__ks").alias("__ka"))
    val b = sets.select(col("__g").alias("group_b"), col("__ks").alias("__kb"))
    val union = slice(array_sort(array_union(col("__ka"), col("__kb"))), 1, k)
    val inter = filter(col("__ku"), x =>
      array_contains(col("__ka"), x) && array_contains(col("__kb"), x))
    val nU = size(col("__ku")).cast(LongType)
    val nI = size(col("__ki")).cast(LongType)
    val unionEst = when(nU < k, nU.cast(DoubleType))
      .otherwise(lit((k - 1).toDouble * Hashing.P) /
        greatest(element_at(col("__ku"), -1), lit(1L))) // see [[kmvDistinct]]
    val jac = when(nU > 0,
      nI.cast(DoubleType) / nU.cast(DoubleType)) // ints ≤ k: one exact division
    a.crossJoin(b).filter(col("group_a") < col("group_b"))
      .withColumn("__ku", union)
      .withColumn("__ki", inter)
      .select(col("group_a"), col("group_b"),
        nU.alias("n_union_kept"), nI.alias("n_inter"),
        jac.alias("jaccard_est"),
        unionEst.alias("union_est"),
        (jac * unionEst).alias("inter_est"))
  }

  /** One (row, bucket) pair per depth row for `itemCol` — the shared
    * addressing of [[cmsBuild]] and [[cmsEstimate]] (the two MUST agree or
    * probes read the wrong counters). */
  private[graft] def cmsAddresses(itemCol: Column, width: Int, depth: Int,
      seed: Int, wide: Boolean): Column = {
    val h = if (wide) Hashing.wideHash(itemCol) else Hashing.polyHash(itemCol)
    def remix(c: Column, s: Int): Column =
      if (wide) Hashing.mixWide(c, s) else Hashing.mix(c, s)
    array((0 until depth).map { r =>
      struct(lit(r.toLong).alias("row"),
        pmod(remix(h, seed + r), lit(width.toLong)).alias("bucket"))
    }: _*)
  }

  /** Count-Min sketch build: a depth × width grid of EXACT counters, stored
    * sparsely as (row, bucket, cnt) — empty counters are absent (they read
    * as 0 at probe time), so the materialized sketch never exceeds
    * depth × width rows regardless of corpus size. Counting is one explode
    * (depth rows per item) + one hash aggregate — map-side combined, and
    * the sketch is mergeable across shards/days by summing cnt per cell.
    * Every address comes from the engine-agnostic [[Hashing]] family, so
    * the whole grid — and any estimate read from it — replays
    * bit-identically in DuckDB.
    *
    * Reference scope note: tempo has no sketches; at 100 TB a CMS answers
    * "how often does this token/URL/fingerprint occur" in O(depth) probed
    * cells instead of a corpus-wide count per question. */
  def cmsBuild(df: DataFrame, itemCol: Column, width: Int, depth: Int,
      seed: Int = 53, wide: Boolean = false): DataFrame = {
    require(width >= 2 && depth >= 1, "need width >= 2, depth >= 1")
    df.select(explode(cmsAddresses(itemCol, width, depth, seed, wide)).alias("__a"))
      .groupBy(col("__a.row").alias("row"), col("__a.bucket").alias("bucket"))
      .agg(count(lit(1)).alias("cnt"))
  }

  /** Probe a [[cmsBuild]] sketch: est(item) = min over rows of the item's
    * counter (absent counter = 0) — the classic CMS upper bound: never
    * under the true count, over it only on collisions. `probes` should be
    * small (a candidate list); the sketch side is ≤ depth × width rows, so
    * AQE broadcasts it and the probe never reshuffles the corpus.
    * Output: item, cms_est. */
  def cmsEstimate(probes: DataFrame, sketch: DataFrame, itemCol: Column,
      width: Int, depth: Int, seed: Int = 53, wide: Boolean = false)
      : DataFrame = {
    require(width >= 2 && depth >= 1, "need width >= 2, depth >= 1")
    probes
      .select(itemCol.alias("item")).distinct()
      .select(col("item"),
        explode(cmsAddresses(col("item"), width, depth, seed, wide)).alias("__a"))
      .join(sketch, col("__a.row") === sketch("row") &&
        col("__a.bucket") === sketch("bucket"), "left")
      .groupBy(col("item"))
      .agg(min(coalesce(col("cnt"), lit(0L))).alias("cms_est"))
  }

  /** Trailing-window KMV distinct estimate: for every observed bucket (an
    * integer time index — day, hour…), estimate the distinct `itemCol`
    * count over the trailing `windowBuckets` buckets from MERGED per-bucket
    * k-min sets. The KMV merge property makes this exact-as-a-sketch: the
    * k smallest hashes of a union are each among the k smallest of their
    * own bucket, so merging per-bucket k-min sets and re-taking the k
    * smallest gives the union's true k-min set — sliding distinct counts
    * without ever re-scanning the window's raw data (the 100 TB WAU/MAU
    * path; the exact day-explode twin re-shuffles every (item, day) pair
    * instead). Buckets with fewer than k distinct merged hashes report
    * exact counts, like [[kmvDistinct]].
    *
    * Plan shape: TWO [[graft.functions.KMinDistinctAgg]] aggregates and
    * nothing else — the full-volume first stage partial-combines per
    * (time bucket) in every input partition (≤ k longs per bucket cross
    * the exchange; no distinct, no window, no per-bucket sort task), then
    * the per-bucket arrays explode × windowBuckets (≤ k·windowBuckets
    * rows per output bucket) and the SAME aggregate re-takes the union's
    * k-min (its dedup buffer makes the union-distinct implicit).
    * Output: (bucket, n_kept, kth_hash, distinct_est). */
  def kmvDistinctTrailing(df: DataFrame, bucketCol: Column, itemCol: Column,
      k: Int, windowBuckets: Int, seed: Int = 17,
      wide: Boolean = false): DataFrame =
    if (wide)
      kmvTrailingFromHashes(df, bucketCol,
        Hashing.mixWide(Hashing.wideHash(itemCol), seed), k, windowBuckets,
        space = Hashing.PW)
    else
      kmvTrailingFromHashes(df, bucketCol,
        Hashing.mix(Hashing.polyHash(itemCol), seed), k, windowBuckets)

  /** Trailing-window KMV readout over pre-hashed values — the
    * [[kmvFromHashes]] twin of [[kmvDistinctTrailing]], so a streaming
    * k-min changelog sink keyed by time bucket
    * ([[graft.streaming.StreamingTSDF.kmvMins]]) folds to the identical
    * sliding estimates. */
  def kmvTrailingFromHashes(df: DataFrame, bucketCol: Column,
      hashCol: Column, k: Int, windowBuckets: Int,
      space: Long = Hashing.P): DataFrame = {
    require(k >= 2 && windowBuckets >= 1, "need k >= 2, windowBuckets >= 1")
    def kmin(c: Column) = org.apache.spark.sql.GraftColumns.column(
      graft.functions.KMinDistinctAgg(
        org.apache.spark.sql.GraftColumns.expression(c), k))
    val perBucket = df
      .select(bucketCol.cast(LongType).alias("__b"), hashCol.alias("__h"))
      .groupBy(col("__b")).agg(kmin(col("__h")).alias("__ks"))
    val span = perBucket.agg(max(col("__b")).alias("__hi"))
    val merged = perBucket
      .withColumn("bucket",
        explode(sequence(col("__b"), col("__b") + (windowBuckets - 1))))
      .crossJoin(broadcast(span))
      .filter(col("bucket") <= col("__hi"))
      .select(col("bucket"), explode(col("__ks")).alias("__h"))
      .groupBy(col("bucket")).agg(kmin(col("__h")).alias("__ks"))
    val nKept = size(col("__ks")).cast(LongType)
    val kth = when(size(col("__ks")) > 0, element_at(col("__ks"), -1))
    merged
      .select(col("bucket"), nKept.alias("n_kept"), kth.alias("kth_hash"),
        when(nKept < k, nKept.cast(DoubleType))
          .otherwise(lit((k - 1).toDouble * space) /
            greatest(kth, lit(1L))) // see [[kmvDistinct]]
          .alias("distinct_est"))
  }

  /** Equal-width histogram sketch: per group, exact counts of `valueCol`
    * in nBins fixed bins over [lo, hi) — out-of-range values clamp into
    * the edge bins (they stay counted; the caller picks bounds wide
    * enough that clamping is the tail, not the body). One map-side-
    * combinable aggregate; sketches merge across shards/days by summing
    * cnt per (group, bin) — the deterministic 100 TB quantile path
    * (t-digest/GK sketches depend on input order and would not replay
    * across engines; a fixed-bin histogram is a pure function of the
    * value multiset). Output: group…, bin, cnt. */
  def histogram(df: DataFrame, groupCols: Seq[String], valueCol: Column,
      lo: Double, hi: Double, nBins: Int): DataFrame = {
    val gc = groupCols.map(col)
    val bin = histBin(valueCol, lo, hi, nBins)
    df.select(gc :+ bin.alias("bin"): _*)
      // null/NaN values bin to null and are excluded — the SAME exclusion
      // the streaming delta builder applies, so batch and stream sketches
      // cannot diverge on dirty values
      .filter(col("bin").isNotNull)
      .groupBy(gc :+ col("bin"): _*)
      .agg(count(lit(1)).alias("cnt"))
  }

  /** Clamped equal-width bin index — the shared binning of [[histogram]]
    * and the streaming delta builder
    * ([[graft.streaming.StreamingTSDF.histogramDeltas]]); the two MUST
    * agree or batch and stream sketches diverge. Null AND NaN values map
    * to a null bin (NaN would otherwise clamp silently into bin 0 through
    * `cast(NaN as long) = 0`); both builders filter null bins out. */
  private[graft] def histBin(valueCol: Column, lo: Double, hi: Double,
      nBins: Int): Column = {
    require(nBins >= 2 && hi > lo, "need nBins >= 2 and hi > lo")
    val w = (hi - lo) / nBins
    val v = valueCol.cast(DoubleType)
    // the null guard must be EXPLICIT: greatest/least skip null operands,
    // so without it a null value silently clamps into bin 0 (isnan(null)
    // is false, not null — it doesn't short-circuit either)
    when(v.isNull || isnan(v), lit(null).cast(LongType))
      .otherwise(least(lit(nBins.toLong - 1), greatest(lit(0L),
        floor((v - lit(lo)) / lit(w)).cast(LongType))))
  }

  /** Merge two [[histogram]] sketches over the same bin layout. */
  def histMerge(a: DataFrame, b: DataFrame, groupCols: Seq[String]): DataFrame = {
    val gc = groupCols.map(col)
    a.unionByName(b)
      .groupBy(gc :+ col("bin"): _*)
      .agg(sum(col("cnt")).alias("cnt"))
  }

  /** Read quantile estimates from a [[histogram]] sketch: for each q, the
    * UPPER edge of the first bin whose cumulative count reaches the
    * [[graft.functions.OrderStat]] rank of q — a deterministic overestimate
    * within one bin width of the true quantile. All rank arithmetic is
    * integer except the rank's q·n product and the final edge expression,
    * each a fixed sequence of IEEE ops on exact inputs
    * (engine-bit-identical).
    * Output per group × q: group…, q, bin, n, q_est. */
  def histQuantiles(hist: DataFrame, groupCols: Seq[String], lo: Double,
      hi: Double, nBins: Int, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must be in (0, 1]")
    val gc = groupCols.map(col)
    val w = (hi - lo) / nBins
    val wCum = Window.partitionBy(gc: _*).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(gc: _*)
    val cum = hist
      .withColumn("__cum", sum(col("cnt")).over(wCum))
      .withColumn("__n", sum(col("cnt")).over(wTot))
    val probe = cum.withColumn("q", explode(array(qs.map(lit): _*)))
      .filter(col("__cum") >= OrderStat.rank(col("q"), col("__n")))
    probe.groupBy(gc :+ col("q"): _*)
      .agg(min(col("bin")).alias("bin"), max(col("__n")).alias("n"))
      .withColumn("q_est", lit(lo) + (col("bin") + 1).cast(DoubleType) * lit(w))
  }

  /** Corpus-wide score calibration: attach each row's percentile rank
    * (milli-units, bin-granular ECDF) computed from the bounded
    * [[histogram]] sketch — the "turn a raw quality score into a corpus
    * percentile before thresholding" step of a selection pipeline, without
    * any global sort: percentile_milli = floor(1000 · cumBelow / total)
    * where cumBelow counts rows in strictly lower bins, so rows sharing a
    * bin share a percentile (granularity = one bin width; widen nBins for
    * finer ranks). One corpus aggregate (map-side combined), prefix sums
    * over ≤ nBins rows, and a join-back on the bin that AQE broadcasts —
    * exact integer arithmetic end to end, engine-replayable. Rows with
    * null/NaN scores get a null percentile (the [[histBin]] exclusion).
    *
    * Magnitude bound (the [[Dsir.floorDivExact]] discipline, stated here
    * too): the floor division runs as `(x − x mod total) / total` with an
    * exact-multiple numerator, an IEEE double division that stays exact
    * while `1000·cumBelow < 2^53` — i.e. up to ~9·10¹² input rows. Beyond
    * that the quotient could truncate to q−1 and diverge from an integer
    * `//` replay; pre-aggregate or shard the corpus before that scale. */
  def withScorePercentile(df: DataFrame, valueCol: Column, lo: Double,
      hi: Double, nBins: Int, outCol: String = "percentile_milli"): DataFrame = {
    val h = histogram(df, Seq.empty, valueCol, lo, hi, nBins)
    val before = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val below = coalesce(sum(col("cnt")).over(before), lit(0L))
    val total = sum(col("cnt")).over(all)
    val x = lit(1000L) * below
    val m = h.select(col("bin").alias("__pb"),
      ((x - pmod(x, total)) / total).cast(LongType).alias(outCol))
    df.withColumn("__pbin", histBin(valueCol, lo, hi, nBins))
      .join(m, col("__pbin") === col("__pb"), "left")
      .drop("__pbin", "__pb")
  }

  /** EXACT quantile in two passes — the distributed-quickselect shape
    * that replaces a full global sort at 100 TB: pass 1 builds the
    * [[histogram]] (map-side-combinable; its ≤ nBins rows collect to the
    * driver as a bounded literal, same discipline as the ANN codebooks)
    * and locates the bin holding q's rank; pass 2 counts the target
    * bin's rows PER DISTINCT CENTS VALUE (a map-side-combinable
    * count aggregate — no per-row ranking anywhere), then a prefix sum
    * over the ≤ distinct-cents aggregate rows finds the value whose
    * cumulative count first reaches the in-bin rank. Adversarially
    * concentrated data (one price point = 30% of all rows) is therefore
    * FREE, not a degradation: the hot value is one aggregate row however
    * many rows share it; pass-2 volume is the target bin's distinct-value
    * count, ≤ min(bin rows, value resolution). Values quantize to scaled
    * longs, so the answer is value-exact and tie-order-blind (equal cents
    * rank to the same cents). The rank is the [[graft.functions.OrderStat]]
    * rank over the n clean values.
    *
    * Output one row per q: (q, rank, n, cents, value) — `value` is
    * cents/scale, one exact IEEE division. An input with no clean value
    * (n = 0) has no value at any rank and returns no rows. */
  def exactQuantiles2Pass(df: DataFrame, valueCol: Column, qs: Seq[Double],
      lo: Double, hi: Double, nBins: Int, scale: Long = 100L): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must be in (0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    val cents = floor(valueCol * lit(scale.toDouble) + lit(0.5))
      .cast(LongType)
    val vals = df.select(cents.alias("__c"),
        histBin(valueCol, lo, hi, nBins).alias("__bin"))
      // null/NaN values have a null bin; dropping them here keeps the
      // driver-side getLong from silently folding them into bin 0 and
      // corrupting the rank arithmetic (ranks are over clean values only,
      // matching [[histogram]]'s exclusion)
      .filter(col("__bin").isNotNull)
    val hist = vals.groupBy(col("__bin"))
      .agg(count(lit(1)).alias("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val n = hist.map(_._2).sum
    val targets = qs.map { q =>
      val r = OrderStat.rank(q, n)
      var cum = 0L
      val (bin, before) = hist.collectFirst {
        case (b, c) if { cum += c; cum >= r } => (b, cum - c)
      }.getOrElse((nBins.toLong - 1, 0L))
      (q, r, bin, r - before) // rank within the bin
    }
    val probes = targets.toDF("q", "rank", "__bin", "__inbin")
    // per-(bin, cents) exact counts — map-side combined, so a hot value
    // never materializes its row set anywhere — then a prefix sum over
    // the distinct-cents rows of each probed bin; the rank-holder is the
    // unique value with cumBefore < inbinRank <= cum
    val counts = vals
      .join(broadcast(probes.select(col("__bin")).distinct()), Seq("__bin"))
      .groupBy(col("__bin"), col("__c")).agg(count(lit(1)).alias("__cnt"))
    val w = Window.partitionBy(col("__bin")).orderBy(col("__c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("__cum", sum(col("__cnt")).over(w))
    cum.join(broadcast(probes),
        cum("__bin") === probes("__bin") &&
          col("__cum") - col("__cnt") < col("__inbin") &&
          col("__inbin") <= col("__cum"))
      .select(col("q"), col("rank"), lit(n).alias("n"), col("__c").alias("cents"),
        (col("__c").cast(DoubleType) / lit(scale.toDouble)).alias("value"))
  }

  /** Bits of the [[Hashing]] value space (P < 2^30) — fixes the HLL
    * rho range so register arithmetic stays exact in 64-bit integers. */
  val HllHashBits = 30

  /** Wide-family HLL hash bits: [[Hashing.PW]] ≈ 2^59.8, treated as a
    * 60-bit space (the same top-of-range approximation the 30-bit family
    * makes with P ≈ 2^29.9). Registers reach ~55, so 2^(r−register) sums
    * stay well inside 64-bit integers. */
  val HllHashBitsWide = 60

  /** Rational HLL bias constants alpha_m = hllAlphaNum(m)/1000 for the
    * small-m table, and the closed form 7213·m/(10000·m+10790) beyond —
    * kept rational so the estimate is a single IEEE division of two
    * exactly-representable integers (engine-bit-identical). */
  private def hllAlpha(m: Int): (Double, Double) = m match {
    case 16 => (673.0, 1000.0)
    case 32 => (697.0, 1000.0)
    case 64 => (709.0, 1000.0)
    case _ => (7213.0 * m, 10000.0 * m + 10790.0)
  }

  /** Bit length of a non-negative integer column (0 for 0) as an unrolled
    * comparison chain — no log2 float round-trip, so the value replays
    * exactly as the equivalent CASE chain in any SQL engine. */
  private def bitLen(c: Column, maxBits: Int): Column =
    (maxBits to 1 by -1).foldRight(lit(0): Column) { (k, els) =>
      when(c >= lit(1L << (k - 1)), lit(k)).otherwise(els)
    }

  /** HyperLogLog register build: per group, the max leading-zero rank
    * (rho) of the hashed items in each of m = 2^bucketBits buckets, stored
    * sparsely as (group…, bucket, register) — untouched buckets are absent
    * and read as register 0 at estimate time, so a group's sketch is at
    * most m rows regardless of input size. One hash aggregate (map-side
    * combined max); registers from different shards/days/corpora merge by
    * `max` per cell ([[hllMerge]]), which is EXACT: registers(A ∪ B) ==
    * merge(registers(A), registers(B)) by construction, the property that
    * makes HLL the classic 100 TB distinct-count path (KMV here keeps k
    * hashes per group; HLL keeps m 5-bit ranks — smaller state, and the
    * merge is a max instead of a re-rank).
    *
    * Determinism: bucket = h mod m and w = h div m over the 30-bit
    * [[Hashing]] space; rho = (30 − bucketBits) + 1 − bitlen(w) via an
    * unrolled comparison chain — all integer ops, bit-identical in DuckDB.
    *
    * Reference scope note: tempo has no sketches (pipeline-side surface,
    * like the rest of this module). */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], itemCol: Column,
      bucketBits: Int = 6, seed: Int = 29, wide: Boolean = false): DataFrame = {
    val gc = groupCols.map(col)
    val (bucket, rho) = hllCells(itemCol, bucketBits, seed, wide)
    df.select(gc ++ Seq(bucket.alias("bucket"), rho.alias("__rho")): _*)
      .groupBy(gc :+ col("bucket"): _*)
      .agg(max(col("__rho")).alias("register"))
  }

  /** (bucket, rho) cell coordinates of one item — the shared addressing of
    * [[hllRegisters]] and the streaming register builder
    * ([[graft.streaming.StreamingTSDF.hllRegisters]]); the two MUST agree
    * or batch and stream sketches diverge. */
  private[graft] def hllCells(itemCol: Column, bucketBits: Int,
      seed: Int, wide: Boolean = false): (Column, Column) = {
    require(bucketBits >= 4 && bucketBits <= 14, "need 4 <= bucketBits <= 14")
    val m = 1L << bucketBits
    val wBits = (if (wide) HllHashBitsWide else HllHashBits) - bucketBits
    val h =
      if (wide) Hashing.mixWide(Hashing.wideHash(itemCol), seed)
      else Hashing.mix(Hashing.polyHash(itemCol), seed)
    (pmod(h, lit(m)),
      lit(wBits + 1) - bitLen(call_function("div", h, lit(m)), wBits))
  }

  /** Merge two [[hllRegisters]] sketches over the same group/bucket layout:
    * max per cell. Exactly equals the sketch of the unioned inputs. */
  def hllMerge(a: DataFrame, b: DataFrame, groupCols: Seq[String]): DataFrame = {
    val gc = groupCols.map(col)
    a.unionByName(b)
      .groupBy(gc :+ col("bucket"): _*)
      .agg(max(col("register")).alias("register"))
  }

  /** Trailing-window HLL distinct estimate (the WAU/MAU register path):
    * per observed integer time bucket, merge the trailing `windowBuckets`
    * per-bucket register files by max and estimate — the HLL face of
    * [[kmvDistinctTrailing]]. Register merge is exact (max per cell ==
    * build over the union), so sliding distinct counts never re-scan the
    * window's raw rows: one full-volume register aggregate, then
    * everything slides on ≤ m rows per bucket. Per-bucket state is m
    * 5-bit ranks vs KMV's k hashes — the smaller-state trade, at HLL's
    * ~1.04/√m relative error. Output: (win, n_zero, s_int, hll_est). */
  def hllDistinctTrailing(df: DataFrame, bucketCol: Column, itemCol: Column,
      windowBuckets: Int, bucketBits: Int = 6, seed: Int = 29,
      wide: Boolean = false): DataFrame = {
    require(windowBuckets >= 1, "need windowBuckets >= 1")
    val (cell, rho) = hllCells(itemCol, bucketBits, seed, wide)
    val perBucket = df
      .select(bucketCol.cast(LongType).alias("__b"),
        cell.alias("bucket"), rho.alias("__rho"))
      .groupBy(col("__b"), col("bucket"))
      .agg(max(col("__rho")).alias("register"))
    val span = perBucket.agg(max(col("__b")).alias("__hi"))
    val merged = perBucket
      .withColumn("win",
        explode(sequence(col("__b"), col("__b") + (windowBuckets - 1))))
      .crossJoin(broadcast(span))
      .filter(col("win") <= col("__hi"))
      .groupBy(col("win"), col("bucket"))
      .agg(max(col("register")).alias("register"))
    hllEstimate(merged, Seq("win"), bucketBits, wide)
  }

  /** Read a distinct-count estimate from an [[hllRegisters]] sketch.
    *
    * The harmonic mean is computed in INTEGER space: with R = max rho,
    * s_int = Σ_j 2^(R − M_j) (absent buckets contribute 2^R) ≤ m·2^R
    * < 2^45, so the sum is exact and order-independent; the estimate
    * alpha_m·m²/Σ2^(−M_j) = (alphaNum·m²·2^R) / (alphaDen·s_int) is then
    * one IEEE division of exactly-representable doubles — bit-identical
    * in any engine, no float-summation order hazard.
    *
    * Output per group: n_zero (empty buckets), s_int, hll_est (raw HLL —
    * the oracle-gated column), hll_est_lc (linear-counting correction
    * `m·ln(m/n_zero)` applied in the classic raw < 2.5m ∧ n_zero > 0
    * region — `ln` is transcendental and so JVM-side only; exclude this
    * column from cross-engine gates and from use when groups may sit in
    * the correction region of a replayed pipeline). */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String],
      bucketBits: Int = 6, wide: Boolean = false): DataFrame = {
    val gc = groupCols.map(col)
    val m = 1 << bucketBits
    val r = (if (wide) HllHashBitsWide else HllHashBits) - bucketBits + 1
    val (aNum, aDen) = hllAlpha(m)
    val grouped = registers
      .groupBy(gc: _*)
      .agg(count(lit(1)).alias("__n_set"),
        sum(call_function("shiftleft", lit(1L),
          (lit(r) - col("register")).cast(IntegerType))).alias("__s_set"))
    val sInt = col("__s_set") + (lit(m.toLong) - col("__n_set")) * lit(1L << r)
    val raw = (lit(aNum) * lit(m.toDouble * m.toDouble * (1L << r))) /
      (lit(aDen) * sInt.cast(DoubleType))
    grouped.select(gc ++ Seq(
      (lit(m.toLong) - col("__n_set")).alias("n_zero"),
      sInt.alias("s_int"),
      raw.alias("hll_est"),
      when(col("__n_set") < m && raw < lit(2.5 * m),
        lit(m.toDouble) * log(lit(m.toDouble) /
          (lit(m.toLong) - col("__n_set")).cast(DoubleType)))
        .otherwise(raw).alias("hll_est_lc")): _*)
  }

  /** Bits per Bloom word — 31, so every mask and OR'd word stays < 2^31:
    * exact in Spark longs, DuckDB BIGINTs, and the oracle replay (no
    * engine-specific 64-bit shift/sign semantics anywhere). */
  val BloomBitsPerWord = 31

  /** One (word, mask) pair per hash for `itemCol` — shared addressing of
    * [[bloomBuild]] and [[bloomProbe]]. */
  private[graft] def bloomAddresses(itemCol: Column, mBits: Int, depth: Int,
      seed: Int, wide: Boolean): Column = {
    val h = if (wide) Hashing.wideHash(itemCol) else Hashing.polyHash(itemCol)
    def remix(c: Column, s: Int): Column =
      if (wide) Hashing.mixWide(c, s) else Hashing.mix(c, s)
    array((0 until depth).map { r =>
      val pos = pmod(remix(h, seed + r), lit(mBits.toLong))
      struct((pos / BloomBitsPerWord).cast(LongType).alias("word"),
        call_function("shiftleft", lit(1L),
          (pos % BloomBitsPerWord).cast(
            org.apache.spark.sql.types.IntegerType)).alias("mask"))
    }: _*)
  }

  /** Bloom filter build over `itemCol`: m bits in 31-bit words, stored
    * sparsely as (word, word_mask) — only words with at least one set bit
    * materialize, so the filter is at most m/31 rows however large the
    * input. The word OR is `sum(DISTINCT mask)` (masks are distinct powers
    * of two, so the distinct-sum IS the bitwise OR) — plain integer
    * arithmetic that map-side combines and replays in any engine. Filters
    * from two corpora union by re-OR-ing per word (same distinct-sum after
    * unpacking, or bitwise OR of the packed words).
    *
    * The 100 TB use: yesterday's fingerprint index folded to ~m/31 longs
    * that every ingest executor holds, answering "definitely new?" without
    * joining the historical corpus ([[Dedup.incrementalDedup]]'s anti-join
    * stays the exact path; the Bloom pass prunes its probe side). */
  def bloomBuild(df: DataFrame, itemCol: Column, mBits: Int, depth: Int,
      seed: Int = 97, wide: Boolean = false): DataFrame = {
    require(mBits >= BloomBitsPerWord && depth >= 1,
      s"need mBits >= $BloomBitsPerWord, depth >= 1")
    df.select(explode(bloomAddresses(itemCol, mBits, depth, seed, wide))
      .alias("__a"))
      .select(col("__a.word").alias("word"), col("__a.mask").alias("mask"))
      .distinct()
      .groupBy(col("word"))
      .agg(sum(col("mask")).alias("word_mask"))
  }

  /** Probe a [[bloomBuild]] filter: an item is a hit iff ALL depth probe
    * bits are set (zero false negatives; false positives at the classic
    * (1−e^{−dn/m})^d rate). The filter side is tiny (≤ m/31 rows) so AQE
    * broadcasts it; the probe side streams through map-side.
    * Output: probe rows + bloom_hit. */
  def bloomProbe(probes: DataFrame, filter: DataFrame, itemCol: Column,
      mBits: Int, depth: Int, seed: Int = 97, wide: Boolean = false)
      : DataFrame = {
    require(mBits >= BloomBitsPerWord && depth >= 1,
      s"need mBits >= $BloomBitsPerWord, depth >= 1")
    val probed = probes
      .withColumn("__a",
        explode(bloomAddresses(itemCol, mBits, depth, seed, wide)))
      .join(filter, col("__a.word") === filter("word"), "left")
      .withColumn("__ok",
        when(col("word_mask").isNotNull &&
          (col("word_mask").bitwiseAND(col("__a.mask")) =!= 0L), 1L)
          .otherwise(0L))
    // hit iff every exploded probe row found its bit; comparing against
    // count(*) (not the constant depth) keeps duplicated probe rows correct
    probed
      .groupBy(probes.columns.toIndexedSeq.map(col): _*)
      .agg((sum(col("__ok")) === count(lit(1))).alias("bloom_hit"))
  }
}

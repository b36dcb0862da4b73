package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Jaro-Winkler string similarity — the classic entity-resolution verify
  * metric (names, addresses, product titles), complementing the
  * edit-distance verifier with a metric that rewards shared prefixes and
  * tolerates transpositions.
  *
  * The whole computation is pure Column algebra — the greedy window
  * matching runs as a nested higher-order-function fold (outer over a's
  * characters carrying the USED-POSITION LIST of b as the accumulator,
  * inner scanning the Jaro window for the first unused equal character),
  * exactly the DTW discipline, so the DuckDB oracle replays it as the
  * identical nested `list_reduce`. All intermediate quantities (match
  * count m, doubled transpositions t2, common prefix) are exact integers;
  * the similarity itself is a FIXED-ORDER composition of correctly-
  * rounded IEEE ops on those integers, hence bit-identical in any engine.
  *
  * Conventions (the Winkler standard): window = ⌊max(la,lb)/2⌋ − 1
  * (clamped ≥ 0); t2 = the COUNT of positions where the matched
  * sequences differ (t = t2/2, possibly half-integral); jaro =
  * (m/la + m/lb + (2m − t2)/(2m)) / 3; jw = jaro + min(prefix,4) · 0.1 ·
  * (1 − jaro); both strings empty ⇒ 1, one empty ⇒ 0.
  *
  * Scale shape: per-pair cost is O(la · window) lambda steps in the
  * projection — this is a VERIFY stage for candidate pairs out of a
  * blocking/LSH stage (the near-dup discipline), never an all-pairs
  * metric. */
object StringSim {

  /** Character codes of a string as `array<bigint>` (codepoint of each
    * char; empty string ⇒ empty array — guarded against Spark's
    * descending-sequence surprise). */
  def charCodes(s: Column): Column =
    when(length(s) > 0,
      transform(sequence(lit(1), length(s)),
        i => ascii(s.substr(i, lit(1))).cast(LongType)))
      .otherwise(typedLit(Seq.empty[Long]))

  /** Adds `la, lb, m, t2, prefix, jw` for the string pair
    * (`aCol`, `bCol`). Intermediates land as real projection columns so
    * nothing re-evaluates inside HOF lambdas. */
  def jaroWinkler(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val emptyL = typedLit(Seq.empty[Long])
    val step1 = df
      .withColumn("__ac", charCodes(aCol))
      .withColumn("__bc", charCodes(bCol))
      .withColumn("la", size(col("__ac")).cast(LongType))
      .withColumn("lb", size(col("__bc")).cast(LongType))
    val la = col("la")
    val lb = col("lb")
    val step2 = step1.withColumn("__w",
      greatest(lit(0L), floor(greatest(la, lb) / lit(2)).cast(LongType) - 1))
    // greedy window matching: accumulator = b-positions used so far, in
    // MATCH (i) order — m falls out as its size, and both matched
    // sequences derive from it (chars are equal across a match, so the
    // k-th matched a-char IS b[used(k)]; b's sequence is the same lookups
    // at the SORTED positions)
    val idxA = when(la > 0, sequence(lit(0L), la - 1)).otherwise(emptyL)
    val fold1 = aggregate(idxA, emptyL, (acc, i) => {
      val jlo = greatest(lit(0L), i - col("__w"))
      val jhi = least(lb - 1, i + col("__w"))
      val js = when(lb > 0 && jhi >= jlo, sequence(jlo, jhi))
        .otherwise(emptyL)
      val aChar = element_at(col("__ac"), (i + 1).cast(IntegerType))
      val found = aggregate(js, lit(-1L), (f, j) =>
        when(f >= 0, f).otherwise(
          when(!array_contains(acc, j) &&
            element_at(col("__bc"), (j + 1).cast(IntegerType)) === aChar, j)
            .otherwise(lit(-1L))))
      concat(acc, filter(array(found), x => x >= 0))
    })
    val step3 = step2.withColumn("__used", fold1)
      .withColumn("m", size(col("__used")).cast(LongType))
    val bAt = (j: Column) => element_at(col("__bc"), (j + 1).cast(IntegerType))
    val aP = transform(col("__used"), bAt)
    val bP = transform(array_sort(col("__used")), bAt)
    val step4 = step3
      .withColumn("t2",
        size(filter(zip_with(aP, bP, _ =!= _), x => x)).cast(LongType))
      .withColumn("prefix", {
        val upto = least(la, lb, lit(4L))
        val ks = when(upto > 0, sequence(lit(1L), upto)).otherwise(emptyL)
        aggregate(ks, lit(0L), (p, k) =>
          when(p === k - 1 &&
            element_at(col("__ac"), k.cast(IntegerType)) ===
              element_at(col("__bc"), k.cast(IntegerType)), k).otherwise(p))
      })
    val m = col("m").cast(DoubleType)
    val jaro = when(col("m") === 0,
      when(la === 0 && lb === 0, lit(1.0)).otherwise(lit(0.0)))
      .otherwise(
        (m / la.cast(DoubleType) + m / lb.cast(DoubleType) +
          (lit(2.0) * m - col("t2").cast(DoubleType)) / (lit(2.0) * m))
          / lit(3.0))
    step4
      .withColumn("__j", jaro)
      .withColumn("jw",
        col("__j") + col("prefix").cast(DoubleType) * lit(0.1) *
          (lit(1.0) - col("__j")))
      .drop("__ac", "__bc", "__w", "__used", "__j")
  }

  /** Longest-common-subsequence length over the first `maxTokens`
    * normalized tokens of each side — the order-preserving similarity
    * next to Jaro-Winkler (character transpositions) and DTW (elastic
    * numeric shapes): LCS is what diff/plagiarism alignment measures,
    * rewarding long in-order runs while tolerating insertions.
    *
    * The classic O(n·m) DP runs as ONE nested HOF fold per pair (the
    * [[graft.tsdf.Dtw.dtwDistance]] discipline): dp(i,j) =
    * dp(i−1,j−1)+1 when tokenᵢ = tokenⱼ else max(dp(i−1,j), dp(i,j−1)),
    * on polyHash token codes (exact integers, so the DuckDB oracle
    * replays the identical nested list_reduce). Both token arrays are
    * TRUNCATED to `maxTokens` and PADDED to exactly that length with
    * distinct never-equal sentinels (−1 left, −2 right): truncation is
    * the bounded-DP-cost contract (the per-pair verify budget at corpus
    * scale), and the fixed padded length makes every inner fold list
    * the same length across a batch — the r12 DuckDB
    * nested-list_reduce hazard only bites on varying inner lengths, and
    * padding with non-matching sentinels provably never changes the DP
    * corner (a sentinel row/column only copies the running max).
    *
    * Adds `la`, `lb` (clamped real token counts) and `lcs_len`, plus
    * `lcs_sim` = 2·lcs/(la+lb), one correctly-rounded division of exact
    * integers (0 when both sides are empty), and `truncated` — true
    * when EITHER side exceeded `maxTokens`, so callers comparing long
    * documents see the ceiling instead of silently absorbing it. */
  def lcsTokenLength(df: DataFrame, aCol: Column, bCol: Column,
      maxTokens: Int = 24): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    def rawToks(t: Column): Column =
      filter(split(Dedup.normalizeText(t), " "), x => x =!= "")
    def toks(ts: Column): Column =
      transform(slice(ts, 1, maxTokens), x => Hashing.polyHash(x))
    def pad(ts: Column, sentinel: Long): Column =
      when(size(ts) < maxTokens,
        concat(ts, transform(sequence(lit(1), lit(maxTokens) - size(ts)),
          _ => lit(sentinel))))
        .otherwise(ts)
    // bind both token arrays ONCE as lambda variables (the winnowing
    // lesson: HOF lambdas inline free sub-expressions, so a bare column
    // reference would re-run normalize+split+hash per fold step)
    def bind2(a: Column, b: Column)(f: (Column, Column) => Column): Column =
      Similarity.bindArr(a)(ta => Similarity.bindArr(b)(tb => f(ta, tb)))
    val res = bind2(rawToks(aCol), rawToks(bCol)) { (ra, rb) =>
      bind2(toks(ra), toks(rb)) { (ta, tb) =>
        val pa = pad(ta, -1L)
        val pb = pad(tb, -2L)
        val row0 = concat(array(lit(0L)), transform(pb, _ => lit(0L)))
        val lcs = aggregate(pa, row0, (prev, ai) =>
          aggregate(pb, array(lit(0L)), (cur, bj) =>
            concat(cur, array(greatest(
              when(ai === bj, element_at(prev, size(cur)) + 1L)
                .otherwise(lit(0L)),
              element_at(prev, size(cur) + 1),
              element_at(cur, lit(-1)))))),
          row => element_at(row, lit(-1)))
        struct(size(ta).cast(LongType).alias("la"),
          size(tb).cast(LongType).alias("lb"),
          lcs.alias("lcs_len"),
          (size(ra) > maxTokens || size(rb) > maxTokens).alias("truncated"))
      }
    }
    df.withColumn("__r", res)
      .withColumn("la", col("__r.la"))
      .withColumn("lb", col("__r.lb"))
      .withColumn("lcs_len", col("__r.lcs_len"))
      .withColumn("lcs_sim",
        when(col("la") + col("lb") > 0,
          (col("lcs_len") * 2L).cast(DoubleType) /
            (col("la") + col("lb")).cast(DoubleType))
          .otherwise(lit(0.0)))
      .withColumn("truncated", col("__r.truncated"))
      .drop("__r")
  }
}

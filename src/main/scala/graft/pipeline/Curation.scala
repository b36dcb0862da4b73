package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.BpeTable

/** The end-to-end curation pipeline: every stage the engine ships
  * individually (quality/repetition gates → exact dedup → near dedup →
  * n-gram decontamination → tokenizer-true packing) COMPOSED into one
  * declarative plan — no intermediate materialization, so Catalyst prunes
  * columns across stages and AQE sizes every exchange from runtime stats.
  *
  * Stage semantics (each exact-integer or fingerprint-keyed, so the whole
  * chain replays bit-for-bit in a SQL oracle):
  *  1. quality gate: ≥ `minTokens` normalized tokens AND type-token
  *     diversity ≥ 1/3 (distinct·3 ≥ n — the repetition gate; both exact
  *     integers, no rounded thresholds anywhere in the chain).
  *  2. exact dedup: keep the lowest id per md5 of the normalized text
  *     ([[Dedup.exactNormalized]]'s fingerprint).
  *  3. near dedup: keep the lowest id per md5 of the SORTED DISTINCT token
  *     set — catches reordered / word-duplicated copies exact dedup
  *     misses (Jaccard-1.0 identity, the radius-0 member of the near-dup
  *     family; banded MinHash pairs + connected components slot in here
  *     when sub-1.0 radii are wanted, at the cost of an iterative step).
  *  4. decontamination: drop survivors sharing ≥ half their distinct
  *     3-grams with the eval suite ([[Dedup.ngramDecontaminate]]; gate on
  *     cross-multiplied exact integers `hit·2 < n`, never the rounded
  *     fraction).
  *  5. packing: [[Packing.packSequencesByTokens]] under trained-BPE counts
  *     — budgets are tokenizer-true.
  *
  * Plan shape at scale: two fingerprint windows (uniform md5 keys — no
  * skew), the decontam gram join (eval side collapses to one tiny distinct
  * hashed-gram set), one left-semi join back on the id, then packing.
  *
  * The one materialization boundary, and why (MEASURED, pinned in
  * PlanShapeSpec): gates → dedups → decontam fuse into a single
  * declarative chain, but [[Packing.packSequencesByTokens]]'s two-pass
  * bucketed prefix sum consumes its input THREE times (range probe, join
  * branch, running-sum branch), and the three subtrees column-prune
  * differently so ReuseExchange cannot dedup them — composed naively the
  * whole upstream chain recomputes 3×, 29 exchanges vs 10. A parallel
  * prefix sum is inherently multi-pass, so the survivor frontier is the
  * correct checkpoint boundary (it is also the artifact a real pipeline
  * persists); the session setting `spark.graft.materializer=none` keeps
  * the fully-declarative single plan — identical results, recomputed
  * upstream. The checkpoint is LAZY: nothing runs until the output
  * action. */
object Curation {

  def curate(df: DataFrame, textCol: String, idCol: String,
      bucketCols: Seq[String], evalDf: DataFrame, bpe: BpeTable,
      minTokens: Int = 12, capacity: Int = 2048): DataFrame = {
    require(minTokens >= 1 && capacity >= 1)
    val t = Dedup.normalizeText(col(textCol))
    val base = df
      .withColumn("__t", t)
      .withColumn("__n",
        when(length(col("__t")) > 0, size(split(col("__t"), " ")))
          .otherwise(0).cast(LongType))
      .withColumn("__nd",
        size(array_distinct(split(col("__t"), " "))).cast(LongType))
    // 1. quality + repetition gates (exact integers)
    val gated = base.filter(col("__n") >= minTokens &&
      col("__nd") * 3 >= col("__n"))
    // 2. exact dedup on the normalized fingerprint
    val exact = gated
      .withColumn("__m1",
        min(col(idCol)).over(Window.partitionBy(md5(col("__t")))))
      .filter(col(idCol) === col("__m1"))
    // 3. near dedup on the sorted distinct token SET
    val setFp = md5(concat_ws(" ",
      array_sort(array_distinct(split(col("__t"), " ")))))
    val near = exact
      .withColumn("__m2", min(col(idCol)).over(Window.partitionBy(setFp)))
      .filter(col(idCol) === col("__m2"))
      .drop("__m1", "__m2", "__n", "__nd")
    // 4. decontamination against the eval suite (left-semi keeps the plan
    // narrow: only the id crosses the join)
    val stats = Dedup.ngramDecontaminate(
      near.select(col(idCol), col("__t")), evalDf.select(t.alias("__t")),
      "__t", idCol, w = 3)
    val clean = near.join(
      stats.filter(col("hit_grams") * 2 < col("n_grams")).select(col(idCol)),
      Seq(idCol), "left_semi")
    // 5. tokenizer-true packing of the survivors (see the object doc for
    // why the frontier checkpoints before the multi-pass pack)
    Packing.packSequencesByTokens(
      Materializer(clean.drop("__t"), eager = false),
      Bpe.tokenCount(col(textCol), bpe),
      idCol, bucketCols, capacity)
  }
}

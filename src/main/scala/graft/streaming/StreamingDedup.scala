package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Hashing}
import graft.pipeline.Similarity.bindArr

/** Streaming near-duplicate detection against a static reference corpus —
  * the ingestion-time shape of MinHash LSH: every incoming document is
  * checked for near-dups among the documents already curated, via a
  * stream-static equi-join (no streaming state at all beyond the final
  * within-watermark dedup).
  *
  * Sides are computed differently on purpose:
  *   - the CORPUS is banded once with the batch fast path (explode +
  *     hash-aggregate signature minima) and can be cached or broadcast;
  *   - the STREAM computes its signature per row with the higher-order-
  *     function form, each intermediate bound exactly once as a lambda
  *     value (HOF lambdas inline free sub-expressions, so a naive chain
  *     would recompute the shingle pipeline per band) — slower per document
  *     than the batch path but free of streaming aggregation, so rows flow
  *     straight to the join with no watermark-delayed finalization.
  * A pair colliding in several bands emits once per band; the final
  * `dropDuplicatesWithinWatermark` collapses them with bounded state.
  */
object StreamingDedup {

  /** Corpus side: (idCol, __sh hashed shingle set, band, bhash) — one row
    * per (document, band). Batch-only input; one aggregate. */
  def bandedCorpus(corpus: DataFrame, textCol: String, idCol: String,
      shingleWidth: Int = 3, bands: Int = 6, rowsPerBand: Int = 3): DataFrame = {
    val k = bands * rowsPerBand
    val hashed = corpus
      .select(col(idCol), explode(Dedup.shingles(col(textCol), shingleWidth)).alias("__s"))
      .select(col(idCol), Hashing.polyHash(col("__s")).alias("__h"))
    val aggs = collect_set(col("__h")).alias("__sh") +:
      (0 until k).map(s => min(Hashing.mix(col("__h"), s)).alias(s"__sig$s"))
    val sig = hashed.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    sig.select(col(idCol), col("__sh"), explode(
      array((0 until bands).map(b =>
        struct(lit(b).alias("band"),
          Hashing.foldHashes((0 until rowsPerBand).map(r =>
            col(s"__sig${b * rowsPerBand + r}"))).alias("bhash"))): _*)).alias("__b"))
      .select(col(idCol), col("__sh"), col("__b.band"), col("__b.bhash"))
  }

  /** Near-dup pairs (stream doc, corpus doc, jaccard ≥ threshold). Output:
    * `<idCol>` (stream side), `tsCol`, `corpus_<idCol>`, `jaccard`. */
  def nearDupAgainstCorpus(stream: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, tsCol: String,
      shingleWidth: Int = 3, bands: Int = 6, rowsPerBand: Int = 3,
      threshold: Double = 0.7,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val k = bands * rowsPerBand
    val corpusBanded = bandedCorpus(corpus, textCol, idCol, shingleWidth,
      bands, rowsPerBand)
      .withColumnRenamed(idCol, s"corpus_$idCol")
      .withColumnRenamed("__sh", "__csh")
    // per-row band structs: shingle hashes evaluated once, signature once
    val shExpr = Dedup.shingleHashes(Dedup.shingles(col(textCol), shingleWidth))
    val bandStructs = bindArr(shExpr) { shv =>
      bindArr(Dedup.minhashSignature(shv, k)) { sg =>
        array((0 until bands).map(b =>
          struct(lit(b).alias("band"),
            Hashing.foldHashes((0 until rowsPerBand).map(r =>
              element_at(sg, b * rowsPerBand + r + 1))).alias("bhash"))): _*)
      }
    }
    val streamBanded = stream
      .select(col(idCol), col(tsCol), shExpr.alias("__sh"),
        explode(bandStructs).alias("__b"))
      .select(col(idCol), col(tsCol), col("__sh"), col("__b.band"), col("__b.bhash"))
      .withWatermark(tsCol, watermarkDelay)
    val sizeRatio =
      least(size(col("__sh")), size(col("__csh"))).cast("double") /
        greatest(size(col("__sh")), size(col("__csh")))
    streamBanded
      .join(corpusBanded, Seq("band", "bhash"))
      .filter(sizeRatio >= threshold)
      .withColumn("jaccard", Dedup.jaccard(col("__sh"), col("__csh")))
      .filter(col("jaccard") >= threshold)
      .select(col(idCol), col(tsCol), col(s"corpus_$idCol"), col("jaccard"))
      .dropDuplicatesWithinWatermark(idCol, s"corpus_$idCol")
  }
}

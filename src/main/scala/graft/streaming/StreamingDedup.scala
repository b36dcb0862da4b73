package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pipeline.Dedup

/** Streaming near-duplicate detection against a static reference corpus —
  * the ingestion-time shape of MinHash LSH: every incoming document is
  * checked for near-dups among the documents already curated, via a
  * stream-static equi-join (no streaming state at all beyond the final
  * within-watermark dedup).
  *
  * Both sides sign each document per row with the same codegen'd kernels
  * as the batch path ([[Dedup.sortedShingleHashes]], [[Dedup.signature]],
  * [[Dedup.bandHashes]]): no aggregate, so stream rows flow straight to
  * the join with no watermark-delayed finalization, and the corpus side
  * can be cached or broadcast. A pair colliding in several bands emits
  * once per band; the final `dropDuplicatesWithinWatermark` collapses them
  * with bounded state.
  */
object StreamingDedup {

  /** Corpus side: (idCol, __sh sorted distinct shingle hashes, band,
    * bhash) — one row per (document, band). */
  def bandedCorpus(corpus: DataFrame, textCol: String, idCol: String,
      shingleWidth: Int = 3, bands: Int = 6, rowsPerBand: Int = 3): DataFrame =
    bandRows(corpus, Seq(idCol), array_distinct(Dedup.sortedShingleHashes(
      Dedup.shingles(col(textCol), shingleWidth))), bands, rowsPerBand)

  /** (`keep`…, __sh, band, bhash): `sh` is signed once per row and its
    * band hashes explode, one row per band; a row with no hash drops. */
  private def bandRows(df: DataFrame, keep: Seq[String], sh: Column,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val kept = keep.map(col) :+ col("__sh")
    df.select(keep.map(col) :+ sh.alias("__sh"): _*)
      .select(kept :+ explode(Dedup.bandHashes(Dedup.signature(col("__sh"),
        bands * rowsPerBand), bands, rowsPerBand)).alias("__b"): _*)
      .select(kept ++ Seq(col("__b.band"), col("__b.bhash")): _*)
  }

  /** Near-dup pairs (stream doc, corpus doc, jaccard ≥ threshold). Output:
    * `<idCol>` (stream side), `tsCol`, `corpus_<idCol>`, `jaccard`. */
  def nearDupAgainstCorpus(stream: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, tsCol: String,
      shingleWidth: Int = 3, bands: Int = 6, rowsPerBand: Int = 3,
      threshold: Double = 0.7,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val corpusBanded = bandedCorpus(corpus, textCol, idCol, shingleWidth,
      bands, rowsPerBand)
      .withColumnRenamed(idCol, s"corpus_$idCol")
      .withColumnRenamed("__sh", "__csh")
    // no array_distinct on this side: its size counts every shingle hash
    val streamBanded = bandRows(stream, Seq(idCol, tsCol), Dedup.sortedShingleHashes(
        Dedup.shingles(col(textCol), shingleWidth)), bands, rowsPerBand)
      .withWatermark(tsCol, watermarkDelay)
    val cands = streamBanded
      .join(corpusBanded, Seq("band", "bhash"))
      .filter(Dedup.sizeRatio(col("__sh"), col("__csh")) >= threshold)
    Dedup.atLeast(cands, Dedup.jaccardSorted(col("__sh"), col("__csh")), "jaccard",
        threshold)
      .select(col(idCol), col(tsCol), col(s"corpus_$idCol"), col("jaccard"))
      .dropDuplicatesWithinWatermark(idCol, s"corpus_$idCol")
  }
}

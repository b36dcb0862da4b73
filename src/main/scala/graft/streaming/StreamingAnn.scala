package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

/** Ingestion-time ANN: a stream of query vectors scores against a STATIC
  * PQ-encoded corpus — the retrieval twin of [[StreamingDedup]]'s near-dup
  * check.
  *
  * The corpus side is plain batch column algebra (coarse cell + PQ codes,
  * computed once, cacheable); each streaming row explodes over its `nprobe`
  * probe cells and meets candidates through a stream-static equi-join on
  * the cell id — no streaming state at all for the scoring. The top-k
  * reduction is one watermarked aggregate keyed by (query id, event time):
  * `slice(array_sort(collect_list(struct(dist, id))), 1, k)`, emitted when
  * the watermark seals the query row. ADC ties break to the lowest
  * neighbor id, matching the batch [[Similarity.ivfPqTopK]] ordering: the
  * probe side and the ADC scoring are that operator's own steps. */
object StreamingAnn {

  /** `encodedCorpus`, when given, must be a [[Similarity.pqEncodeCorpus]]
    * frame (non-residual) over the same corpus, centroids and codebooks.
    * A stream-static join re-evaluates the static plan EVERY micro-batch —
    * encode the corpus once and `persist()` it (or write it out) before
    * starting the stream; at corpus scale this is the difference between a
    * lookup join and re-encoding 100 TB per trigger. */
  def pqTopKStream(queries: DataFrame, corpus: DataFrame, idCol: String,
      tsCol: String, vecCol: String, k: Int, centroids: Seq[Seq[Double]],
      nprobe: Int, codebooks: Seq[Seq[Seq[Double]]],
      watermarkDelay: String = "10 minutes",
      encodedCorpus: Option[DataFrame] = None): DataFrame = {
    require(centroids.nonEmpty && nprobe >= 1 && codebooks.nonEmpty)
    val c = encodedCorpus.getOrElse(
      Similarity.pqEncodeCorpus(corpus, idCol, vecCol, centroids, codebooks))
    val q = Similarity.adcQueries(queries, idCol, vecCol, centroids, nprobe,
      codebooks, residual = false, col(tsCol))
      .withWatermark(tsCol, watermarkDelay)
    Similarity.adcCandidates(q, c, codebooks.size)
      .withColumn("__cand", struct(col("adc_dist"), col("neighbor_id")))
      .groupBy(col("query_id"), col(tsCol))
      .agg(slice(array_sort(collect_list(col("__cand"))), 1, k).alias("topk"))
  }
}

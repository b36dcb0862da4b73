package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-level decomposition of the DSIR scoring cost (q_dsir /
  * q_stream_dsir): scan+normalize alone, gram assembly, gram hashing,
  * the full map-free score column, and the batch join path — each timed
  * over the same corpus with the noop sink (guide §1.4).
  * Usage: DsirProfile <sfDir> [cpus] */
object DsirProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = if (args.length > 1) args(1) else "32"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def t(label: String)(f: => Unit): Unit = {
      f // warm
      val t0 = System.nanoTime()
      f
      println(f"PROF $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    import graft.pipeline.{Dedup, Dsir}
    t("scan+normalize")(noop(docs.select(Dedup.normalizeText(col("text")))))
    t("tokens (split)")(noop(docs.select(
      split(Dedup.normalizeText(col("text")), " "))))
    val g = Dsir.grams(col("text"))
    t("grams (uni+bi strings)")(noop(docs.select(g.alias("g"))))
    t("grams+size only")(noop(docs.select(size(g))))
    val ratios = Dsir.collectRatios(
      docs.filter(lit(true)).select(col("text")),
      Dsir.hashedGramCounts(docs, col("text"), 4096), col("text"), 4096)
    t("scoreColumn (full)")(noop(docs.select(col("doc_id"),
      Dsir.scoreColumn(col("text"), ratios, 4096))))
    t("batch importanceWeights")(noop(Dsir.importanceWeights(
      docs, docs.filter(lit(true)), "text", "doc_id", buckets = 4096)))
    spark.stop()
  }
}

package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.ParquetInput
import graft.tsdf.TSDF

/** Inputs every family reads: the sf tables, the integer-scaled column
  * conventions and the single-batch stream scaffold. */
private[registry] object Inputs {

  /** An sf table, its schema inferred once per path ([[ParquetInput]]). */
  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    ParquetInput.read(s, s"$dir/$name.parquet")

  /** events.ts arrives either as parquet TIMESTAMP(NANOS) read as raw longs
    * (nanosAsLong, pre-r9 testdata) or as TIMESTAMP(MICROS) read as
    * TIMESTAMP_NTZ (r9+ testdata) — normalize both to a UTC-instant
    * TimestampType column (sessions pin timeZone=UTC, so the NTZ cast is
    * wall-clock-preserving and matches DuckDB's naive TIMESTAMP). */
  def events(s: SparkSession, dir: String) = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = tbl(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def docs(s: SparkSession, dir: String) = tbl(s, dir, "documents")

  /** The documents' ids, spread over `defaultParallelism` partitions for
    * the media queries that synthesize and decode a payload per id. The
    * few-KB id scan arrives as 1-2 input partitions, but every row expands
    * into KBs of synthesis and decode work (inflate, unfilter, IDCT): this
    * cheap shuffle moves ids, not payloads, and spreads the EXPANSION
    * over the cluster before the heavy map. */
  def docIdsSpread(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)

  def emb(s: SparkSession, dir: String) = tbl(s, dir, "embeddings")

  val usec: Column => Column = c => unix_micros(c.cast(TimestampType))

  /** exact integer cents of a 2-decimal double (bit-reproducible sums) */
  def cents(c: Column): Column = round(c * 100)

  def eventsTsdf(s: SparkSession, dir: String, series: String,
      extraCols: Column*): TSDF = {
    val df = events(s, dir).select(col(series) +: col("ts") +: extraCols: _*)
    TSDF(df, "ts", Seq(series))
  }

  /** milli-quantized embeddings: integer-valued doubles → order-independent
    * exact dot products */
  def quantized(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => round(x.cast(DoubleType) * 1000)).alias("q"))

  /** The single-batch streaming twins run on a cloned session with few
    * shuffle partitions: stream state-store commit cost is per partition per
    * micro-batch (each store fsyncs a delta file), so 32 partitions × four
    * join state stores dominated wall time for a 40k-row batch that needs no
    * such parallelism. Conf isolation via `newSession` (shared catalog and
    * SparkContext, fresh conf) — the caller's session keeps its
    * partitioning. */
  /** Per-stream-query session. `SPARK_GRAFT_STATESTORE=rocksdb` flips
    * every stateful operator onto the RocksDB state store provider —
    * Spark's shipped answer to 100-TB streaming state (the
    * HDFSBackedStateStore default holds each partition's full state map
    * on-heap per executor; RocksDB spills to local disk with changelog
    * checkpointing). The oracle gate itself runs under either provider
    * (the SPARK_GRAFT_MATERIALIZER passthrough convention) — operators
    * never read this conf, so outputs are provider-identical by
    * construction and the q_stream_* rows verify it. */
  def streamSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", 4)
    if (sys.env.get("SPARK_GRAFT_STATESTORE").contains("rocksdb"))
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    ss
  }

  /** File-source stream over events.parquet with the physical schema (ts =
    * raw nanos long): the feed stays DISTRIBUTED — the MemoryStream harness
    * it replaces collected the whole input to the driver and shipped it
    * inside every task binary (46 MiB tasks at sf1). One parquet file and
    * no per-trigger limits ⇒ AvailableNow processes everything as a single
    * micro-batch, preserving the single-batch = batch-oracle equality. */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sch = ParquetInput.schema(s, s"$dir/events.parquet")
    // the file source wants a DIRECTORY; the glob filter pins the one table
    val src = s.readStream.schema(sch).option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    sch("ts").dataType match {
      case LongType =>
        src.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => src.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Scratch dir on tmpfs when available (see [[runStream]]'s rationale),
    * deleted at JVM exit so repeated bench/verify passes don't accumulate
    * dead checkpoints and index copies in RAM. */
  def scratchDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val dir = (if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, prefix)
    else java.nio.file.Files.createTempDirectory(prefix))
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () }))
    dir.toString
  }

  /** Run a streaming frame to completion through a PARQUET sink (results
    * never gather on the driver, unlike the memory sink) and read the
    * output back as a plain DataFrame.
    *
    * The scratch checkpoint + sink live on tmpfs when available: a
    * single-batch AvailableNow run pays ~20 fsyncs (offset/commit WALs,
    * per-partition state deltas, sink manifest) that are pure harness
    * overhead for a throwaway query — production deployments point the
    * checkpoint at durable storage and none of this path changes. */
  def runStream(s: SparkSession, out: DataFrame): DataFrame = {
    val dst = scratchDir("graft_stream_out_")
    val q = out.writeStream.format("parquet")
      .option("path", s"$dst/data")
      .option("checkpointLocation", s"$dst/chk")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the result schema is the stream frame's own — passing it skips the
    // footer-sampling schema-inference job on every read-back
    s.read.schema(out.schema).parquet(s"$dst/data")
  }

  /** File-source stream over documents.parquet (one file ⇒ a single
    * AvailableNow micro-batch, like [[eventsStream]]). */
  def docsStream(s: SparkSession, dir: String): DataFrame = {
    val sch = ParquetInput.schema(s, s"$dir/documents.parquet")
    s.readStream.schema(sch).option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
  }
}

/** SQL fragments shared by the oracles of more than one family. */
private[registry] object SqlFragments {

  val norm =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  val qv = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000))"

  def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
}

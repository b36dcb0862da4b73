package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.SparkEntry
import graft.streaming.StreamingTSDF

/** One timed operation. `module` is the repository module whose public
  * function the operation calls; per-layer sums group by it. */
sealed trait Op { def name: String; def module: String }

/** A registered batch query: built by its `SparkEntry.queries` function and
  * checked against the DuckDB oracle of `oracle`. */
final case class BatchOp(name: String, module: String, oracle: String,
    build: (SparkSession, String) => DataFrame) extends Op

/** A streaming operator run over the workload's time-ordered source files.
  * `readBack` turns the sink contents into the checked output and `twin`
  * builds the batch computation it must equal; `dropsLate` operators must
  * drop exactly the generator's late rows. */
final case class StreamOp(name: String, module: String, dropsLate: Boolean,
    build: DataFrame => DataFrame, readBack: DataFrame => DataFrame,
    twin: (SparkSession, String) => DataFrame) extends Op

object Workloads {
  private def registered(name: String, module: String): BatchOp =
    BatchOp(name, module, name, SparkEntry.queries(name))

  /** Text scoring and near-duplicate pairs over documents. */
  val Curation: Seq[Op] = Seq(
    registered("q_repetition", "pipeline.text"),
    registered("q_quality_v2", "pipeline.text"),
    registered("q_minhash_pairs", "pipeline.pairs"))

  private def series(df: DataFrame) =
    df.select(col("user_id"), col("ts"), col("value"))

  /** A per-series recurrence and the registered batch query it must equal
    * on the on-time rows; the output columns mirror that query's. */
  private def recurrence(name: String, twin: String, cols: Seq[String])(
      f: DataFrame => DataFrame): StreamOp =
    StreamOp(name, "streaming", dropsLate = true, df => f(series(df)),
      out => out.select(col("user_id") +: unix_micros(col("ts")).alias("ts_us") +:
        col("value") +: cols.map(col): _*),
      (s, root) => SparkEntry.queries(twin)(s, s"$root/on_time"))

  private def hllEstimate(regs: DataFrame): DataFrame =
    graft.pipeline.Sketch.hllEstimate(
      regs.groupBy(col("event_type"), col("bucket"))
        .agg(max(col("register")).alias("register")), Seq("event_type"))
      .select(col("event_type"), col("n_zero"), col("s_int"), col("hll_est"))

  private val Stream: Seq[Op] = Seq(
    recurrence("stream_holt", "q_holt_exact",
      Seq("holt_level_value", "holt_trend_value"))(df =>
      StreamingTSDF.holt(df, "ts", Seq("user_id"), "value", alpha = 0.5, beta = 0.25)),
    // a stateless register changelog: max-folding it loses nothing to late
    // rows, so its twin is the batch sketch over every row
    StreamOp("stream_hll", "streaming", dropsLate = false,
      df => StreamingTSDF.hllRegisters(
        df.select(col("event_type"), col("ts"), col("user_id")),
        "ts", Seq("event_type"), col("user_id").cast(StringType)),
      hllEstimate,
      (s, root) => {
        val ev = events(s, s"$root/full")
        hllEstimate(graft.pipeline.Sketch.hllRegisters(ev, Seq("event_type"),
          col("user_id").cast(StringType)))
      }))

  /** The TSDF core: batch as-of join and recurrences, then two of the same
    * per-series computations driven as multi-batch streams. */
  val Tsdf: Seq[Op] = Seq(
    registered("q_asof", "tsdf"),
    registered("q_holt_exact", "functions"),
    registered("q_kalman", "functions"),
    registered("q_rsi", "functions")) ++ Stream

  def apply(workload: String): Seq[Op] = workload match {
    case "tsdf" => Tsdf
    case "curation" => Curation
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Operations that must fail, for the harness self-check: one throws
    * while building, one returns its base query's output plus one row. */
  def injected(kind: String, base: Seq[Op]): Op = kind match {
    case "throw" => BatchOp("inject_throw", "inject", "inject_throw",
      (_, _) => throw new IllegalStateException("injected failure"))
    case "wrong" =>
      val b = base.collectFirst { case b: BatchOp => b }.getOrElse(
        throw new IllegalArgumentException("no batch operation to corrupt"))
      BatchOp("inject_wrong", "inject", b.oracle, (s, d) => {
        val df = b.build(s, d)
        df.union(df.limit(1))
      })
    case other => throw new IllegalArgumentException(s"unknown injection $other")
  }

  /** The events table as the program's own readers see it: TIMESTAMP(NANOS)
    * read as raw longs, converted to a µs timestamp. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
  }

  /** The time-ordered source files as a stream, one file per micro-batch. */
  def eventsStream(s: SparkSession, dir: String, schema: StructType): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
}

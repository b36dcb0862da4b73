package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

/** The benchmark's JVM side. It builds and fully materializes each
  * operation of one workload, one after another (a closed loop with one
  * client), and writes raw measurements to `<work>/raw.json`; run.py turns
  * them into metrics after checking the outputs.
  *
  *   perfbench.Harness <workload> <data dir> <work dir> <seconds> <trace 0|1> [inject,...]
  *
  * Phases: two set-ups, each a new session, input registration and one
  * untimed warm-up pass (the first starts at JVM start and its pass writes
  * every output for the checks), then timed passes for `seconds` and at
  * least MinPasses, each followed with trace 1 by a pass under the
  * listeners of [[Tracer]]. */
object Harness {
  val Setups = 2
  val MinPasses = 4
  val Cores = 4

  final class Ctx(val spark: SparkSession, val data: String, val work: String,
      val streamSchema: Option[StructType], val tracer: Option[Tracer])

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, secondsArg, traceArg) = args.take(5)
    val inject = args.lift(5).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val base = Workloads(workload)
    val ops = base ++ inject.map(Workloads.injected(_, base))
    val out = mutable.LinkedHashMap[String, Any]("workload" -> workload,
      "ops" -> ops.map {
        case b: BatchOp => Map("name" -> b.name, "module" -> b.module, "kind" -> "batch")
        case s: StreamOp => Map("name" -> s.name, "module" -> s.module,
          "kind" -> "stream", "drops_late" -> s.dropsLate)
      })

    var spark: SparkSession = null
    var ctx: Ctx = null
    val setups = mutable.ArrayBuffer[Double]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    for (k <- 1 to Setups) {
      val t0Ms = if (k == 1) ManagementFactory.getRuntimeMXBean.getStartTime
        else System.currentTimeMillis()
      if (spark != null) spark.stop()
      spark = session(work)
      ctx = register(spark, data, work, ops)
      passes += runPass(ctx, ops, s"setup$k", check = k == 1)
      setups += (System.currentTimeMillis() - t0Ms) / 1e3
    }
    out("setup_s") = setups.toSeq

    // Timed passes for `seconds`, at least MinPasses. With trace 1 each
    // untraced pass is followed by a traced one, so both see the same
    // JIT and machine state and their ratio is the tracing overhead.
    val tracer = if (traceArg == "1") Some(new Tracer(spark)) else None
    val traced = new Ctx(spark, data, work, ctx.streamSchema, tracer)
    val deadline = System.nanoTime() + (secondsArg.toDouble * 1e9).toLong
    var n = 0
    while (n < MinPasses || System.nanoTime() < deadline) {
      passes += runPass(ctx, ops, "timed", check = false)
      tracer.foreach { t =>
        t.install()
        passes += runPass(traced, ops, "traced", check = false)
        t.uninstall()
      }
      n += 1
    }
    tracer.foreach { t =>
      out("spans") = t.spans.sortBy(_.startNs).map(s => Map("id" -> s.id,
        "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs))
    }
    out("passes") = passes.toSeq
    out("checks") = writeChecks(ctx, ops)
    spark.stop()
    Files.writeString(Paths.get(s"$work/raw.json"), Json(out))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Input registration: the stream source's schema is read once; batch
    * queries read their own tables. */
  def register(s: SparkSession, data: String, work: String, ops: Seq[Op]): Ctx = {
    val schema = if (ops.exists(_.isInstanceOf[StreamOp])) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Some(s.read.parquet(s"$data/source").schema)
    } else None
    new Ctx(s, data, work, schema, None)
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private var passCount = 0

  /** One pass: every operation built and fully materialized. Outputs go to
    * a `noop` sink, or to parquet under `<work>/out` when `check`. */
  def runPass(c: Ctx, ops: Seq[Op], phase: String, check: Boolean): Map[String, Any] = {
    passCount += 1
    val passId = c.tracer.map(_.newId()).getOrElse(0L)
    val p0 = Clock.nowNs
    val t0 = System.nanoTime()
    val recs = ops.map(op => runOp(c, op, s"${c.work}/stream/$passCount", check, passId))
    val wall = seconds(t0)
    c.tracer.foreach(_.add(Span(passId, 0L, "pass", s"$phase $passCount", p0, Clock.nowNs)))
    if (!check) deleteTree(new File(s"${c.work}/stream/$passCount"))
    // post-GC live heap between passes, outside the pass's wall time
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    Map("phase" -> phase, "wall_s" -> wall, "heap_mb" -> heapMb, "ops" -> recs)
  }

  def runOp(c: Ctx, op: Op, streamDir: String, check: Boolean,
      passId: Long): Map[String, Any] = {
    val rec = mutable.LinkedHashMap[String, Any]("name" -> op.name)
    val t0 = System.nanoTime()
    def span[T](parent: Long, kind: String)(body: Long => T): T =
      c.tracer.fold(body(0L))(_.within(parent, kind, op.name)(body))
    var opSpan = 0L
    var actionSpan = 0L
    var constructSpan = 0L
    try span(passId, "op") { id =>
      opSpan = id
      op match {
        case b: BatchOp =>
          val df = span(id, "construct") { cs => constructSpan = cs
            b.build(c.spark, c.data) }
          rec("construct_s") = seconds(t0)
          val t1 = System.nanoTime()
          span(id, "action") { as => actionSpan = as
            val w = df.write.mode("overwrite")
            if (check) w.parquet(s"${c.work}/out/${op.name}")
            else w.format("noop").save()
          }
          rec("action_s") = seconds(t1)
        case s: StreamOp =>
          val df = span(id, "construct") { cs => constructSpan = cs
            s.build(Workloads.eventsStream(c.spark, s"${c.data}/source", c.streamSchema.get)) }
          rec("construct_s") = seconds(t0)
          val t1 = System.nanoTime()
          val progress = span(id, "action") { as => actionSpan = as
            runStream(c, df, s"$streamDir/${op.name}", rec, as) }
          rec("action_s") = seconds(t1)
          rec("batches") = progress.map(batch)
      }
    } catch {
      case NonFatal(e) =>
        rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
    }
    rec("total_s") = seconds(t0)
    c.tracer.foreach { t =>
      if (opSpan != 0L) {
        rec("layer") = t.collect(Set(opSpan, constructSpan, actionSpan),
          if (op.isInstanceOf[BatchOp]) actionSpan else 0L)
      }
    }
    rec.toMap
  }

  def runStream(c: Ctx, df: DataFrame, dir: String,
      rec: mutable.Map[String, Any], actionSpan: Long): Seq[StreamingQueryProgress] = {
    val startMs = System.currentTimeMillis()
    val q = df.writeStream.format("parquet")
      .option("path", s"$dir/data")
      .option("checkpointLocation", s"$dir/chk")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val progress = q.recentProgress.toSeq
    progress.headOption.foreach { p =>
      rec("start_s") = (java.time.Instant.parse(p.timestamp).toEpochMilli - startMs) / 1e3
    }
    c.tracer.foreach { t =>
      val last = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      if (last != null) rec("stream_plan") = Tracer.fingerprint(last.executedPlan)
      progress.foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
        val batchId = t.newId()
        t.add(Span(batchId, actionSpan, "batch", s"batch ${p.batchId}", start,
          start + p.batchDuration * 1000000L, Map("rows" -> p.numInputRows)))
        // phases in execution order, laid end to end inside the batch
        var at = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets").foreach { k =>
          val ms = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
          t.add(Span(t.newId(), batchId, "phase", k, at, at + ms * 1000000L))
          at += ms * 1000000L
        }
      }
    }
    progress
  }

  def batch(p: StreamingQueryProgress): Map[String, Any] = Map(
    "rows" -> p.numInputRows,
    "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
    "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
    "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
    "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)

  /** Untimed: writes what run.py checks. Batch outputs are already under
    * `<work>/out`; stream sinks are read back next to their batch twins,
    * and each stream's dropped-row count is recorded. */
  def writeChecks(c: Ctx, ops: Seq[Op]): Map[String, Any] = {
    val s = c.spark
    val firstPass = s"${c.work}/stream/1"
    ops.map {
      case b: BatchOp =>
        b.name -> Map("kind" -> "oracle", "oracle" -> b.oracle,
          "sql" -> graft.SparkEntry.oracleSql.get(b.oracle).orNull)
      case so: StreamOp =>
        val r = mutable.LinkedHashMap[String, Any]("kind" -> "twin")
        try {
          val sink = s.read.parquet(s"$firstPass/${so.name}/data")
          so.readBack(sink).write.mode("overwrite").parquet(s"${c.work}/out/${so.name}")
          so.twin(s, c.data).write.mode("overwrite").parquet(s"${c.work}/out/${so.name}.twin")
          if (so.dropsLate) r("sink_rows") = sink.count()
        } catch {
          case NonFatal(e) => r("error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
        }
        so.name -> r.toMap
    }.toMap
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Minimal JSON writer for the raw measurements. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

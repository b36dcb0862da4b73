package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.registry.Registry

/** Benchmark harness. Prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`
  * and also writes it to `bench_out.json` (plus per-rep raw timings to
  * `bench_detail.json`) so downstream tooling can read clean JSON instead
  * of scraping the sbt log tail.
  *
  * Methodology: one untimed warm-up pass over every selected query (JIT,
  * codegen cache, parquet footers, OS page cache), then
  * `SPARK_GRAFT_BENCH_REPS` (default 3) timed passes; the reported number
  * per query is the median across passes. A single-pass timing in registry
  * order conflates run-order/JIT effects with plan cost — e.g. round 5
  * measured q_dedup_exact at 3.3× its true cost purely from cold-start.
  *
  * A query that throws in any pass (warm-up included) is a failure, not a
  * timing: it is left out of every time (per-query map, total, canaries,
  * `bench_detail.json`), listed under `"failed"` / `"n_failed"`, and its
  * message goes to stderr.
  */
object Bench {
  /** Canary queries: plans frozen for 10+ rounds (resample/interpolate/
    * window/slice families untouched since the single-digit rounds).
    * Their per-rep times + dispersion ship in the bench JSON so a
    * cross-round comparison can decompose host drift (canaries move
    * together) from a code delta (only touched families move) without
    * re-running anything — the r15 1.33x diffuse-capture question,
    * answered from the artifact alone. */
  val Canaries: Seq[String] = Seq("q_resample_floor", "q_interp_ffill",
    "q_welch", "q_slice_ops", "q_vwap", "q_asof", "q_range_stats",
    "q_grouped_stats", "q_state_intervals", "q_describe")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val warmups = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt.max(0)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Session warm-up: touch the hot columns of each table once — count()
    // alone prunes to metadata and leaves the first real scan cold.
    spark.read.parquet(s"$sfDir/region.parquet").count()
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("sum(length(text))").collect()
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("sum(size(embedding))").collect()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/events.parquet")
      .selectExpr("sum(value)", "count(event_type)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("sum(l_quantity)").collect()
    // optional comma-separated subset for local iteration; driver leaves it
    // unset and benches everything. An unknown name throws rather than
    // benching nothing.
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = only.fold(Registry.specs)(Registry.select)
      .map(q => q.name -> q.build)
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def runOnce(): Seq[(String, Double)] = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          if (failed.add(name)) System.err.println(s"[bench] $name failed: $e")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // JVM/GC + host-load telemetry around the timed region: lets a
    // cross-round reader see whether a diffuse shift came with GC
    // pressure or background load rather than plan cost
    import scala.jdk.CollectionConverters._
    def gcTotals(): (Long, Long) = {
      val beans =
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala
      (beans.map(_.getCollectionCount.max(0L)).sum,
        beans.map(_.getCollectionTime.max(0L)).sum)
    }
    def loadAvg(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    for (_ <- 1 to warmups) runOnce()
    val (gcN0, gcMs0) = gcTotals()
    val load0 = loadAvg()
    val timed0 = System.nanoTime()
    val passes = (1 to reps).map(_ => runOnce().toMap)
    val timedSec = (System.nanoTime() - timed0) / 1e9
    val (gcN1, gcMs1) = gcTotals()
    val load1 = loadAvg()
    val telemetry = {
      val procs = Runtime.getRuntime.availableProcessors
      val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
      f"""{"gc_n":${gcN1 - gcN0},"gc_ms":${gcMs1 - gcMs0},"load_before":$load0%.2f,"load_after":$load1%.2f,"procs":$procs,"heap_max_mb":$heapMb,"timed_wall_sec":$timedSec%.2f}"""
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val ok = selected.map(_._1).filterNot(failed.contains)
    val results = ok.map(name => name -> median(passes.map(_(name))))
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // canary block: per-rep raw times (not just the median) for the
    // frozen-plan set, so dispersion is readable from the artifact
    val canary = Canaries
      .filter(ok.contains)
      .map { c =>
        "\"" + c + "\":" + passes.map(_(c)).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"n_failed":${failed.size},"failed":$failedJson,"canary":$canary,"telemetry":$telemetry,"sf":"$sfDir","reps":$reps,"warmup":$warmups}"""
    val detail = ok.map { name =>
      s"\"" + name + "\":" + passes.map(_(name)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    try {
      Files.write(Paths.get("bench_out.json"),
        (line + "\n").getBytes(StandardCharsets.UTF_8))
      Files.write(Paths.get("bench_detail.json"),
        (detail + "\n").getBytes(StandardCharsets.UTF_8))
    } catch { case _: Throwable => () }
    spark.stop()
    // ONE driver-visible JSON line, printed LAST (after spark.stop so no
    // shutdown logging follows it), carrying the COMPLETE per-query map.
    // Measurement-harness fix, round 19: previous rounds printed a
    // full-precision line followed by a byte-budgeted line that truncated
    // 273 of 331 queries, and the two lines together overflowed/polluted
    // the driver's log-tail scrape window — every BENCH_rNN.json since r14
    // had parsed:null. Now: 3-decimal times for every query (~8 KB for 331
    // entries; 3 decimals, not 2, so sub-10 ms entries can't round to a
    // geomean-breaking 0.00), full precision still in bench_out.json /
    // bench_detail.json, and build.sbt routes forked-run stdout past sbt's
    // "[info] " prefixing so the line is parseable as-is.
    def fmt(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val byTime = results.sortBy(-_._2)
    val entries = byTime.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    val sfName = Paths.get(sfDir).getFileName.toString
    val canarySec = results.filter(r => Canaries.contains(r._1)).map(_._2).sum
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"queries":{${entries.mkString(",")}},"omitted_n":0,"omitted_sec":0.000,"canary_sec":${fmt(canarySec)},"n_failed":${failed.size},"failed":$failedJson,"gc_ms":${gcMs1 - gcMs0},"sf":"$sfName","reps":$reps,"warmup":$warmups,"full":"bench_out.json"}""")
  }
}

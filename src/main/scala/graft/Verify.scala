package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.{Failure, Success, Try}

import graft.registry.{Oracle, QuerySpec, Registry}

/** Correctness dump: each registered query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check_oracle.py`). The
  * queries and their oracles come from the family files under
  * `graft/registry/` (`TsdfQueries`, `IntervalsIoMlQueries`, `TextQueries`,
  * `DedupQueries`, `AnnQueries`, `LmQueries`, `MediaQueries`,
  * `AnalyticsQueries`).
  *
  * Usage: `graft.Verify <sf dir> <out dir> [query ...]`; an unknown query
  * name fails before anything runs. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional query-name filter (local iteration); a typo throws here
    // instead of selecting nothing
    val selected = if (args.length > 2) Registry.select(args.drop(2).toSeq)
      else Registry.specs
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // materializer-mode passthrough (integration gate: the same oracle
    // rows must stay green under reliable/parquet materialization)
    sys.env.get("SPARK_GRAFT_MATERIALIZER").foreach(m =>
      spark.conf.set(graft.pipeline.Materializer.ModeKey, m))
    sys.env.get("SPARK_GRAFT_MATERIALIZER_DIR").foreach(d =>
      spark.conf.set(graft.pipeline.Materializer.DirKey, d))
    new java.io.File(outDir).mkdirs()
    selected.foreach { case QuerySpec(name, fn, _) =>
      // repartition(1), NOT coalesce(1): coalesce collapses the whole
      // post-shuffle stage into the single writer task, so a query whose
      // heavy projection sits above its last exchange (the decode family,
      // any interpreted-HOF pass) runs the entire corpus on ONE core
      // inside Verify. The measured case was q_repetition at sf1: one
      // ~500 s task became a 16-way stage. That query is now a one-pass
      // kernel with no exchange, so it no longer shows the effect; the
      // rule still holds for the decode family. The extra shuffle moves
      // only the RESULT rows; the single output file the comparator reads
      // is unchanged.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // trained oracles (e.g. q_pca_project) are best-effort per query: a
    // recoverable training failure skips only that query's oracle, never
    // the static map or another trained entry. Fatal JVM errors (OOM,
    // LinkageError) propagate out of Try and fail the dump — shipping a
    // silently-narrowed oracle file after one of those would hide the
    // narrowing from the gate.
    val trained = Registry.specs.collect {
      case QuerySpec(name, _, Oracle.Trained(sql)) => name -> Try(sql(spark, sfDir))
    }
    val dynamic = trained.collect { case (name, Success(sql)) => name -> sql }
    val skips = trained.collect { case (name, Failure(e)) =>
      System.err.println(s"[verify] $name trained oracle skipped: ${e.getMessage}")
      s"$name: ${e.getClass.getName}: ${e.getMessage}"
    }
    // machine-readable skip marker, one line per skipped query, so the
    // gate can surface the narrowed coverage instead of just missing rows
    val marker = Paths.get(s"$outDir/dynamic_oracle_skipped.txt")
    if (skips.nonEmpty) Files.writeString(marker, skips.mkString("", "\n", "\n"))
    else Files.deleteIfExists(marker)
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

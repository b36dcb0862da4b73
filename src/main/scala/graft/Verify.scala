package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet // optional query-name filter (local iteration)
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
    SparkEntry.queries.filter(q => only.isEmpty || only(q._1)).foreach { case (name, fn) =>
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
    // dynamic entries (trained-literal replays, e.g. q_pca_project) are
    // best-effort: a recoverable training failure must not zero the whole
    // round's static oracle map. Fatal JVM errors (OOM, LinkageError)
    // propagate and fail the dump — shipping a silently-narrowed oracle
    // file after one of those would hide the narrowing from the gate.
    val dynamic =
      try SparkEntry.dynamicOracleSql(spark, sfDir)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] dynamic oracle skipped: ${e.getMessage}")
        // machine-readable skip marker so the gate can surface the
        // narrowed coverage instead of just missing the rows quietly
        Files.writeString(Paths.get(s"$outDir/dynamic_oracle_skipped.txt"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
        Map.empty[String, String]
      }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

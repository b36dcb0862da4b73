package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry.{Oracle, QuerySpec, Registry}
import graft.registry.TsdfQueries.qAsof

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2 + training-data pipeline ops), each with a DuckDB oracle:
  * static SQL in `oracleSql`, or a trained replay in `dynamicOracleSql`.
  *
  * The three maps are derived from the one [[graft.registry.Registry]]
  * list. Each query is a single `spec(name, oracle) { build }` expression in
  * its family file under `graft/registry/`: `TsdfQueries`,
  * `IntervalsIoMlQueries`, `TextQueries`, `DedupQueries`, `AnnQueries`,
  * `LmQueries`, `MediaQueries` and `AnalyticsQueries`; the inputs they
  * share (tables, stream scaffold) are in `Inputs.scala`.
  *
  * Determinism strategy (the driver hash-compares values): float aggregates
  * are computed on integer-scaled metrics (cents / milli-units) whose sums
  * are exact in double regardless of summation order, timestamps are output
  * as integer epoch-µs, and scalar float expressions keep identical operation
  * order on both sides — so Spark and DuckDB produce bit-identical values.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): as-of join of
    * click events against the prevailing purchase, per user. */
  def entry(spark: SparkSession): DataFrame =
    qAsof(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.byName.map { case (name, q) => name -> q.build }

  lazy val oracleSql: Map[String, String] = Registry.byName.collect {
    case (name, QuerySpec(_, _, o: Oracle.Static)) => name -> o.sql
  }

  /** Trained oracles, computed from the same sfDir the queries ran on. */
  def dynamicOracleSql(s: SparkSession, dir: String): Map[String, String] =
    Registry.byName.collect {
      case (name, QuerySpec(_, _, Oracle.Trained(sql))) => name -> sql(s, dir)
    }
}

package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its build over `(session, sf dir)` and
  * its DuckDB oracle. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Oracle)

/** A query's DuckDB oracle. */
sealed trait Oracle

object Oracle {
  /** SQL fixed by the code. The text is evaluated on first use, so building
    * the registry evaluates no oracle string. */
  final class Static(text: => String) extends Oracle {
    lazy val sql: String = text
  }

  /** SQL that embeds literals trained from the same sf dir the query ran
    * on (BPE merges, unigram tables, PCA components), built at dump time. */
  final case class Trained(sql: (SparkSession, String) => String) extends Oracle
}

/** A family file: each `spec` / `trained` call in the object body
  * registers one query, in file order. */
abstract class QueryFamily {
  private val registered = scala.collection.mutable.ListBuffer.empty[QuerySpec]

  final def specs: Seq[QuerySpec] = registered.toList

  protected def spec(name: String, oracle: => String)(
      build: (SparkSession, String) => DataFrame): Unit =
    registered += QuerySpec(name, build, new Oracle.Static(oracle))

  protected def trained(name: String, oracle: (SparkSession, String) => String)(
      build: (SparkSession, String) => DataFrame): Unit =
    registered += QuerySpec(name, build, Oracle.Trained(oracle))
}

/** Every registered query, family by family. */
object Registry {
  lazy val specs: Seq[QuerySpec] = Seq(TsdfQueries, IntervalsIoMlQueries,
    TextQueries, DedupQueries, AnnQueries, LmQueries, MediaQueries,
    AnalyticsQueries).flatMap(_.specs)

  lazy val byName: Map[String, QuerySpec] = index(specs)

  /** Name → spec; a name registered twice throws instead of silently
    * keeping the last entry. */
  private[registry] def index(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val dup = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty,
      s"query names registered more than once: ${dup.toSeq.sorted.mkString(", ")}")
    specs.map(q => q.name -> q).toMap
  }

  /** The named specs in the order given; any unknown name throws, listing
    * every unknown name. */
  def select(names: Seq[String]): Seq[QuerySpec] = {
    val unknown = names.filterNot(byName.contains).distinct
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    names.distinct.map(byName)
  }
}

package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.{BeforeAndAfterAll, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + chispa-style DataFrame equality for golden tests.
  * Mirrors the reference harness settings (tests/base.py:250-273):
  * shuffle.partitions=1, UTC session timezone; equality ignores column
  * order, nullability and metadata (base.py:390-427).
  *
  * Suites run at ONE shuffle partition, so every shuffled stage is one
  * task. A test that checks that work spreads over tasks must raise the
  * partition count (and usually turn off AQE coalescing) with [[withConf]]. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestBase.session

  /** The temp directories of the running case; each is deleted, with all
    * it holds, when its case ends. */
  private val caseDirs = scala.collection.mutable.ListBuffer.empty[Path]

  /** A fresh temp directory named `prefix…` for the running case only. */
  def caseDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    caseDirs += d
    d.toString
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally {
      caseDirs.foreach { d =>
        val all = Files.walk(d)
        try all.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
        finally all.close()
      }
      caseDirs.clear()
    }

  /** `body` under the given session settings; each key gets its prior
    * value back (or is unset again) afterwards, also on a throw. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `build`'s result and the Spark jobs it started on this thread. A
    * marker job run afterwards flushes the listener bus, which delivers
    * events in order. */
  def jobsDuring[T](build: => T): (T, Int) = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("plan-build", "jobs while building a plan")
      val out = try build finally sc.clearJobGroup()
      sc.setJobGroup("plan-marker", "listener flush")
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("plan-marker") && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(groups.contains("plan-marker"), "the marker job was never seen")
      (out, groups.asScala.count(_ == "plan-build"))
    } finally sc.removeSparkListener(listener)
  }

  /** Strip nullability (and metadata) recursively; lowercase names. */
  private def normalize(dt: DataType): DataType = dt match {
    case st: StructType =>
      StructType(st.fields.map(f =>
        StructField(f.name.toLowerCase, normalize(f.dataType))))
    case ArrayType(et, _) => ArrayType(normalize(et))
    case MapType(k, v, _) => MapType(normalize(k), normalize(v))
    case other => other
  }

  private def canon(v: Any): Any = v match {
    case t: java.sql.Timestamp => t.getTime
    case t: java.time.Instant => t.toEpochMilli
    case d: java.sql.Date => d.toString
    case f: java.lang.Float => f.toDouble
    case b: java.math.BigDecimal => b.doubleValue()
    case b: scala.math.BigDecimal => b.doubleValue
    case r: Row => r.toSeq.map(canon)
    case s: Seq[_] => s.map(canon)
    case x => x
  }

  /** Doubles compare with a small relative tolerance: our operators are
    * re-expressed Catalyst plans, not transcriptions, so last-ulp drift vs
    * the reference goldens is expected and fine. */
  private def valEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y ||
        math.abs(x - y) <= 1e-6 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => a == b
  }

  /** Bit-for-bit: doubles (also inside arrays and structs) compare by
    * boxed `Double.equals`, so NaN equals NaN and −0.0 is not 0.0. */
  private def exactEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.valueOf(x).equals(y)
    case (x: Seq[_], y: Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => exactEq(p, q) }
    case _ => a == b
  }

  private def sortKey(vals: Seq[Any]): String = vals.map {
    case d: Double => f"$d%.6f"
    case other => String.valueOf(other)
  }.mkString("")

  /** Equal schemas and equal row multisets; doubles within [[valEq]]'s
    * tolerance, or bit for bit ([[exactEq]]) with `exact`. */
  def assertDfEquality(actual: DataFrame, expected: DataFrame,
      exact: Boolean = false): Unit = {
    val eq: (Any, Any) => Boolean = if (exact) exactEq else valEq
    val aSchema = actual.schema.fields
      .map(f => f.name.toLowerCase -> normalize(f.dataType)).sortBy(_._1).toSeq
    val eSchema = expected.schema.fields
      .map(f => f.name.toLowerCase -> normalize(f.dataType)).sortBy(_._1).toSeq
    assert(aSchema == eSchema,
      s"schemas differ:\n  actual:   $aSchema\n  expected: $eSchema")
    val cols = expected.columns.sorted.toSeq
    def rowsOf(df: DataFrame): Seq[Seq[Any]] =
      df.select(cols.map(col): _*).collect().toSeq
        .map(_.toSeq.map(canon)).sortBy(sortKey)
    val aRows = rowsOf(actual)
    val eRows = rowsOf(expected)
    assert(aRows.size == eRows.size,
      s"row counts differ: actual ${aRows.size} vs expected ${eRows.size}")
    aRows.zip(eRows).zipWithIndex.foreach { case ((ar, er), i) =>
      val ok = ar.size == er.size && ar.zip(er).forall { case (a, b) => eq(a, b) }
      assert(ok, s"row $i differs (columns $cols):\n  actual:   $ar\n  expected: $er")
    }
  }

  def assertTsdfEquality(actual: tsdf.TSDF, expected: DataFrame): Unit =
    assertDfEquality(actual.df, expected)
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

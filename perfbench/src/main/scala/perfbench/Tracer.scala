package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ObjectConsumerExec, ObjectProducerExec, QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval. Times are epoch nanoseconds; `parent` is 0 at the root. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Any] = Map.empty)

/** Clock shared by the harness's spans and Spark's listener timestamps
  * (epoch milliseconds), so both nest on one time line. */
object Clock {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowNs: Long = epochNs0 + (System.nanoTime() - nano0)
}

/** The traced run's only instrument: one SparkListener and one
  * QueryExecutionListener, both outside the program. Jobs are attributed to
  * the harness span that was current on the submitting thread, through a
  * local property that streaming query threads inherit as well. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private var lastId = 0L
  val spans = mutable.ArrayBuffer[Span]()
  def newId(): Long = synchronized { lastId += 1; lastId }
  def add(s: Span): Unit = synchronized { spans += s }

  private final class StageRec(val id: Int, val name: String) {
    var submitMs, doneMs = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
    var runMs, cpuNs, gcMs, shWrite, shRead, fetchMs, spill, outRecords = 0L
  }
  private final case class JobRec(id: Int, parent: Long, startMs: Long,
      stageIds: Seq[Int], var endMs: Long = 0L)

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.HashMap[Int, StageRec]()
  private val executions = mutable.ArrayBuffer[(String, QueryExecution)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = JobRec(e.jobId, parent, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val r = stages.getOrElseUpdate(i.stageId, new StageRec(i.stageId, i.name))
    r.submitMs = i.submissionTime.getOrElse(0L)
    r.doneMs = i.completionTime.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId, ""))
    r.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.shWrite += m.shuffleWriteMetrics.bytesWritten
      r.shRead += m.shuffleReadMetrics.totalBytesRead
      r.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      r.spill += m.diskBytesSpilled
      r.outRecords += m.outputMetrics.recordsWritten
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { executions += funcName -> qe }
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Runs `body` inside a new span whose id tags the Spark jobs it submits. */
  def within[T](parent: Long, kind: String, name: String)(body: Long => T): T = {
    val id = newId()
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = Clock.nowNs
    try body(id)
    finally {
      add(Span(id, parent, kind, name, t0, Clock.nowNs))
      sc.setLocalProperty(SpanKey, saved)
    }
  }

  /** Waits for the listener bus, then turns everything Spark reported for
    * the given harness spans into job and stage spans plus one summary. */
  def collect(owners: Set[Long], timedAction: Long): Map[String, Any] = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val mine = jobs.values.filter(j => owners(j.parent)).toSeq
      mine.foreach(j => jobs.remove(j.id))
      val seen = mutable.HashSet[Int]()
      val ran = mutable.ArrayBuffer[StageRec]()
      mine.foreach { j =>
        val jobSpan = newId()
        spans += Span(jobSpan, j.parent, "job", s"job ${j.id}",
          j.startMs * 1000000L, j.endMs * 1000000L)
        j.stageIds.sorted.foreach { sid =>
          stages.remove(sid).filter(_ => seen.add(sid)).foreach { r =>
            ran += r
            spans += Span(newId(), jobSpan, "stage", s"stage $sid ${r.name}",
              r.submitMs * 1000000L, r.doneMs * 1000000L,
              Map("tasks" -> r.taskMs.size, "task_ms" -> r.runMs))
          }
        }
      }
      val qes = executions.toList
      executions.clear()
      // the timed write is the operation's last query execution; eager
      // actions while the query is constructed come before it
      val action = if (timedAction == 0L) None else qes.lastOption.map(_._2)
      val plan = action.map(qe => fingerprint(qe.executedPlan)).getOrElse(Map.empty)
      val planMs = action.map(_.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
      val longest = ran.filter(_.taskMs.nonEmpty).sortBy(r => r.doneMs - r.submitMs)
        .lastOption
      val skew = longest.map { r =>
        val t = r.taskMs.sorted
        t.last.toDouble / math.max(1L, t(t.size / 2))
      }.getOrElse(1.0)
      val intervals = mine.map(j => (j.startMs, j.endMs)).sorted
      val execMs = intervals.foldLeft((0L, Long.MinValue)) { case ((acc, end), (s, e)) =>
        if (e <= end) (acc, end) else (acc + e - math.max(s, end), e)
      }._1
      Map(
        "jobs" -> mine.size, "stages" -> ran.size, "tasks" -> ran.map(_.taskMs.size).sum,
        "exec_s" -> execMs / 1e3, "task_s" -> ran.map(_.runMs).sum / 1e3,
        "task_cpu_s" -> ran.map(_.cpuNs).sum / 1e9, "gc_s" -> ran.map(_.gcMs).sum / 1e3,
        "task_skew" -> skew,
        "shuffle_write_mb" -> ran.map(_.shWrite).sum / 1e6,
        "shuffle_read_mb" -> ran.map(_.shRead).sum / 1e6,
        "fetch_wait_s" -> ran.map(_.fetchMs).sum / 1e3,
        "spill_mb" -> ran.map(_.spill).sum / 1e6,
        "records_written" -> ran.map(_.outRecords).sum,
        "plan_s" -> planMs / 1e3, "plan" -> plan)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Every node of an executed plan, descending into AQE's final plan,
    * query stages and subqueries; reused exchanges are not re-entered. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  def fingerprint(p: SparkPlan): Map[String, Int] = {
    val all = nodes(p)
    Map(
      "exchanges" -> all.count(_.isInstanceOf[ShuffleExchangeLike]),
      "broadcasts" -> all.count(_.isInstanceOf[BroadcastExchangeLike]),
      "codegen_stages" -> all.count(_.isInstanceOf[WholeStageCodegenExec]),
      "sorts" -> all.count(_.isInstanceOf[SortExec]),
      "object_ops" -> all.count {
        case _: ObjectProducerExec | _: ObjectConsumerExec => true
        case _ => false
      })
  }
}

package e2ebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are epoch milliseconds
  * (fractional for the benchmark's own spans, whole for Spark's events). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, var endMs: Double, attrs: mutable.Map[String, Any] = mutable.Map.empty)

/** Clock shared by spans and Spark events: epoch ms at nanoTime
  * resolution, so op spans and listener timestamps are comparable. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Collects spans in memory: op and phase spans opened by the
  * benchmark, and Spark job/stage spans from a listener. A job attaches
  * to the phase span named by the `e2ebench.span` local property the
  * benchmark sets before each phase (Spark copies local properties into
  * every job it starts); a stage attaches to its job. Also a
  * `QueryExecutionListener`, so the measured action's own
  * `QueryExecution` (its planning tracker and final AQE plan) is read
  * after it ran, never re-planned. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val ids = new AtomicLong(0)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val jobSpans = new ConcurrentHashMap[Int, Span]()
  private val stageSpans = new ConcurrentHashMap[(Int, Int), Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()
  private val executions = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]())

  def open(parent: Long, kind: String, name: String): Span = {
    val s = Span(ids.incrementAndGet(), parent, kind, name, Clock.nowMs, Double.NaN)
    spans.add(s)
    s
  }
  def close(s: Span): Unit = s.endMs = Clock.nowMs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty("e2ebench.span"))).map(_.toLong).getOrElse(0L)
    val s = Span(ids.incrementAndGet(), parent, "job", e.jobId.toString, e.time.toDouble, Double.NaN)
    s.attrs("phase") = props.flatMap(p => Option(p.getProperty("e2ebench.phase"))).getOrElse("")
    spans.add(s)
    jobSpans.put(e.jobId, s)
    e.stageIds.foreach(st => stageJob.put(st, s))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpans.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    val parent = Option(stageJob.get(info.stageId)).map(_.id).getOrElse(0L)
    val s = Span(ids.incrementAndGet(), parent, "stage", s"${info.stageId}.${info.attemptNumber()}",
      info.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs), Double.NaN)
    Seq("tasks", "task_run_ms", "task_cpu_ns", "task_wait_ms", "shuffle_write_bytes",
      "shuffle_read_bytes", "spill_bytes", "input_bytes", "input_rows").foreach(s.attrs(_) = 0L)
    spans.add(s)
    stageSpans.put((info.stageId, info.attemptNumber()), s)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpans.get((e.stageInfo.stageId, e.stageInfo.attemptNumber()))).foreach { s =>
      s.endMs = e.stageInfo.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpans.get((e.stageId, e.stageAttemptId))).foreach { s =>
      def add(k: String, v: Long): Unit = s.attrs(k) = s.attrs(k).asInstanceOf[Long] + v
      s.synchronized {
        add("tasks", 1L)
        add("task_wait_ms", math.max(0L, e.taskInfo.launchTime - s.startMs.toLong))
        Option(e.taskMetrics).foreach { m =>
          add("task_run_ms", m.executorRunTime)
          add("task_cpu_ns", m.executorCpuTime)
          add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          add("input_bytes", m.inputMetrics.bytesRead)
          add("input_rows", m.inputMetrics.recordsRead)
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    executions.synchronized(executions.add(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Was `qe` reported to the listener (i.e. is it a finished action)? */
  def observed(qe: QueryExecution): Boolean =
    executions.synchronized(executions.remove(qe))

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** What a finished action's `QueryExecution` says about planning and the
  * final plan it ran. */
object PlanFacts {
  /** Catalyst phase times (s) from the action's own planning tracker. */
  def phases(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }

  /** Every operator of the final plan, descending through AQE stages
    * and subqueries. */
  def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case s: QueryStageExec => s +: operators(s.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(operators)
  }

  def counts(qe: QueryExecution): Map[String, Long] = {
    val ops = operators(qe.executedPlan)
    def n(cls: String) = ops.count(_.getClass.getSimpleName == cls).toLong
    val files = ops.map {
      case b: BatchScanExec => b.inputPartitions.size.toLong
      case o => o.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    Map("exchanges" -> n("ShuffleExchangeExec"), "smj" -> n("SortMergeJoinExec"),
      "bhj" -> n("BroadcastHashJoinExec"), "scan_files" -> files)
  }
}

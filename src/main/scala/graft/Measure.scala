package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** The measurement core of graft.Bench, graft.MatchedBench and
  * graft.ScaleProbe: one session, the JIT preamble, the host-speed
  * probes, isolation between runs, the timed run with its per-layer
  * record, and one failure policy.
  *
  * A timed run is the DataFrame's construction plus a noop-sink WRITE.
  * Construction is inside the clock because iterative operators do real
  * work (eager checkpoints, observes, collects) while the frame is built.
  * The action is a write, not count(): under count(), ColumnPruning drops
  * every projected column and EliminateSorts the top-level sort, so
  * projection-heavy queries would be timed as little more than a scan;
  * the noop sink consumes complete rows of the plan Verify gates.
  *
  * @param tag         log prefix, and the app name's suffix
  * @param defaultCpus `SPARK_GRAFT_CPUS` when unset: cores and shuffle partitions
  * @param defaultSf   `SPARK_GRAFT_SF_DIR` when unset
  * @param existing    a session to measure in instead of building one
  */
final class Measure(tag: String, defaultCpus: String, defaultSf: String,
    existing: Option[SparkSession] = None) {
  import Measure._

  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", defaultSf)
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus).toInt

  private val jobs, stages, tasks, shuffleWrite, shuffleRead, spill = new AtomicLong
  @volatile private var lastAction: QueryExecution = null
  // registered once per session: Spark's job/stage/task counters, and
  // the QueryExecution of the last finished action (for the write, its
  // own planning tracker and final plan — read, never re-planned)
  private object listener extends SparkListener with QueryExecutionListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(e.stageInfo.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lastAction = qe
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var session: SparkSession = existing.getOrElse(build())
  listen(session)
  def spark: SparkSession = session

  private def build(): SparkSession = {
    val s = Engine.configure(
      SparkSession.builder().master(s"local[$cpus]").appName(s"graft-$tag"), cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private def listen(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(listener)
  }
  private def counters(): Array[Long] =
    Array(jobs, stages, tasks, shuffleWrite, shuffleRead, spill).map(_.get)
  private def drain(): Unit = ListenerBridge.drain(session.sparkContext)

  def log(msg: String): Unit = System.err.println(s"[$tag] $msg")

  /** One timed run of `mk`, then [[isolate]]. The layer record comes from
    * this run alone; the listener bus is drained (outside the clock)
    * between construction and the write so each side gets its own jobs. */
  def run(mk: => DataFrame): Reading = {
    val (cg0, c0, t0) = (CodeGenerator.compileTime, counters(), System.nanoTime())
    val df = mk
    val construct = (System.nanoTime() - t0) / 1e9
    drain()
    val c1 = counters()
    lastAction = null
    val t1 = System.nanoTime()
    noop(df)
    val write = (System.nanoTime() - t1) / 1e9
    drain()
    val (cg1, c2, qe) = (CodeGenerator.compileTime, counters(), lastAction)
    isolate()
    def phase(p: String): Double =
      Option(qe).flatMap(_.tracker.phases.get(p)).fold(0.0)(_.durationMs / 1e3)
    val catalyst = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).map(phase)
    val exec = c1.zip(c2).map { case (a, b) => (b - a).toDouble }
    Reading(construct + write, ListMap(
      "construct.s" -> construct,
      "construct.jobs" -> (c1(0) - c0(0)).toDouble,
      "catalyst.analysis_s" -> catalyst(0),
      "catalyst.optimization_s" -> catalyst(1),
      "catalyst.planning_s" -> catalyst(2),
      "codegen.compile_s" -> (cg1 - cg0) / 1e9,
      "exec.s" -> math.max(0.0, write - catalyst.sum),
      "exec.jobs" -> exec(0),
      "exec.stages" -> exec(1),
      "exec.tasks" -> exec(2),
      "exec.shuffle_write_bytes" -> exec(3),
      "exec.shuffle_read_bytes" -> exec(4),
      "exec.spill_bytes" -> exec(5),
      "plan.exchanges" -> Option(qe).fold(-1)(q => exchanges(q.executedPlan)).toDouble))
  }

  /** Drops every frame the previous run persisted, so a run pays for its
    * own cache builds and never inherits (or evicts) another's storage.
    * clearCache covers only the CacheManager; localCheckpoint blocks are
    * freed by the ContextCleaner on GC, so a GC runs when persisted
    * blocks exist — and only then: an unconditional full GC per run was
    * itself a measurable slice of the suite's wall. */
  def isolate(): Unit = {
    spark.catalog.clearCache()
    if (spark.sparkContext.getPersistentRDDs.nonEmpty) System.gc()
  }

  /** The failure policy: a throw is logged and reads None (reported as
    * −1). If it killed the context — an executor OOM in local mode does —
    * the session is rebuilt, so one row's death does not turn every
    * later row into a bogus −1. */
  def guard[T](label: String)(body: => T): Option[T] =
    try Some(body) catch { case e: Throwable =>
      log(s"$label failed: ${e.getMessage}")
      if (session.sparkContext.isStopped) {
        log("context died — recreating session")
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        session = build()
        listen(session)
      }
      None
    }

  /** JIT preamble: exercises the scan/agg/join/sort/window paths twice so
    * the first measured rows are not taxed for warming the interpreter
    * and C2 tiers that later rows inherit (without it, a row's number
    * depends on its position in the suite). */
  def warmJit(): Unit = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    for (_ <- 1 to 2) {
      noop(li.filter(col("l_quantity") > 0)
        .groupBy("l_returnflag").agg(sum("l_quantity"), approx_count_distinct("l_partkey"))
        .orderBy("l_returnflag"))
      noop(li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"),
          row_number().over(Window.partitionBy("o_custkey").orderBy("l_orderkey")).as("rk"))
        .filter(col("rk") <= 2))
    }
    spark.catalog.clearCache()
  }

  // Host-speed probes (BASELINE.md §Calibration): fixed, data-independent
  // work whose runtime tracks host/JVM throughput, not engine changes —
  // dividing a row by the same session's probe separates engine
  // regressions from machine phase. `calibration` is a 200M-row range
  // through two xxhash64 chains into one bit_xor (codegen'd, no I/O, no
  // shuffle). `calibrationSustained` is 10× that work in ONE burst:
  // sustained background load slips between short bursts. The shuffle
  // probe is one full exchange write+read over 40M keyed rows plus the
  // scheduler round-trips, a path no compute probe sees.
  private def hashBurst(rows: Long): Double = seconds(noop(spark.range(0L, rows, 1L, cpus)
    .selectExpr("xxhash64(id) AS h").selectExpr("bit_xor(xxhash64(h)) AS s")))
  private def warmMedian3(name: String, probe: () => Double): Double = {
    probe()
    val ts = Seq.fill(3)(probe()).sorted
    log(f"$name median=${ts(1)}%8.3f (${ts.mkString(", ")})")
    ts(1)
  }
  /** The ~100-150 ms sustained compute burst that brackets re-measurements. */
  def microProbe(): Double = hashBurst(200000000L)
  def calibration(): Double = warmMedian3("calibration", () => microProbe())
  def calibrationSustained(): Double = {
    val t = hashBurst(2000000000L)
    log(f"calibration_sustained=$t%8.3f")
    t
  }
  def calibrationShuffle(): Double = warmMedian3("calibration_shuffle", () =>
    seconds(noop(spark.range(0L, 40000000L, 1L, cpus).selectExpr("id % 4000000 AS k")
      .repartition(col("k")).groupBy("k").agg(count(lit(1)).as("n")))))
}

object Measure {
  /** One timed run: wall seconds and its per-layer record, keyed by the
    * per-layer names of BENCHMARK.json. */
  final case class Reading(wall: Double, layers: ListMap[String, Double])

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Shuffle exchanges in a plan, through AQE's final plan, its query
    * stages and subqueries. Broadcasts are not shuffles. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case o => (o.children ++ o.subqueries).map(exchanges).sum
  }

  /** 3-decimal rendering for the stdout line. */
  def fmt3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** A JSON object: values print as they are (strings unquoted, so a
    * nested object passes through), whole doubles as integers. */
  def json(kvs: Iterable[(String, Any)]): String = kvs.map { case (k, v) =>
    "\"" + k + "\":" + (v match { case d: Double if d.isWhole => d.toLong; case x => x })
  }.mkString("{", ",", "}")

  /** The stdout contract line, fitted to `budget` chars (the driver keeps
    * a 2000-char output tail; sbt appends one line). Rows fold cheapest
    * first into `other_sum`/`other_n`: every row under 0.3 s (harness
    * floor readings), then one more at a time until the line fits.
    * Failures (−1) and `pinned` rows never fold; `cold` readings always
    * do. `readings` is the adjudication evidence, in-line only as
    * {row: [readings]} and inside the budget from the first try.
    * `head` and `tail` are the JSON text around adjudications/queries. */
  def fitLine(head: String, rows: Seq[(String, Double)], pinned: Seq[(String, Double)],
      cold: Seq[Double], readings: Seq[(String, Seq[Double])], tail: String,
      budget: Int = 1900): String = {
    val adj = if (readings.isEmpty) "" else readings.map { case (k, rs) =>
      "\"" + k + "\":" + rs.map(fmt3).mkString("[", ",", "]")
    }.mkString(""","adjudications":{""", ",", "}")
    val cheapestFirst = rows.filter(_._2 >= 0).sortBy(_._2).map(_._1)
    def line(nFold: Int): String = {
      val folded = cheapestFirst.take(nFold).toSet
      val (out, in) = rows.partition(r => folded(r._1))
      val other = if (out.isEmpty && cold.isEmpty) Nil else Seq(
        "\"other_sum\":" + fmt3(out.map(_._2).sum + cold.sum), "\"other_n\":" + (out.size + cold.size))
      val qs = ((in ++ pinned).map { case (k, v) => "\"" + k + "\":" + fmt3(v) } ++ other)
      head + adj + qs.mkString(""","queries":{""", ",", "}") + tail
    }
    val floor = rows.count(r => r._2 >= 0 && r._2 < 0.3)
    (floor to cheapestFirst.size).iterator.map(line).find(_.length <= budget)
      .getOrElse(line(cheapestFirst.size))
  }
}

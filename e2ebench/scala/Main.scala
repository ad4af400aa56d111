package e2ebench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
import org.apache.spark.e2ebench.TraceBus

import graft.{Engine, Queries, SparkEntry, SqlFrontEnd, Tables}
import graft.sources.Snapshots

/** The JVM half of the benchmark: one Spark session at `local[cores]`
  * and one closed-loop client that runs a pre-generated op plan until
  * the time budget is spent. It writes what it saw (op latencies, op
  * results, setup samples, counters and, when traced, spans) to `--out`;
  * `run.py` checks the results and turns the records into metrics.
  *
  * Usage: e2ebench.Main --workload W --data DIR --plan FILE --out DIR
  *          --seconds S --trace 0|1 --cores N --work DIR
  */
object Main {
  private val mapper = new ObjectMapper()
  val nSetups = 3
  private val t0 = System.nanoTime()
  def log(what: String): Unit = System.err.println(f"[e2ebench] $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")

  final case class Args(workload: String, data: String, plan: String, out: String,
      seconds: Double, trace: Boolean, cores: Int, work: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("data"), kv("plan"), kv("out"), kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, kv("work"))
    new File(a.out).mkdirs()
    val plan = scala.io.Source.fromFile(a.plan).getLines().map(mapper.readTree).toIndexedSeq
    val bench = a.workload match {
      case "dashboard" => new Dashboard(a)
      case "batch_x10" => new Batch(a)
      case "lake_ingest" => new Lake(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val (warm, timed) = plan.partition(_.has("warmup"))
    bench.warm = warm
    bench.run(timed)
  }
}

/** Shared loop: set-up samples, the timed section(s), records out. */
abstract class Workload(val a: Main.Args) {
  var spark: SparkSession = _
  val out = new PrintWriter(new File(a.out, "ops.jsonl"))
  val tracer = new Tracer
  var traced = false
  var section = "untraced"
  var warm: Seq[JsonNode] = Nil
  private var opSpan: Span = _
  val counters = mutable.LinkedHashMap.empty[String, Any]

  /** Start a fresh session; returns its start time in seconds. */
  def startSession(): Double = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val t0 = System.nanoTime()
    spark = Engine.configure(
      SparkSession.builder().master(s"local[${a.cores}]").appName("e2ebench")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
        .config("spark.driver.host", "localhost"),
      a.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val s = (System.nanoTime() - t0) / 1e9
    if (traced) tracer.register(spark)
    s
  }

  /** Table binding and warm-up after the session start (workload-specific). */
  def bindAndWarm(setup: Int): Unit

  /** Run one planned op; returns its result record (checked by run.py). */
  def runOp(op: JsonNode): Map[String, Any]

  /** Hooks around each op, outside the timed wall (batch: a fresh
    * session per pass; lake: bytes the commit wrote). */
  def beforeOp(op: JsonNode): Unit = ()
  def afterOp(op: JsonNode): Unit = ()

  def finish(): Unit = ()

  def phase[T](name: String)(f: => T): T =
    if (!traced) f
    else {
      val s = tracer.open(opSpan.id, name, name)
      spark.sparkContext.setLocalProperty("e2ebench.span", s.id.toString)
      spark.sparkContext.setLocalProperty("e2ebench.phase", name)
      try f finally {
        tracer.close(s)
        spark.sparkContext.setLocalProperty("e2ebench.span", null)
        spark.sparkContext.setLocalProperty("e2ebench.phase", null)
      }
    }

  /** Collect a measured action and record what its QueryExecution says. */
  def act(df: DataFrame): Array[Row] = {
    val rows = phase("action")(df.collect())
    if (traced) {
      TraceBus.drain(spark)
      val qe = df.queryExecution
      if (tracer.observed(qe)) {
        opSpan.attrs ++= PlanFacts.phases(qe).map { case (k, v) => s"catalyst_$k" -> v }
        opSpan.attrs ++= PlanFacts.counts(qe)
      }
      opSpan.attrs("rows_out") = rows.length.toLong
    }
    rows
  }

  def rowsRecord(df: DataFrame, rows: Array[Row]): Map[String, Any] =
    Map("columns" -> df.columns.toSeq, "rows" -> rows.toSeq.map(r => r.toSeq))

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Fixed single-thread compute burst (no Spark): tracks host speed only. */
  private def probe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Timed section: ops from `from` until `seconds` elapsed; returns next index. */
  private def timed(plan: IndexedSeq[JsonNode], from: Int): Int = {
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val (cg0, ct0, gc0) = (codegen.getCount, org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.compileTime, gcSeconds)
    val probeBefore = probe()
    var wall = 0.0
    var i = from
    def round(j: Int) = plan(j).get("round").asInt
    // whole rounds only: past the budget, finish the round in progress
    while (wall < a.seconds || (i > from && i < plan.size && round(i) == round(i - 1))) {
      require(i < plan.size, s"op plan exhausted after ${i - from} ops; generate a longer plan")
      val op = plan(i)
      beforeOp(op)
      if (traced) {
        opSpan = tracer.open(0L, "op", op.get("name").asText)
        spark.sparkContext.setJobGroup(s"op-$i", op.get("name").asText, interruptOnCancel = false)
      }
      val t0 = System.nanoTime()
      var failed: String = null
      val rec = try runOp(op) catch {
        case e: Exception => failed = s"${e.getClass.getSimpleName}: ${e.getMessage}"; Map.empty[String, Any]
      }
      val lat = (System.nanoTime() - t0) / 1e9
      wall += lat
      if (traced) { tracer.close(opSpan); spark.sparkContext.clearJobGroup() }
      afterOp(op)
      out.println(Json.obj((Seq("section" -> section, "i" -> i, "kind" -> op.get("kind").asText,
        "name" -> op.get("name").asText, "lat_s" -> lat, "error" -> failed) ++ rec.toSeq): _*))
      i += 1
    }
    val probeAfter = probe()
    val ct1 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    counters(s"$section.wall_s") = wall
    counters(s"$section.ops") = (i - from).toLong
    counters(s"$section.codegen_compiles") = codegen.getCount - cg0
    counters(s"$section.codegen_compile_s") = (ct1 - ct0) / 1e9
    counters(s"$section.gc_s") = gcSeconds - gc0
    counters(s"$section.probe_s") = probeBefore + probeAfter
    i
  }

  def run(plan: IndexedSeq[JsonNode]): Unit = {
    val setups = (1 to Main.nSetups).map { k =>
      val t0 = System.nanoTime()
      val session = startSession()
      bindAndWarm(k)
      ((System.nanoTime() - t0) / 1e9, session)
    }
    Main.log("set up")
    counters("setup_s") = setups.map(_._1)
    counters("session_start_s") = setups.map(_._2)
    counters("oracle_sql") = plan.map(_.get("name").asText).distinct
      .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    var next = timed(plan, 0)
    Main.log("timed")
    if (a.trace) {
      // traced round, then an untraced one at the same JVM warmth to
      // compare it with (the first round pays the JVM's warm-up)
      traced = true; section = "traced"
      tracer.register(spark)
      next = timed(plan, next)
      TraceBus.drain(spark)
      tracer.unregister(spark)
      traced = false; section = "after"
      next = timed(plan, next)
      val sp = new PrintWriter(new File(a.out, "spans.jsonl"))
      tracer.spans.asScala.foreach { s =>
        sp.println(Json.obj((Seq("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs.toSeq): _*))
      }
      sp.close()
    }
    out.close()
    finish()
    Main.log("finished")
    counters("peak_rss_mb") = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    counters("spark_version") = spark.version
    counters("jvm_version") = System.getProperty("java.version")
    spark.stop()
    val cw = new PrintWriter(new File(a.out, "counters.json"))
    cw.println(Json.obj(counters.toSeq: _*))
    cw.close()
  }
}

/** Dashboard SQL through the SQL front end, and registry DataFrame rows
  * of the same shape, on one fixture directory. */
final class Dashboard(a: Main.Args) extends Workload(a) {
  /** Table binding (the events footer sniff) and the plan's warm-up ops,
    * whose literals lie outside the timed ops' domain. */
  override def bindAndWarm(setup: Int): Unit = {
    Tables.eventsRawSchema(spark, a.data)
    warm.foreach(runOp)
  }

  private val registryText = Map(
    "sql_dashboard" -> Queries.sqlDashboardText,
    "dashboard_uploads_monthly" -> Queries.dashboardUploadsMonthlyText,
    "dashboard_study_rollup" -> Queries.dashboardStudyRollupText,
    "dashboard_segment_geo" -> Queries.dashboardSegmentGeoText)

  override def runOp(op: JsonNode): Map[String, Any] = {
    val df = op.get("kind").asText match {
      case "sql" =>
        val text = if (op.has("sql")) op.get("sql").asText else registryText(op.get("name").asText)
        phase("sqlfrontend")(SqlFrontEnd.run(spark, a.data, text))
      case "registry" => phase("construct")(SparkEntry.queries(op.get("name").asText)(spark, a.data))
    }
    rowsRecord(df, act(df))
  }
}

/** One pass of curation and graph kernels per fresh session. */
final class Batch(a: Main.Args) extends Workload(a) {
  private var pass = -1

  override def bindAndWarm(setup: Int): Unit = {
    Tables.eventsRawSchema(spark, a.data)
    Seq("lineitem", "orders", "documents", "embeddings").foreach(n =>
      spark.read.parquet(s"${a.data}/$n.parquet").schema)
  }

  override def beforeOp(op: JsonNode): Unit = {
    val p = op.get("round").asInt
    if (pass >= 0 && p != pass) {
      startSession()
      bindAndWarm(0)
    }
    pass = p
  }

  override def runOp(op: JsonNode): Map[String, Any] = {
    val df = phase("construct")(SparkEntry.queries(op.get("name").asText)(spark, a.data))
    rowsRecord(df, act(df))
  }
}

/** A long-lived snapshot table under a seeded stream of commits and reads. */
final class Lake(a: Main.Args) extends Workload(a) {
  private var root: String = _
  private lazy val batches: Map[Int, Array[Row]] = {
    val df = spark.read.parquet(s"${a.data}/batches.parquet")
    df.collect().groupBy(_.getAs[Long]("batch").toInt)
  }
  private lazy val eventSchema =
    spark.read.parquet(s"${a.data}/base.parquet").schema
  private lazy val deleteSchema =
    spark.read.parquet(s"${a.data}/base.parquet").select("event_id").schema
  private val compactFiles = 4
  private var userRows = 0L
  private val seenFiles = mutable.HashSet.empty[String]
  private var bytesWritten = 0L
  private val deleteFilesAtRead = mutable.ArrayBuffer.empty[Long]
  private val keptFrac = mutable.ArrayBuffer.empty[Double]
  private var input: DataFrame = _   // the next commit's rows, built outside timing

  private def range(op: JsonNode) = (op.get("lo").asLong, op.get("hi").asLong)
  private def rangeFilters(op: JsonNode) = {
    val (lo, hi) = range(op)
    Seq(GreaterThanOrEqual("event_id", lo), LessThan("event_id", hi))
  }

  override def bindAndWarm(setup: Int): Unit = {
    root = s"${a.work}/lake/table-$setup"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    Snapshots.commitAppend(spark, root, spark.read.parquet(s"${a.data}/base.parquet"))
    seenFiles.clear()
    newFileBytes()
    batches.size
    summary(Snapshots.readSnapshot(spark, root)).collect()
  }

  /** Bytes of data and delete files not seen before (listed outside timing). */
  private def newFileBytes(): Long = {
    var n = 0L
    for (sub <- Seq("data", "deletes")) {
      val p = new Path(root, sub)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val st = it.next()
          if (!st.getPath.getName.startsWith(".") && seenFiles.add(st.getPath.toString)) n += st.getLen
        }
      }
    }
    n
  }

  /** Outside timing: the commit's input frame, and the read's table state. */
  override def beforeOp(op: JsonNode): Unit = op.get("kind").asText match {
    case "append" | "merge" =>
      val rows = batches(op.get("batch").asInt).toSeq.map { r =>
        Row.fromSeq(eventSchema.fieldNames.toSeq.map(n => r.get(r.fieldIndex(n))))
      }
      userRows += rows.size
      input = spark.createDataFrame(rows.asJava, eventSchema)
    case "delete" =>
      val keys = batches(op.get("batch").asInt).toSeq.map(r => Row(r.getAs[Long]("event_id")))
      input = spark.createDataFrame(keys.asJava, deleteSchema)
    case read if read.startsWith("read") =>
      deleteFilesAtRead += liveDeleteFiles()
      if (read == "read_pruned") {
        val (kept, total) = Snapshots.pruneCounts(spark, root, rangeFilters(op))
        keptFrac += (if (total == 0) 1.0 else kept.toDouble / total)
      }
    case _ =>
  }

  override def afterOp(op: JsonNode): Unit =
    if (!op.get("kind").asText.startsWith("read")) bytesWritten += newFileBytes()

  private def summary(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
      sum(col("user_id")).as("sum_user"),
      sum(round(col("value") * 100).cast("long")).as("sum_cents"))

  private def liveDeleteFiles(): Long = {
    val v = Snapshots.currentVersion(spark, root)
    val f = new File(f"$root/_manifests/v$v%05d.list")
    scala.io.Source.fromFile(f).getLines().count(_.startsWith("D\t")).toLong
  }

  private def one(df: DataFrame): Map[String, Any] = {
    val r = act(df).head
    Map("n" -> r.getLong(0), "sum_id" -> r.get(1), "sum_user" -> r.get(2), "sum_cents" -> r.get(3))
  }

  override def runOp(op: JsonNode): Map[String, Any] = {
    val kind = op.get("kind").asText
    kind match {
      case "append" =>
        Map("version" -> phase("commit")(Snapshots.commitAppend(spark, root, input)))
      case "merge" =>
        Map("version" -> phase("commit")(Snapshots.commitMerge(spark, root, input, Seq("event_id"))))
      case "delete" =>
        Map("version" -> phase("commit")(Snapshots.commitDelete(spark, root, input)))
      case "compact" =>
        val v = phase("commit") {
          val v = Snapshots.commitReplaceClustered(spark, root, Seq("event_id"), compactFiles)
          Snapshots.vacuum(spark, root, v - 1)
          v
        }
        Map("version" -> v)
      case "read_full" =>
        one(phase("construct")(summary(Snapshots.readSnapshot(spark, root))))
      case "read_pruned" =>
        one(phase("construct")(summary(Snapshots.readSnapshotPruned(spark, root, rangeFilters(op)))))
      case "read_dsv2" =>
        val (lo, hi) = range(op)
        one(phase("construct")(summary(
          spark.read.format("graft.sources.v2.SnapshotBatchSource").option("root", root).load()
            .filter(col("event_id") >= lo && col("event_id") < hi))))
      case "read_diff" =>
        val v = Snapshots.currentVersion(spark, root)
        val df = phase("construct")(Snapshots.snapshotDiff(spark, root, v - 1, v)
          .groupBy("change").agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
            sum(round(col("value") * 100).cast("long")).as("sum_cents")))
        val rows = act(df)
        Map("from" -> (v - 1), "to" -> v, "changes" -> rows.toSeq.map(r =>
          Map("change" -> r.getString(0), "n" -> r.getLong(1), "sum_id" -> r.get(2), "sum_cents" -> r.get(3))))
    }
  }

  override def finish(): Unit = {
    // outside timing: the live rows written once as compacted parquet
    val live = s"${a.work}/lake/live"
    Snapshots.readSnapshot(spark, root).repartitionByRange(compactFiles, col("event_id"))
      .sortWithinPartitions("event_id").write.mode("overwrite").parquet(live)
    def bytes(dir: String, sub: String = ""): Long = {
      val p = if (sub.isEmpty) new Path(dir) else new Path(dir, sub)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0L
      else {
        val it = fs.listFiles(p, true)
        var n = 0L
        while (it.hasNext) { val s = it.next(); if (!s.getPath.getName.startsWith(".")) n += s.getLen }
        n
      }
    }
    val liveRows = Snapshots.readSnapshot(spark, root).count()
    counters("lake.root_bytes") = bytes(root)
    counters("lake.live_bytes") = bytes(live)
    counters("lake.live_rows") = liveRows
    counters("lake.manifest_bytes") = bytes(root, "_manifests")
    counters("lake.user_rows") = userRows
    counters("lake.bytes_written") = bytesWritten
    counters("lake.delete_files_at_read") = deleteFilesAtRead.toSeq
    counters("lake.files_kept_frac") = keptFrac.toSeq
    counters("lake.compact_files") = compactFiles.toLong
  }
}

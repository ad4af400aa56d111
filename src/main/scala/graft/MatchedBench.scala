package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The BASELINE.md matched-suite comparison, apples-to-apples (round-7
  * verdict ask #1).
  *
  * Earlier rounds measured the plain-Spark baseline in a separate
  * spark-shell JVM minutes apart from the engine run, and the baseline
  * queries returned leaner, unordered output — so four sub-second rows
  * compared an engine query carrying a total ORDER BY + 4-decimal rounding
  * against a baseline doing strictly less work, in a different machine
  * phase. This main removes both asymmetries:
  *
  *  - ONE JVM, ONE SparkSession: each matched pair runs back-to-back
  *    (baseline, then engine) so machine-phase drift cannot land on one
  *    side of the table. Config is the engine's own (local[4]-style,
  *    shuffle=4 by default) applied to BOTH sides equally.
  *  - IDENTICAL output contract, asserted not claimed: before timing, each
  *    pair's two DataFrames are collected once and compared row-for-row
  *    (both carry a total ORDER BY, so plain equality) — a baseline query
  *    that does less work than its engine twin fails the run.
  *
  * The baseline closures below use ONLY `org.apache.spark.sql.functions`
  * and `spark.read.parquet` — no graft operators, kernels, or Tables
  * schemas — i.e. what a competent user writes against stock Spark.
  * Methodology is graft.Bench's, on the shared graft.Measure core:
  * noop-sink write, JIT preamble, warm run untimed, isolation between
  * timed runs, fixed-work calibration probe for cross-round
  * normalization.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=4 \
  *        sbt "runMain graft.MatchedBench"
  */
object MatchedBench {

  private def r4(c: Column): Column = floor(c * 10000 + 0.5) / lit(10000.0)

  /** Plain-Spark twins of the matched engine queries (10 parity rows +
    * 2 design-delta rows, pagerank/span-dedup), same output contract
    * (columns, rounding, total ORDER BY) as the gated forms. */
  def baselines(spark: SparkSession, sf: String): Seq[(String, String, () => DataFrame)] = {
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val customer = spark.read.parquet(s"$sf/customer.parquet")
    val events = {
      val raw = spark.read.parquet(s"$sf/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => raw
        case _ => raw.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      }
    }
    val documents = spark.read.parquet(s"$sf/documents.parquet")
    val embeddings = spark.read.parquet(s"$sf/embeddings.parquet")

    def q1 = lineitem.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        r4(sum("l_quantity")).as("sum_qty"),
        r4(sum("l_extendedprice")).as("sum_base_price"),
        r4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
        r4(avg("l_quantity")).as("avg_qty"),
        r4(avg("l_extendedprice")).as("avg_price"),
        r4(avg("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

    def q3 = lineitem.filter(col("l_shipdate") > lit("1996-01-01").cast("timestamp_ntz"))
      .join(orders.filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp_ntz")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(r4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc).limit(10)

    def winRank = orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")

    def distinctApprox = lineitem.groupBy("l_returnflag")
      .agg(approx_count_distinct("l_partkey").as("approx_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

    def rollupQ = orders.rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), r4(sum("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

    def jsonExtract = events
      .groupBy(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .agg(count(lit(1)).as("n"), r4(avg("value")).as("avg_value"))
      .orderBy(col("k").asc_nulls_first)

    def sessionWin = events
      .groupBy(session_window(timestamp_seconds(expr("ts div 1000000000")), "1800 seconds"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").cast("long").as("session_start"),
        col("n_events"))
      .orderBy("user_id", "session_start")

    def dedupExact = documents
      .groupBy(md5(lower(trim(col("text")))).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("text_hash")

    def topkCosine = {
      def dot(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (s, x) => s + x)
      def nrm(a: Column): Column =
        sqrt(aggregate(a, lit(0.0), (s, x) => s + x.cast("double") * x.cast("double")))
      val q = embeddings.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), nrm(col("embedding")).as("qn"))
      embeddings.crossJoin(broadcast(q))
        .select(col("vec_id"),
          r4(dot(col("embedding"), col("qe")) / (nrm(col("embedding")) * col("qn"))).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc).limit(11)
    }

    def unionAll = orders
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(col("o_orderkey").as("k"))
      .union(orders
        .filter(col("o_orderpriority").isin("2-HIGH", "3-MEDIUM")).select(col("o_orderkey").as("k")))
      .orderBy("k")

    // The textbook plain-Spark iterative recipe: per-round eager
    // localCheckpoint (the standard guard against iterative lineage
    // growth), per-round |V| left join against the node set. Identical
    // arithmetic and rounding to the engine form, so outputs are equal
    // row-for-row; what's measured is the DESIGN delta (engine: one lazy
    // DAG, no-in-edge set precomputed, one shuffle per round).
    def pagerankNaive = {
      val e0 = lineitem
        .select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val ed = e0.union(e0.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      val nodes = ed.select(col("src").as("node"))
        .union(ed.select(col("dst").as("node"))).distinct().localCheckpoint(true)
      val ew = ed.join(ed.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
        .localCheckpoint(true)
      val n = nodes.count()
      def r8(c: Column): Column = floor(c * 100000000L + 0.5) / lit(100000000.0)
      var ranks = nodes.withColumn("rank", r8(lit(1.0) / lit(n.toDouble)))
        .localCheckpoint(true)
      for (_ <- 1 to 6) {
        // same grid-quantized integer contribution sums as the engine
        // (round-9 ADVICE fix) — the design delta under test is the
        // eager-per-round plan vs the lazy DAG, not the arithmetic
        val contrib = ranks.join(ew, ranks("node") === ew("src"))
          .select(col("dst").as("node"),
            floor(col("rank") * lit(100000000L) / col("outdeg") + lit(0.5))
              .cast("long").as("wq"))
          .groupBy("node").agg(sum(col("wq")).as("wq"))
        ranks = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            r8(lit(1.0 - 0.85) / lit(n.toDouble)
              + lit(0.85) * (coalesce(col("wq"), lit(0L)).cast("double")
                / lit(100000000.0))).as("rank"))
          .localCheckpoint(true)
      }
      ranks.orderBy("node")
    }

    // The straightforward user span dedup: explode every token, rebuild
    // tiles with a sorted collect, elect winners by windowing over the
    // tile TEXT itself (text crosses every shuffle), join the kept tiles
    // back and re-aggregate the text. Same output as the engine form,
    // which ships only digests+ids and re-derives text narrowly.
    def spanDedupNaive = {
      val toks = documents.select(col("doc_id"), split(lower(col("text")), "\\s+").as("ts"))
      val tiles = toks
        .select(col("doc_id"), posexplode(col("ts")))
        .select(col("doc_id"), (col("pos") / 10).cast("int").as("tile_idx"),
          col("pos"), col("col"))
        .groupBy("doc_id", "tile_idx")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("col")))),
          s => s.getField("col")), " ").as("tile_text"))
      val kept = tiles
        .withColumn("rn", row_number().over(
          Window.partitionBy("tile_text").orderBy("doc_id", "tile_idx")))
        .filter(col("rn") === 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("tile_idx"), col("tile_text")))),
            s => s.getField("tile_text")), " ").as("dedup_text"))
      toks.select(col("doc_id"),
          ceil(size(col("ts")) / lit(10.0)).cast("int").as("n_tiles"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tiles"),
          coalesce(col("n_kept"), lit(0)).as("n_kept"),
          coalesce(col("dedup_text"), lit("")).as("dedup_text"))
        .orderBy("doc_id")
    }

    // The straightforward user resample: bucket agg, per-key grid, join
    // back, fill window — each stage with the partitioning Spark plans
    // for it in isolation (agg on (key,b); join re-key on (key,b);
    // window re-key on (key)): THREE exchanges, two of them of the grid
    // mass. The engine form re-keys the aggregated frame ONCE on the
    // key and every later stage rides it — the round-9 ts_resample
    // design delta, outputs asserted identical.
    def resampleNaive = {
      val bucketUs = 21600000000L
      val e = events.select(col("user_id"),
        expr(s"(ts div 1000) div $bucketUs").as("b"), col("value").as("v"))
      val observed = e.groupBy("user_id", "b").agg(r4(sum(col("v"))).as("v"))
      val grid = observed.groupBy("user_id").agg(min("b").as("b0"), max("b").as("b1"))
        .select(col("user_id"), explode(sequence(col("b0"), col("b1"))).as("b"))
      val w = Window.partitionBy("user_id").orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(observed, Seq("user_id", "b"), "left_outer")
        .select(col("user_id"), col("b"),
          last("v", ignoreNulls = true).over(w).as("v_filled"))
        .orderBy("user_id", "b")
    }

    // pack_shards' design delta: the obvious plain-Spark form ranks the
    // whole corpus in ONE global ROW_NUMBER window — every row moves to
    // a single task (the canonical 100 TB window trap; Spark itself
    // warns "No Partition Defined"). The engine form range-buckets the
    // uniform 48-bit coordinate so ranking parallelizes and only the
    // ≤1024-row bucket-count frame is sequential. Outputs identical.
    def shardsNaive = {
      val u = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(":shard"))), 1, 12), 16, 10).cast("long")
      documents.select(col("doc_id"), u.as("u"))
        .select(col("doc_id"), row_number().over(
            Window.orderBy(col("u").asc, col("doc_id").asc)).cast("long").as("rank"))
        .withColumn("shard_id", floor((col("rank") - 1) / 100).cast("long"))
        .select("doc_id", "rank", "shard_id")
        .orderBy("doc_id")
    }

    // graph_hits' design delta: the natural plain-Spark HITS — renorm
    // max via a separate aggregate crossJoined back, rounds composed
    // LAZILY. Each half-round's raw frame then feeds two consumers and
    // Spark re-derives the whole upstream chain per consumer: 2^8
    // recomputations of the base join at 4 rounds (the trap is real —
    // the engine form shipped with it before the ×10 probe caught the
    // flat ~32 s row). The engine cuts each |V|-row raw frame eagerly.
    // Outputs asserted identical.
    def hitsNaive = {
      val e = lineitem.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst")).distinct()
      def renorm(raw: DataFrame): DataFrame = {
        val m = raw.agg(max("raw").as("m"))
        raw.crossJoin(broadcast(m)).select(col("node"),
          floor(col("raw").cast("double") / col("m").cast("double")
            * lit(100000000.0) + lit(0.5)).cast("long").as("unit"))
      }
      var hub = e.select(col("src").as("node")).distinct()
        .select(col("node"), lit(100000000L).as("unit"))
      var auth: DataFrame = null
      for (_ <- 1 to 4) {
        auth = renorm(hub.join(e, hub("node") === e("src"))
          .groupBy(col("dst").as("node")).agg(sum("unit").as("raw")))
        hub = renorm(auth.join(e, auth("node") === e("dst"))
          .groupBy(col("src").as("node")).agg(sum("unit").as("raw")))
      }
      hub.select(lit("hub").as("role"), col("node"), col("unit"))
        .unionAll(auth.select(lit("auth").as("role"), col("node"), col("unit")))
        .select(col("role"), col("node"), col("unit"),
          (col("unit").cast("double") / lit(100000000.0)).as("score"))
        .orderBy("role", "node")
    }

    // (matched-table row name, engine query name, plain-Spark twin)
    Seq(
      ("q1_agg_pricing", "q1_pricing", () => q1),
      ("q3_join3", "join_inner", () => q3),
      ("window_rank", "win_rank", () => winRank),
      ("distinct_approx", "agg_approx_distinct", () => distinctApprox),
      ("rollup", "agg_rollup", () => rollupQ),
      ("json_extract", "fn_json", () => jsonExtract),
      ("session_window", "stream_session", () => sessionWin),
      ("dedup_exact", "dedup_exact", () => dedupExact),
      ("topk_cosine", "sim_topk_cosine", () => topkCosine),
      ("set_union_all", "set_union_all", () => unionAll),
      ("pagerank_naive", "graph_pagerank", () => pagerankNaive),
      ("span_dedup_naive", "dedup_spans", () => spanDedupNaive),
      ("resample_naive", "ts_resample", () => resampleNaive),
      ("shards_naive", "pack_shards", () => shardsNaive),
      ("hits_naive", "graph_hits", () => hitsNaive))
  }

  def main(args: Array[String]): Unit = {
    val m = new Measure("matched", defaultCpus = "4", defaultSf = "/root/testdata/sf0.1")
    m.warmJit()
    val calibration = m.calibration()
    val rows = baselines(m.spark, m.sfDir).map { case (rowName, engName, base) =>
      val eng = () => SparkEntry.queries(engName)(m.spark, m.sfDir)
      // contract check: both sides carry a total ORDER BY, so plain
      // row-list equality. Collected once, untimed.
      val bRows = base().collect().toSeq
      val eRows = eng().collect().toSeq
      require(bRows == eRows,
        s"$rowName: baseline and engine outputs differ " +
          s"(${bRows.size} vs ${eRows.size} rows; first diff: " +
          s"${bRows.zip(eRows).find { case (a, b) => a != b }.orNull})")
      m.isolate()
      // warm both plans (JIT + codegen cache), then time INTERLEAVED
      // medians of 3 — a single timed run put one row's ratio anywhere
      // in ±2× on host wobble (round 9 observed json_extract at 2.29×
      // once, 0.94-1.03× on every re-measure); interleaving keeps phase
      // drift off one side of the ratio, the median kills spikes
      val (bt, et) = m.guard(rowName) {
        m.run(base()); m.run(eng())
        val (bts, ets) = Seq.fill(3)((m.run(base()).wall, m.run(eng()).wall)).unzip
        (Measure.median(bts), Measure.median(ets))
      }.getOrElse((-1.0, -1.0))
      m.log(f"$rowName%-18s base=$bt%7.3f engine=$et%7.3f ratio=${et / bt}%5.2fx")
      (rowName, bt, et)
    }
    // a failed row (−1) stays in `queries` and out of both totals
    val ok = rows.filter(r => r._2 >= 0 && r._3 >= 0)
    val (baseTotal, engTotal) = (ok.map(_._2).sum, ok.map(_._3).sum)
    val json = rows.map { case (n, b, e) =>
      f""""$n":{"baseline":$b%.3f,"engine":$e%.3f}"""
    }.mkString("{", ",", "}")
    val out =
      f"""{"metric":"matched_ratio","value":${engTotal / baseTotal}%.3f,"baseline_total":$baseTotal%.3f,"engine_total":$engTotal%.3f,"calibration":$calibration%.3f,"queries":$json,"sf":"${m.sfDir}"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("matched_bench.json"),
      out.getBytes("UTF-8"))
    println(out)
    m.spark.stop()
  }
}

package graft

import org.apache.spark.sql.functions.{lit, raise_error}

/** The measurement core: per-row layer record, failure policy, and the
  * stdout line fitting. */
class MeasureSpec extends SparkTestBase {

  private lazy val m = new Measure("spec", defaultCpus = "4", defaultSf = sf, existing = Some(spark))
  private def row(name: String): Measure.Reading = m.run(SparkEntry.queries(name)(spark, sf))
  private lazy val q1 = row("q1_pricing")
  private lazy val pagerank = row("graph_pagerank")

  test("q1_pricing: no construction jobs, non-zero Catalyst planning, one exec job at least") {
    assert(q1.layers("construct.jobs") == 0, q1.layers)
    // phase times are whole milliseconds; planning alone can round to 0
    assert(q1.layers("catalyst.optimization_s") + q1.layers("catalyst.planning_s") > 0, q1.layers)
    assert(q1.layers("exec.jobs") >= 1 && q1.layers("exec.stages") >= 1, q1.layers)
    assert(q1.layers("plan.exchanges") >= 1, q1.layers) // the group-by shuffles
  }

  test("graph_pagerank: its eager cuts are construction jobs") {
    assert(pagerank.layers("construct.jobs") > 0, pagerank.layers)
    assert(pagerank.layers("exec.jobs") >= 1, pagerank.layers)
  }

  test("construct, planning and exec wall times sum to no more than the measured wall") {
    for (r <- Seq(q1, pagerank, row("join_inner"))) {
      val l = r.layers
      val parts = l("construct.s") + l("catalyst.analysis_s") + l("catalyst.optimization_s") +
        l("catalyst.planning_s") + l("exec.s")
      assert(parts <= r.wall + 1e-9, s"$parts > ${r.wall}: $l")
    }
  }

  test("a query that throws reads -1 and the next row still runs") {
    val failed = m.guard("boom")(m.run(spark.range(1).select(raise_error(lit("boom")))).wall)
    assert(failed.getOrElse(-1.0) == -1.0)
    val next = m.guard("q1_pricing")(row("q1_pricing"))
    assert(next.exists(r => r.wall > 0 && r.layers("exec.jobs") >= 1))
  }

  test("the stdout line fits its budget, keeps every adjudicated row's readings, " +
      "and folds only the rows the evidence needs") {
    // 300 rows named like the registry's, values 0.05 .. 9.02 s
    val names = SparkEntry.queries.keys.toSeq.sorted.take(300)
    val rows = names.zipWithIndex.map { case (n, i) => n -> (0.05 + i * 0.03) }
    val pinned = Seq("calibration" -> 0.2, "calibration_sustained" -> 1.0)
    val adjudicated = Seq(7, 80, 150, 220, 299).map { i =>
      val v = rows(i)._2
      rows(i)._1 -> Seq(3.1 * v, v, 1.2 * v)
    }
    def fit(readings: Seq[(String, Seq[Double])]) = Measure.fitLine(
      """{"metric":"total","value":1.000,"unit":"sec","n_bands":0""", rows, pinned,
      Seq(0.5, 0.5), readings, ""","sf":"sf0.1"}""")
    def folded(line: String) = """"other_n":(\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
    val (plain, withAdj) = (fit(Nil), fit(adjudicated))
    assert(plain.length <= 1900 && withAdj.length <= 1900)
    for ((n, rs) <- adjudicated)
      assert(withAdj.contains("\"" + n + "\":" + rs.map(Measure.fmt3).mkString("[", ",", "]")))
    assert(!withAdj.contains("\"probes\"") && !withAdj.contains("\"band\""))
    // the evidence is counted before folding, and folding stops as soon
    // as the line fits: at most one row per entry-length of evidence
    val evidence = withAdj.length - withAdj.replaceFirst(""","adjudications":\{[^}]*\}""", "").length
    val shortest = rows.map { case (n, v) => n.length + Measure.fmt3(v).length + 4 }.min
    assert(folded(withAdj) - folded(plain) <= math.ceil(evidence.toDouble / shortest).toInt,
      s"folded ${folded(plain)} -> ${folded(withAdj)} for $evidence evidence chars")
    assert(folded(withAdj) > folded(plain))
  }
}

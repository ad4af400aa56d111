package graft

/** Scaling-curve probe (SCALE.md evidence): run a headline query subset
  * at ALL THREE fixture scale factors in one JVM and report the time
  * curve per query. The fixtures span 100× on the relational tables
  * (lineitem 6 k → 600 k, events 1 k → 100 k) and 10×/4× on
  * documents/embeddings, so the curve separates fixed cost (scheduler
  * floor, plan compile — flat across SFs) from data cost (should grow
  * ≤ linearly with rows). A query whose time grows FASTER than its
  * input is a scale bug; one whose time barely moves is floor-bound and
  * will amortize on a cluster.
  *
  * Methodology is Bench's, on the shared graft.Measure core: noop-sink
  * write (full rows), one warm run, then median of three timed runs (the
  * iterative rows wobble ±25%), isolation between runs. Writes
  * `scale_curve.json`.
  *
  * Args: optional query names (default: the headline set below).
  */
object ScaleProbe {
  private val headline = Seq(
    // relational core (lineitem/orders/customer: 100× span)
    "q1_pricing", "join_inner", "win_rank", "topk", "agg_percentiles",
    "fn_math", "sort_multi",
    // events (100× span): temporal + sessionization
    "ts_resample", "ts_ewma", "scd2_intervals", "stream_session", "fn_json",
    // graph/iterative (events-derived edges)
    "graph_bfs", "graph_pagerank", "graph_label_prop", "graph_triangle_count",
    "graph_kcore",
    // documents (10× span at the top step): text + dedup families
    "dedup_exact", "dedup_minhash", "dedup_incremental_minhash",
    "dedup_jaccard", "dedup_containment", "text_langid", "pack_chunks", "bpe_encode",
    "search_bm25", "search_bm25_batch", "dedup_spans", "sample_temperature",
    "sample_temperature_rank", "dq_audit", "bpe_encode_fixed",
    "pack_shards", "curriculum_bins", "sketch_source_sim_exact", "dq_drift_psi",
    "ts_anomaly", "vec_project_rp", "vec_centroids", "dedup_url_params",
    "ts_changepoint", "ts_seasonal", "graph_modularity", "graph_adamic_adar",
    "dedup_editdist", "text_pmi_bigrams", "curate_source_hhi",
    "ts_autocorr", "seq_markov", "graph_hits", "rollup_incremental",
    "curate_dsir", "ts_double_ewma", "curate_ngram_ppl", "graph_jaccard", "dq_split_leakage",
    "ts_crosscorr", "vec_knn_classify", "curate_gopher_rules",
    "curate_semdedup", "dq_drift_ks", "sample_reservoir_weighted",
    "sample_stratified_exact", "multimodal_dedup", "eval_ann_recall",
    "eval_pq_recall", "graph_cc_incremental", "pipeline_snapshot_cdc",
    "lake_delete", "lake_merge", "snapshot_diff", "eval_retrieval_ndcg",
    "stream_snapshot_tail", "sim_mmr_rerank", "graph_ppr",
    "lake_schema_evolution", "text_readability", "pipeline_rag_prep", "fn_xml",
    "lake_vacuum", "eval_pack_efficiency", "sink_parquet_partitioned",
    "sink_parquet_zordered", "sample_token_budget", "stream_lake_upsert_live",
    "graph_katz", "seq_trigrams", "curate_boilerplate_phrases",
    // round-11 additions
    "lake_schema_rename", "stream_join_outer_live", "join_bucketed",
    "curate_host_cap", "stream_join_full_live", "ts_holt_winters", "fn_ip",
    // round-12 additions (manifest stats / skipping / metadata aggregates)
    "lake_skipping", "scan_snapshot_pushdown", "lake_stats_agg",
    "scan_snapshot_agg_pushdown", "fn_ip_v6",
    // round-13 additions (full DSv2 lake surface / SQL catalog /
    // grouped metadata aggs / clustering compaction)
    "scan_snapshot_pushdown_full", "sql_over_snapshot",
    "lake_stats_agg_grouped", "lake_compact_clustered",
    "lake_skipping_temporal", "sql_insert_snapshot", "lake_files_meta",
    "stream_snapshot_table", "scan_snapshot_orders", "sql_delete_snapshot",
    "lake_history_meta", "lake_stats_agg_daily",
    // round-14 additions (SQL DML verbs / time travel / nested / DDL)
    "sql_update_snapshot", "sql_merge_snapshot", "sql_time_travel_ts",
    "scan_snapshot_nested", "sql_ddl_lifecycle", "stream_sink_snapshot_live",
    "lake_orphan_cleanup", "lake_compact_zorder",
    "join_asof_tolerance", "join_asof_nearest", "ts_interpolate",
    "text_entropy", "sample_quality_weighted",
    // round-9 session-7 additions
    "graph_clustering_coeff", "graph_assortativity", "text_tfidf_keywords",
    "agg_mad", "dq_benford", "ts_rolling_median", "ts_outlier_mad",
    "text_hash_features", "curate_source_entropy", "graph_gini_degree",
    "graph_reciprocity", "seq_streaks", "eval_retrieval_mrr",
    "text_zipf_fit", "scd2_incremental", "ts_rolling_slope", "join_box_2d",
    "ts_periodogram", "sketch_cms_counts", "agg_moments", "fn_geo",
    "agg_winsorized_mean", "multimodal_phash", "curate_quality_ensemble",
    // embeddings (4× span): clustering + spectral family
    "cluster_kmeans", "curate_cluster_balance", "vec_top_pc",
    "vec_whiten_resid", "vec_pq_codes", "vec_pq_search", "vec_ivf_pq_search",
    // embeddings (4× span): similarity families. The *_loose suffixed
    // rows (τ=0.35, fixed 16×4 bands) are the declared n²-candidate
    // regime demonstrators; since round 9 the PRIMARY names bind the
    // scale paths (n^ρ auto-sizing / IVF cells).
    "sim_topk_cosine", "sim_pairs_lsh_loose", "sim_pairs_lsh",
    "sim_knn_graph_banded", "sim_knn_graph", "dedup_semantic_lsh",
    "dedup_semantic_lsh_loose")

  def main(args: Array[String]): Unit = {
    val m = new Measure("scale", defaultCpus = "32", defaultSf = "/root/testdata/sf0.1")
    // fourth point: the SynthScale ×10 slice (≈ sf1), when generated —
    // extends the measured span to 1000× on the relational tables
    val synth = sys.env.getOrElse("SPARK_GRAFT_SYNTH_DIR", "target/synth-sf1")
    val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1") ++
      (if (new java.io.File(synth).isDirectory) Seq(synth) else Nil)
    val names = if (args.nonEmpty) args.toSeq
      else headline.filter(SparkEntry.queries.contains)
    // per query per SF: warm once (JIT, codegen, footer caches), median of three
    val rows = for (name <- names) yield {
      val fn = SparkEntry.queries(name)
      val perSf = sfDirs.map { dir =>
        m.guard(s"$name @ $dir") {
          m.run(fn(m.spark, dir))
          Measure.median(Seq.fill(3)(m.run(fn(m.spark, dir)).wall))
        }.getOrElse(-1.0)
      }
      m.log(f"$name%-20s " + perSf.map(t => f"$t%7.3f").mkString(" "))
      name -> perSf
    }
    // Locale.ROOT: the f-interpolator is locale-dependent and a
    // comma-decimal default locale would emit invalid JSON
    def d3(t: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))
    val sfNames = sfDirs.map(d =>
      "\"" + d.split('/').last.stripPrefix("synth-") + "\"").mkString(",")
    // a SUBSET run (explicit query args) MERGES into an existing curve
    // file with the same SF axis instead of clobbering the full table —
    // the per-query re-measurement workflow would otherwise silently
    // drop every other row
    val file = java.nio.file.Paths.get("scale_curve.json")
    val existing: Seq[(String, String)] =
      if (args.nonEmpty && java.nio.file.Files.exists(file)) {
        val txt = new String(java.nio.file.Files.readAllBytes(file), "UTF-8")
        // an axis mismatch on a SUBSET run must ABORT, not silently
        // rewrite the committed multi-SF table down to this run's rows —
        // the common cause is target/synth-sf1 missing after a clean
        // (3-point axis vs the file's 4-point axis)
        require(txt.startsWith(s"""{"sfs":[$sfNames]"""),
          s"scale_curve.json has a different SF axis than this run " +
            s"([$sfNames]); regenerate the synth slice " +
            s"(runMain graft.tools.SynthScale) or run with no args to " +
            s"rebuild the full curve on the new axis")
        "\"([A-Za-z0-9_]+)\":(\\[[-0-9.,]+\\])".r.findAllMatchIn(txt)
          .map(g => g.group(1) -> g.group(2)).toSeq
      } else Seq.empty
    val fresh = rows.map { case (n, ts) =>
      n -> ("[" + ts.map(d3).mkString(",") + "]")
    }
    val freshNames = fresh.map(_._1).toSet
    val merged = existing.filterNot(e => freshNames(e._1)) ++ fresh
    val json = merged.map { case (n, v) => "\"" + n + "\":" + v }
      .mkString("{", ",", "}")
    java.nio.file.Files.write(file,
      s"""{"sfs":[$sfNames],"median_of_3_sec":$json}"""
        .getBytes("UTF-8"))
    println(s"""{"metric":"scale_curve","queries":${merged.size}}""")
    m.spark.stop()
  }
}

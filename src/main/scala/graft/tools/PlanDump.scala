package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode
import graft.{Measure, SparkEntry}

/** Writes the formatted physical plans of queries, each headed by its
  * shuffle-exchange count, to one markdown file — auditable evidence of
  * pushdown / broadcast / top-k / custom-operator planning, and
  * before/after plan evidence for optimization work.
  *
  * Usage: runMain graft.tools.PlanDump [out.md] [query...]
  * Defaults: PLANS.md and the representative list below.
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS (default 4).
  */
object PlanDump {
  val representative = Seq(
    "q1_pricing", "join_inner", "join_asof", "join_asof_native",
    "win_rank", "stream_session", "dedup_exact", "dedup_minhash",
    "dedup_jaccard", "dedup_simhash", "sim_topk_cosine", "sim_ann_ivf",
    "sim_pairs_lsh", "text_langid", "text_fingerprint", "pack_chunks",
    "sample_hash", "dedup_semantic",
    // round 2
    "join_full", "join_skew_salted", "agg_pivot", "unpivot_long",
    "dedup_semantic_lsh", "sub_scalar", "sub_correlated", "sim_knn_graph",
    // round 3
    "agg_percentile_disc", "join_lateral", "contamination_check",
    "dedup_url", "sample_mixture", "text_vocab", "text_vocab_approx",
    "pipeline_pretrain", "profile_columns", "sketch_hll_union",
    // round 4
    "ts_resample", "scd2_intervals", "funnel_steps", "sample_reservoir",
    "join_bloom", "join_interval_bucketed", "vec_quantize_int8",
    "dedup_embedding_quant", "agg_regression", "agg_bitmap_distinct",
    // round 4 continued
    "agg_percentiles", "sql_dashboard", "graph_bfs", "multimodal_resize",
    "bpe_encode",
    // round 4 final
    "text_repetition", "text_ngram_lm", "retention_cohorts",
    // round 7
    "schema_retype",
    // round 8
    "sim_pairs_lsh", "sim_knn_graph", "sim_knn_exact",
    "dashboard_uploads_monthly", "dashboard_study_rollup",
    "dashboard_segment_geo",
    // round 8 continued
    "search_bm25", "search_bm25_batch", "graph_pagerank", "dedup_spans",
    "sample_temperature", "dq_audit",
    // round 9: the new gated rows + the re-planned operators + the
    // suffixed demonstrators under their new names
    "sample_temperature_rank", "bpe_encode_fixed", "dedup_minhash_exact",
    "sim_knn_graph_ivf_twins", "dashboard_fileview",
    "sim_pairs_lsh_loose", "sim_knn_graph_banded",
    "dedup_semantic_lsh_loose",
    // round 9 session 2: the new first-class ops + gated siblings
    "pack_shards", "curriculum_bins", "ts_anomaly", "vec_project_rp",
    "vec_centroids", "dedup_url_params", "join_asof_forward",
    "join_asof_tolerance", "dedup_simhash_exact", "sketch_source_sim_exact",
    "sim_ann_lsh_twins", "text_fingerprint_dedup",
    // round 9 session 3: clustering family, as-of nearest, interpolation,
    // entropy kernel, weighted acceptance sampling
    "cluster_kmeans", "curate_cluster_balance", "join_asof_nearest",
    "ts_interpolate", "text_entropy", "sample_quality_weighted",
    // round 9 session 4: spectral family + graph communities + EWMA
    "vec_top_pc", "vec_whiten_resid", "graph_label_prop", "ts_ewma",
    "agg_weighted_median", "dedup_containment", "graph_triangle_count",
    "vec_pq_codes", "dq_drift_psi", "graph_kcore",
    // round 9 session 5: changepoint/seasonal + graph scores + blocked
    // editdist + collocations + concentration audit
    "ts_changepoint", "ts_seasonal", "graph_modularity", "graph_adamic_adar",
    "dedup_editdist", "text_pmi_bigrams", "curate_source_hhi",
    // round 9 session 6: autocovariance, Markov transitions, HITS,
    // incremental rollup maintenance, DSIR importance weighting
    "ts_autocorr", "seq_markov", "graph_hits", "rollup_incremental",
    "curate_dsir", "ts_double_ewma", "curate_ngram_ppl",
    "graph_jaccard", "dq_split_leakage", "vec_knn_classify",
    "ts_crosscorr", "curate_gopher_rules", "curate_semdedup", "dq_drift_ks", "eval_ann_recall",
    "eval_pq_recall", "graph_cc_incremental", "pipeline_snapshot_cdc",
    "lake_delete", "lake_merge", "snapshot_diff", "eval_retrieval_ndcg",
    "stream_snapshot_tail", "sim_mmr_rerank", "graph_ppr",
    "lake_schema_evolution", "text_readability", "pipeline_rag_prep", "fn_xml",
    "lake_vacuum", "eval_pack_efficiency", "sink_parquet_partitioned",
    "sink_parquet_zordered", "sample_token_budget", "stream_lake_upsert_live",
    "graph_katz", "seq_trigrams", "curate_boilerplate_phrases",
    "multimodal_dedup", "sample_reservoir_weighted", "sample_stratified_exact",
    "stream_markov_live",
    // round 9 session 7: robust statistics, graph audits, ADC search,
    // hashing trick, SCD2 IVM, box join, periodogram, moments
    "graph_clustering_coeff", "graph_assortativity", "graph_gini_degree",
    "graph_reciprocity", "text_tfidf_keywords", "text_hash_features",
    "text_zipf_fit", "agg_mad", "agg_moments", "dq_benford",
    "ts_rolling_median", "ts_outlier_mad", "ts_rolling_slope",
    "ts_periodogram", "seq_streaks", "scd2_incremental", "vec_pq_search",
    "vec_ivf_pq_search", "join_box_2d", "eval_retrieval_mrr",
    "curate_source_entropy", "sketch_cms_counts", "fn_geo",
    "agg_winsorized_mean", "stream_scd2_live", "multimodal_phash",
    "curate_quality_ensemble",
    // round 11: column-ID evolution read, outer stream join, kmeans
    // diagnostic siblings
    "lake_schema_rename", "stream_join_outer_live", "cluster_kmeans_assign",
    "join_bucketed", "curate_host_cap", "stream_join_full_live",
    "ts_holt_winters", "fn_ip",
    // round 13/14: the DSv2 lake surface (pushdown scan, SQL catalog,
    // DML verbs, nested columns, time travel, DDL lifecycle)
    "scan_snapshot_pushdown_full", "sql_over_snapshot", "sql_insert_snapshot",
    "sql_delete_snapshot", "lake_stats_agg_grouped", "lake_compact_clustered",
    "sql_update_snapshot", "sql_merge_snapshot", "sql_time_travel_ts",
    "scan_snapshot_nested", "sql_ddl_lifecycle", "lake_orphan_cleanup",
    "lake_compact_zorder")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val names = if (args.length > 1) args.toSeq.tail else representative
    val m = new Measure("plandump", defaultCpus = "4", defaultSf = "/root/testdata/sf0.01")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of representative queries\n\n")
    sb.append(s"Generated by `graft.tools.PlanDump` against `${m.sfDir}`. Things to\n")
    sb.append("check per plan: `PushedFilters`/`ReadSchema` on scans, broadcast vs\n")
    sb.append("shuffle joins, `TakeOrderedAndProject` for top-k, partial+final\n")
    sb.append("HashAggregate pairs, and the custom `AsOfJoin` exec.\n")
    names.foreach { name =>
      val qe = SparkEntry.queries.getOrElse(name,
        sys.error(s"PlanDump: no registered query '$name'"))(m.spark, m.sfDir).queryExecution
      sb.append(s"\n## $name\n\nshuffle exchanges: ${Measure.exchanges(qe.executedPlan)}\n\n```\n")
      sb.append(qe.explainString(FormattedMode))
      sb.append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    m.log(s"wrote $out (${names.size} plans)")
    m.spark.stop()
  }
}

package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dump formatted physical plans for headline queries to PLANS.md —
  * evidence that pushdown, pruning, broadcasts, and codegen spans are
  * what the design claims.
  */
object ExplainDump {
  /** Queries ADDED in recent rounds — ExplainDumpSpec pins that every
    * one of these is in [[headline]], making "each new query lands in
    * the plan dump the same round it ships" a failing test instead of
    * a round-close checklist item (r11 housekeeping: gen_sql_compact_dead
    * shipped without a dump).
    */
  val recentAdditions: Map[Int, Seq[String]] = Map(
    11 -> Seq("graph_wpagerank", "ts_session_funnel",
      "ann_recall_eval_trained", "gen_compact_dead",
      "gen_compact_dead_meta", "gen_sql_compact_dead", "graph_modularity",
      "text_zipf", "sketch_hll_union", "pipe_split_leakage_safe",
      "multimodal_audio", "ts_residual_anomaly", "ann_recall_eval_pq",
      "pipe_e2e_curation", "graph_edge_support", "graph_ktruss",
      "emb_outliers", "gen_rest_catalog"),
    12 -> Seq("dedup_clusters_indexed", "dedup_clusters_refreshed",
      "gen_rest_read", "graph_louvain", "pipe_fertility", "ann_ivfpq",
      "ann_recall_eval_ivfpq", "ann_ivfpq_indexed",
      "dedup_substr_spans", "stream_window_counts", "pipe_temperature",
      "graph_assortativity", "stream_dedup", "stream_join",
      "stream_sessions", "stream_ingest", "stream_cdc",
      "stream_replicate", "q_tpch_q3", "q_tpch_q5", "q_tpch_q10",
      "stream_ivm", "graph_cooccurrence", "pipe_gate_sweep",
      "ann_filtered", "ann_filtered_ivf", "q_runtime_bloom",
      "q_aqe_skew", "ann_recall_eval_matryoshka", "q_tpch_q18"),
    14 -> Seq("gen_rest_write", "ann_pq_refreshed", "ann_ivfpq_refreshed",
      "ann_knn_join_capped", "ann_sim_histogram_capped",
      "dedup_embedding_capped"),
    15 -> Seq("ann_recall_eval_capped", "ann_recall_eval_rebanded",
      "dedup_embedding_auto", "dedup_minhash_capped", "dedup_minhash_auto"),
    16 -> Seq("dedup_clusters_capped", "dedup_clusters_capped_refreshed",
      "dedup_clusters_auto", "dedup_clusters_auto_refreshed"),
    17 -> Seq("dedup_minhash_rebanded", "dedup_embedding_rebanded",
      "ann_recall_eval_routed", "dedup_clusters_recall_eval"),
    18 -> Seq("dedup_clusters_delta_refreshed"),
    // dedup_clusters itself joins the dump in r19: the r18 verdict's
    // watch item asked for a plan diff against prior rounds, and no
    // prior dump ever contained it — from r19 on the diff exists.
    19 -> Seq("dedup_clusters_exact_delta_refreshed", "dedup_clusters"))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/root/repo/PLANS.md"
    // fixed 8 cores: the dumped plans name partition counts
    val spark = graft.LocalSession.builder(cores = 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = headline
    runDump(spark, sfDir, out, names)
  }

  /** The curated plan-dump set (every entry has a green CORRECTNESS
    * row; the dump is evidence, not coverage — RegistrySpec keeps the
    * full query registry honest).
    */
  val headline: Seq[String] =
    Seq("q_filter_proj", "q_join_broadcast", "q1_agg",
      "mor_read", "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding",
      "dedup_ngram_jaccard", "ann_topk", "ann_knn_join", "q_range_join",
      "q_window_topk", "pipe_decontaminate", "pipe_sample", "pipe_pack",
      "pipe_shuffle", "pipe_filter_compose", "text_topk_ngrams",
      "emb_quantize", "gen_pruned_scan", "gen_auto_prune",
      "gen_partitioned_scan", "gen_zorder_scan", "gen_upsert",
      "q_session_window", "q_sql_native_hash", "src_csv_roundtrip",
      "gen_partition_evolution", "gen_bloom_scan", "gen_changes",
      "pipe_chunk", "pipe_mix", "ann_pq", "text_rarity",
      "text_bm25", "ann_range", "dedup_passages", "pipe_split",
      "gen_ivm", "q_join_sortmerge", "q_outer_join", "q_gap_fill",
      "q_unpivot", "q_lateral_join", "q_window_range_frame",
      "dedup_edit_distance", "text_lm_score", "q_zscore_outliers",
      "emb_kmeans", "dedup_fingerprint",
      "dedup_semantic", "text_countmin", "q_quantile_sketch",
      "pipe_token_budget", "pipe_datacard", "q_variant",
      "gen_type_widening", "q_window_range_bucketed",
      "q_dpp", "q_bucket_join", "q_skew_join", "pipe_interleave",
      "dedup_minhash_estimate", "src_orc_roundtrip",
      "dedup_bloom_prefilter", "dedup_bloom_indexed", "dedup_cross_corpus",
      "dedup_cross_near", "dedup_cross_near_indexed",
      "ann_band_stats", "dedup_band_stats", "q_asof",
      "sketch_quantile", "sketch_quantile_merged", "sketch_kmv_incremental",
      "graph_ppr", "graph_hits", "ts_xcorr", "ann_recall_eval",
      "dedup_recall_eval", "ts_forecast_eval", "ann_sim_histogram",
      "sketch_hopping_hll", "text_entropy", "graph_sssp",
      "pipe_pack_eval", "dedup_cluster_stats", "text_lang_confusion",
      "mor_delete_stats", "graph_degree_dist", "emb_norm_hist",
      "gen_manifest_audit",
      "q_events_window", "q_json", "q_late_events", "q_window_running",
      "pipe_source_cap", "dedup_keep_best", "ann_rrf_fusion",
      "text_classifier_score", "text_gopher_rules", "q_stats_agg",
      "pipe_curriculum", "multimodal_phash", "gen_ivm_join",
      "sketch_kmv_distinct", "sketch_kmv_overlap", "graph_pagerank",
      "graph_triangles", "ts_ewma", "ts_funnel", "ts_retention",
      "text_kl_divergence", "ts_concurrency", "ts_anomaly_mad",
      "ts_autocorr", "dedup_containment", "pipe_vocab_coverage",
      "pipe_weighted_sample", "ts_holt", "sketch_hll_estimate",
      "dedup_prefix_jaccard", "ts_changepoint", "text_collocations",
      "q_fuzzy_join", "q_cumulative_distinct", "emb_pca",
      "graph_link_prediction", "graph_kcore", "gen_hilbert_scan",
      "ts_holt_winters", "ts_transitions", "text_tfidf_keywords",
      "text_phrase_search", "emb_pca_project", "q_mv_rewrite",
      "q_mv_rollup", "ts_decompose", "src_partitioned_roundtrip",
      "gen_sql_mv_rewrite", "ts_paths", "q_hopping_window",
      "graph_wpagerank", "ts_session_funnel", "ann_recall_eval_trained",
      "gen_compact_dead", "gen_compact_dead_meta", "graph_modularity",
      "text_zipf", "sketch_hll_union", "pipe_split_leakage_safe",
      "multimodal_audio", "ts_residual_anomaly", "ann_recall_eval_pq",
      "pipe_e2e_curation", "graph_edge_support", "gen_rest_catalog",
      "emb_outliers", "graph_ktruss", "gen_sql_compact_dead",
      "dedup_clusters_indexed", "dedup_clusters_refreshed", "gen_rest_read",
      "graph_louvain", "pipe_fertility", "ann_ivfpq",
      "ann_recall_eval_ivfpq", "ann_ivfpq_indexed",
      "dedup_substr_spans", "stream_window_counts", "pipe_temperature",
      "graph_assortativity", "stream_dedup", "stream_join",
      "stream_sessions", "stream_ingest", "stream_cdc",
      "stream_replicate", "q_tpch_q3", "q_tpch_q5", "q_tpch_q10",
      "stream_ivm", "graph_cooccurrence", "pipe_gate_sweep",
      "ann_filtered", "ann_filtered_ivf", "q_runtime_bloom",
      "q_aqe_skew", "ann_recall_eval_matryoshka", "q_tpch_q18",
      "gen_rest_write", "ann_pq_refreshed", "ann_ivfpq_refreshed",
      "ann_knn_join_capped", "ann_sim_histogram_capped",
      "dedup_embedding_capped", "ann_recall_eval_capped",
      "ann_recall_eval_rebanded", "dedup_embedding_auto",
      "dedup_minhash_capped", "dedup_minhash_auto",
      "dedup_clusters_capped", "dedup_clusters_capped_refreshed",
      "dedup_clusters_auto", "dedup_clusters_auto_refreshed",
      "dedup_minhash_rebanded", "dedup_embedding_rebanded",
      "ann_recall_eval_routed", "dedup_clusters_recall_eval",
      "dedup_clusters_delta_refreshed",
      "dedup_clusters_exact_delta_refreshed", "dedup_clusters")

  private def runDump(spark: SparkSession, sfDir: String, out: String,
      names: Seq[String]): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence (generated by " +
      "graft.tools.ExplainDump)\n\n")
    sb.append("What to look for: `PushedFilters`/`ReadSchema` on scans " +
      "(pushdown + pruning), `BroadcastHashJoin` on dim/delete sides " +
      "(no fact shuffle), two-phase `HashAggregate`, " +
      "`WholeStageCodegen` spans covering the hot operators.\n")
    names.foreach { n =>
      sb.append(s"\n## $n\n")
      // each plan twice: one that differs between two builds in one
      // session (AQE picks a broadcast build side from whichever stage
      // finishes first) is unstable, and tools/plan_diff.py reports it
      // apart from the plans a change moved
      (1 to 2).foreach { _ =>
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n```\n$plan```\n")
        // registered (unmaterialized) caches would otherwise leak into
        // the NEXT plan as InMemoryRelation pickups
        graft.CacheScope.drain()
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[explain] wrote ${names.size} plans to $out")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for the headline queries to a markdown
  * file (PLANS.md) — the plan-quality audit trail: pushdown reaching
  * scans, broadcast joins on dims, TakeOrderedAndProject for top-k,
  * keyed (never nested-loop) candidate joins, codegen coverage.
  */
object Plans {
  val picks: Seq[String] = Seq(
    "q1_lineitem_agg", "q2_filter_project", "q3_join_inner",
    "q7_star_join", "q8_topk", "q9_window_rownum",
    "q24_topk_agg", "q25_salted_join", "q27_window_range",
    "log_errors_by_endpoint",
    "a1_asof_join", "a2_range_join",
    "d3_minhash_lsh", "d5_ngram_jaccard", "d6_dedup_clusters",
    "s1_knn_brute", "s2_knn_bucketed", "s5_knn_ivf",
    "q30_join_full", "q31_rank_family", "e1_props_struct",
    "t9_tfidf", "t10_pii_redact", "x1a_distinct_exact",
    "p4_packing", "p5_mixture", "t11_quality_filter", "t12_bigrams",
    "s6_quantize", "d7_simhash_neardup", "q32_bloom_join", "p3_reservoir",
    "m3_resize",
    "t13_bigram_hitrate", "q33_session_window", "q34_anomaly",
    "s7_knn_pq", "z1_zvalue", "c2_benchmark_decontam",
    "u39_broadcast_stats",
    "q35_sql", "q36_sliding_window", "k1_skew_profile", "dq1_ref_integrity",
    "h1_histogram", "u1_scd2", "g1_pagerank", "t14_token_freq",
    "d8_dup_passages", "f1_funnel", "f2_retention", "pipe1_manifest",
    "u2_merge_upsert", "q37_except_all", "s8_knn_hybrid",
    "pipe2_multimodal", "q38_string_ops", "q39_null_semantics",
    "q40_aqe_skew", "log_fct_hourly_approx", "u3_time_travel",
    "u4_file_skip", "u5_incremental", "u6_zorder_skip",
    "u7_merge_snapshot", "d9_incremental_dedup", "d10_incremental_lsh",
    "s9_incremental_ivf",
    "s10_ann_recall", "dq2_profile", "d11_canonical_docs",
    "x2_sketch_rollup", "u8_shallow_clone",
    "q41_window_family2", "q42_string_agg", "q43_date_rollup",
    "q44_nullsafe_join", "m4_batch_pack", "t15_bm25",
    "q45_lateral", "q46_recursive_cte",
    "u9_delete_vectors", "u10_change_feed", "u11_merge_on_read",
    "t16_quality_model",
    "u12_restore", "u13_cdc_apply", "x1_approx_distinct",
    "u14_schema_evolution", "u15_check_constraints",
    "u16_exactly_once", "u17_compact_vacuum",
    "u18_concurrent_writers", "u19_incremental_deletes",
    "u20_update_where", "u21_bucketed_lookup", "u22_multi_table_txn",
    "u23_fast_count", "u24_bloom_lookup", "u25_compact_small",
    "u26_unique_append", "sd1_semantic_dedup", "sd2_incremental_semantic",
    "u27_materialized_view", "u28_sql_datasource", "u29_metadata_count",
    "u30_sql_insert", "x3_quantile_sketch", "x4_heavy_hitters",
    "u40_sql_bucket_ddl", "u42_null_stats",
    "u44_hourly_layout", "u45_cbo_reorder", "u46_metadata_checkpoint",
    "u47_ckpt_point_lookup", "u48_histogram_skew",
    "u49_ckpt_composite_lookup", "u50_ckpt_mixed_probe",
    "u51_bucket_join", "u52_stat_repairs",
    "u53_bucket_join_family", "u54_join_pruning", "u55_bucket_agg",
    "u56_cluster_tail", "u57_sorted_layout", "u58_join_agg",
    "u59_latest_by_key", "u60_aligned_asof", "u61_running_window",
    "u62_forward_asof", "u63_windowed_asof", "u64_sql_aligned_join",
    "u65_sql_aligned_agg", "u66_sql_join_family", "u67_sql_join_agg",
    "u68_sql_join_residual", "u69_composite_agg", "u70_sql_full_outer",
    "u71_sql_running")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val cpus = GraftConf.envInt("SPARK_GRAFT_CPUS", 4)
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` over `$sfDir`. Things to check:\n")
    sb.append("PushedFilters/ReadSchema on scans, BroadcastHashJoin on dims,\n")
    sb.append("TakeOrderedAndProject for top-k, no cartesian anywhere except\n")
    sb.append("the BroadcastNestedLoopJoin in s1_knn_brute — that one is the\n")
    sb.append("point: the brute-force baseline broadcasts the BOUNDED query\n")
    sb.append("set against the streaming corpus (all keyed operators — LSH,\n")
    sb.append("IVF, near-dup — join on bucket/band/cell keys instead).\n\n")
    picks.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      sb.append("\n```\n\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}

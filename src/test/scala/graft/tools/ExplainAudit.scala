package graft.tools
/** Prints formatted plans for representative queries — the scale
  * checklist: PushedFilters reach the scan, dims broadcast, partial
  * aggregation before shuffles, WholeStageCodegen coverage.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create("graft-explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    val names = if (args.nonEmpty) args.toSeq
      else Seq("rel_join_revenue", "ts_candle_1h", "ts_scan_recent", "llm_minhash_lsh",
        "ts_asof_join", "rel_rollup", "llm_filtered_topk", "llm_lm_score",
        "llm_domain_cap", "llm_pack_sequences", "llm_image_neardup",
        "llm_mix_sources", "llm_quality_filter", "llm_span_dedup",
        "llm_nb_classify", "llm_paragraph_dedup", "llm_knn_join",
        "llm_ann_recall", "llm_minhash_error", "llm_gram_novelty",
        "llm_kn_lm", "llm_dirichlet_ql", "llm_log_odds", "llm_sq8_topk",
        "llm_cdc_dedup", "llm_pagerank", "llm_rrf_fusion",
        "llm_bpe_train", "llm_pca_top", "llm_abtt_topk",
        "llm_hard_negatives",
        "ts_rsi", "ts_bollinger", "ts_ema", "ts_vwap",
        "llm_gopher_rules", "llm_margin_mine",
        "llm_margin_mine_cells", "llm_bloom_filter", "llm_containment",
        "ts_corr_topk", "ts_funnel", "ts_retention", "ts_sliding_distinct", "ts_markov",
        // r13 additions
        "ts_cusum", "ts_seasonal", "ts_var_es", "ts_var_backtest", "ts_beta",
        "llm_kcenter", "llm_heaps_law", "llm_jsonl_roundtrip",
        "ts_trimmed_mean", "ts_time_travel", "ts_change_feed", "llm_neyman_alloc", "llm_ks_drift",
        // r14 additions
        "ts_amihud", "ts_kyle_lambda", "ts_hurst", "llm_shard_assign", "llm_mmr_rerank")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      graft.SparkEntry.queries(n)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}

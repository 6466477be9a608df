package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Q, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FormattedMode, LogicalRDD}

/** Writes physical plans as reviewable evidence of scan pruning,
  * pushdown, join strategy and codegen coverage.
  *
  * With at most an `sfDir` argument it writes PLANS.md: the AQE-final
  * formatted plans of the flagship queries. With a tag and a query
  * list it writes `plans/<query>_<tag>.txt` per query, holding the
  * formatted plan, the AQE-final executed plan and the optimized plan
  * of every snapshot the query reads, so the plans before and after a
  * change can be diffed.
  * Usage: runMain graft.tools.PlanDump [sfDir]
  *        runMain graft.tools.PlanDump <tag> <q1,q2,...> [sfDir]
  */
object PlanDump {
  private val flagship = Seq(
    "q_join_multiway", "q_agg_hash", "q_topk", "q_scan_pruned",
    "q_win_topk_group", "q_dedup_near", "q_minhash_lsh", "q_sim_expr",
    "q_tumbling_batch", "q_join_theta", "q_join_range", "q_skew_agg",
    "q_doc_chunk", "q_decontam", "q_tfidf", "q_sample_stratified",
    "q_join_nullsafe", "q_centroid",
    "q_funnel", "q_anomaly", "q_hist", "q_bloom_decontam", "q_quantize_embed",
    "q_event_path", "q_corpus_yield", "q_ngram_freq", "q_text_stats",
    "q_bm25", "q_hybrid_rrf", "q_pack_sequences", "q_chunk_cdc",
    "q_mix_weights", "q_source_overlap",
    "q_join_bucketed", "q_join_range_native", "q_zorder",
    "q_inverted_index", "q_cooccur_lift", "q_group_sample",
    "q_filter_interval", "q_activity_islands", "q_event_transitions",
    "q_ohlc", "q_token_diversity", "q_label_affinity", "q_rfm",
    "q_rle_zorder", "q_boxplot", "q_profile", "q_day_over_day",
    "q_merge_upsert", "q_scd2", "q_ivm_refresh", "q_trend_fit",
    "q_abtest", "q_mutual_info", "q_gini", "q_rolling_median",
    "q_pagerank", "q_graph_butterflies", "q_sample_weighted",
    "q_decay_score", "q_char_entropy", "q_winsorize",
    "q_graph_jaccard", "q_holt_linear", "q_decompose",
    "q_attribution", "q_dedup_containment", "q_grouped_regression",
    "q_graph_components", "q_graph_bfs", "q_pca_power",
    "q_markov_stationary", "q_skyline", "q_kendall_tau",
    "q_bootstrap_ci", "q_graph_kcore", "q_graph_clustering",
    "q_stickiness", "q_changepoint", "q_theil_sen", "q_centroid_shift",
    "q_wilson_lb", "q_churn", "q_elasticity",
    // the window-df rewrite, the broadcast-grid JS drift, the shared
    // lag frame, and the probe-bounded calibration
    "q_cross_doc_ngram", "q_js_divergence", "q_ljung_box", "q_hurst",
    "q_minhash_est_err", "q_audience_overlap", "q_length_profile",
    // the shared cents-grid family, the integer HITS iteration, the
    // one-shuffle filter cascade, and the two-list capture-recapture
    // overlap
    "q_ks_test", "q_wasserstein_1d", "q_energy_dist", "q_hits",
    "q_filter_cascade", "q_capture_recapture", "q_compaction_plan",
    "q_periodogram", "q_trimmed_mean", "q_vocab_coverage",
    // the band-offset abc rewrite, the TopKAgg-shaped ranking metrics,
    // the AUC face of the cents grid, the audit trio's keyed probes,
    // the trigram-LM bucketing and the covariance-spectrum expansion
    "q_abc_class", "q_ndcg", "q_auc_roc", "q_ri_audit",
    "q_fd_violations", "q_ppl_bucket", "q_embed_dim", "q_qini",
    "q_blocking_quality", "q_matrix_profile", "q_burst_detect",
    "q_textrank", "q_keyphrase", "q_token_novelty",
    // the hub-capped wedge expansion, two more cents-grid rank tests,
    // the shared periodogram frame, and the bigram-entropy margin joins
    "q_graph_ra", "q_ansari_bradley", "q_brunner_munzel",
    "q_spectral_entropy", "q_word_entropy", "q_key_candidates",
    "q_chao1", "q_distinct_ngrams",
    // the DP/iterative and attribution shapes
    "q_dtw", "q_macd", "q_sigma_clip", "q_backtest_naive",
    "q_shapley_attribution", "q_markov_attribution", "q_fdr_bh",
    "q_isotonic", "q_kmeans_1d", "q_gmm_em", "q_logistic_1d",
    "q_dedup_verify", "q_bleu_pairs", "q_fellegi_sunter",
    "q_kn_logprob", "q_graph_closeness", "q_label_propagation",
    "q_t_closeness", "q_xyz_class", "q_ols2", "q_weibull_fit",
    // the decorrelated LATERAL, the audio decode rollups, the sq8
    // broadcast-quantize pass, the rich-club degree joins, and three
    // dailyGrid screens
    "q_join_lateral", "q_audio_features", "q_audio_silence",
    "q_sq8_recall", "q_graph_rich_club", "q_word_len_hist",
    "q_punct_profile", "q_cox_stuart", "q_bartels_rank", "q_pinball",
    // the PQ codebook/assignment broadcasts and the GIF87a
    // per-partition decode rollup
    "q_pq_recall", "q_video_frames")

  def main(args: Array[String]): Unit = args match {
    case Array(tag, names, sfArgs @ _*) =>
      withSession(sfArgs)(dumpQueries(tag, names.split(',').toSeq))
    case _ => withSession(args.toSeq)(dumpFlagship)
  }

  private def withSession(args: Seq[String])(dump: (SparkSession, String) => Unit): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = DevSession("4")
    try dump(spark, sfDir) finally spark.stop()
  }

  private def dumpFlagship(spark: SparkSession, sfDir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — AQE-final physical plans of flagship queries\n\n")
    sb.append(s"Generated by `graft.tools.PlanDump` on `$sfDir`. Things to see:\n")
    sb.append("`PushedFilters`/`ReadSchema` pruning on every scan, broadcast vs\n")
    sb.append("sort-merge choices, `WholeStageCodegen` spans, and the absence of\n")
    sb.append("cartesian products.\n")
    flagship.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // finalize AQE
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(FormattedMode))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${flagship.size} queries)")
  }

  private def dumpQueries(tag: String, names: Seq[String])
                         (spark: SparkSession, sfDir: String): Unit = {
    Files.createDirectories(Paths.get("plans"))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(FormattedMode)
      df.collect() // finalize this QueryExecution's adaptive plan
      val finalPlan = df.queryExecution.executedPlan.toString
      val body =
        s"== $name ($tag, $sfDir) ==\n\n--- explain formatted ---\n" +
          formatted + "\n--- AQE-final executed plan ---\n" + finalPlan +
          snapshotOrigins(df.queryExecution.optimizedPlan, 0) + "\n"
      val out = Paths.get("plans", s"${name}_$tag.txt")
      Files.writeString(out, body)
      println(s"WROTE $out")
    }
  }

  /** Q.snapshot truncates lineage onto LogicalRDD leaves; resolving each
    * leaf through the snapshot-origin registry (recursively) shows the
    * whole query, not just the post-snapshot tail. */
  private def snapshotOrigins(plan: LogicalPlan, depth: Int): String =
    if (depth > 6) ""
    else plan.collect { case r: LogicalRDD => r.rdd.id }.flatMap { id =>
      Q.snapshotOrigin(id).map { origin =>
        s"\n--- snapshot origin (rdd $id) optimized plan ---\n" +
          origin.toString + snapshotOrigins(origin, depth + 1)
      }
    }.mkString
}

package graft

import graft.tools.Meter

/** Scaling-evidence diagnostic: runs representative operators across the
  * three testdata scale factors (a 100× data range) and reports
  * steady-state wall time plus TOTAL SHUFFLE BYTES WRITTEN — the quantity
  * that decides whether an operator survives a 1000-executor cluster.
  * Results are recorded in SCALING.md and cited by SURVEY §9.
  *
  * Usage: `sbt "runMain graft.ScaleCurve"` (≈5 min); `SPARK_GRAFT_ONLY`
  * (comma-separated name prefixes) restricts it to a subset, for
  * collecting rows of newly added operators without re-running the
  * whole table.
  */
object ScaleCurve {

  def main(args: Array[String]): Unit = {
    val spark = LocalSpark(LocalSpark.defaultCpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    val queries = Seq(
      "q01_agg", "q04_join_large", "q08_window_topk", "q28_topk_agg",
      "q22_secure_transform", "q29_salted_join", "q31_exact_dedup",
      "q34_minhash_lsh", "q35_ngram_jaccard", "q36_simhash",
      "q37_winnow_fingerprint",
      "q40_cosine_topk", "q41_ann_lsh", "q42b_embed_neardup_lsh",
      "q44_ann_ivf", "q45_dup_clusters", "q45b_dup_clusters_lsh",
      "q54_asof_join", "q49_vocabulary",
      "q57_tfidf", "q58_bm25", "q59_unigram_quality",
      "q74_ann_pq", "q75_bloom_join", "q76_cdc_merge",
      "q77_key_skew_profile", "q78_contamination", "q79_sequence_packing",
      "q80_range_join", "q81_ann_ivfpq", "q82_boilerplate_score",
      "q84_bpe_merge_rank", "q87_semantic_dedup",
      "q87b_semantic_dedup_soft", "q90_ngram_decontam",
      "q91_mixture_resample", "q92_substring_runs",
      "q93_hard_negatives", "q94_bigram_quality", "q95_fuzzy_decontam",
      "q96_dup_ngram_fraction", "q97_funnel", "q98_retention_cohorts",
      "q99_event_transitions", "q100_source_health", "q101_curriculum",
      "q102_chunk_dedup_clean", "q103_decontam_report", "q104_rag_chunks",
      "q105_embedding_health", "q106_vocab_coverage",
      "q110_bpe_encode", "q111_quality_logistic", "q115_drift_psi",
      "q127_compaction", "q128_incremental_mv", "q129_pagerank",
      "q130_heavy_hitters", "q132_weighted_sample", "q133_zorder_maintain",
      "q138_embed_classifier", "q139_quantile_mv", "q141_semantic_decontam",
      "q142_shard_manifest", "q143_ann_sq8", "q144_incremental_clusters",
      "q147_token_budget", "q148_crawl_delta",
      "q149_semantic_dedup_incremental", "q150_length_buckets",
      "q151_heldout_lm", "q152_jl_projection", "q153_text_normalize",
      "q154_dp_counts", "q155_dataset_card", "q156_winsorize",
      "q158_winsorize_maintain", "q159_entity_resolution",
      "q160_entity_resolution_incremental", "q161_fd_profile",
      "q162_event_debounce", "q165_dataset_card_incremental",
      "q166_impute_median", "q167_orc_roundtrip", "q168_scd2_history",
      "q169_pit_join", "q171_frequent_pairs", "q172_zscore_outliers", "q173_association_rules",
      "q174_benford_audit", "q175_attribution", "q177_rfm_segmentation", "q178_zscore_maintain", "q180_seasonality", "q181_curation_pipeline",
      "q182_media_dedup_crosscodec", "q183_avro_roundtrip",
      "q184_stratified_quota_sample", "q185_source_overlap",
      "q186_prefix_filter_jaccard", "q187_bm25_incremental",
      "q190_containment_dedup", "q191_hll_incremental",
      "q193_bottomk_quantile", "q195_dsir_resample",
      "q196_cms_frequency", "q198_kmv_overlap",
      "q199_cusum_changepoint", "q200_dupgraph_transitivity",
      "q201_pareto_frontier", "q203_pareto_maintain",
      "q209_pagerank_maintain", "q210_transitivity_maintain",
      "q211_stream_pagerank_gate")

    val only = Catalog.only
    val selected = queries.filter(q => only.forall(_.exists(q.startsWith)))

    println(f"${"query"}%-18s ${"sf"}%-8s ${"sec"}%8s ${"shuffleMB"}%10s")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); name <- selected) {
      val dir = s"/root/testdata/$sf"
      // steady state: min of 2; shuffle metered on the LAST run. The
      // action is a noop write so every output column materializes (a
      // count() lets Catalyst prune unconsumed window/derived columns and
      // their exchanges — see Bench.scala header).
      val runs = (1 to 2).map { _ =>
        spark.catalog.clearCache()
        Meter.measure(spark) {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir)
            .write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
      }
      val best = runs.map(_._1).min
      val shuffleMb = runs.last._2.shuffleBytes / 1e6
      println(f"$name%-18s $sf%-8s $best%8.2f $shuffleMb%10.2f")
    }
    spark.stop()
  }
}

package graft

/** Dumps `explain("formatted")` for the headline queries — the
  * plan-review artifact behind PLANS.md (PlanSpec asserts the
  * load-bearing shapes; this is the human-readable form).
  *
  * Usage: `sbt "runMain graft.Plans [sfDir]"`.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Verify.session()
    spark.sparkContext.setLogLevel("ERROR")
    val headline = Seq(
      "q_wordcount_freq", "q_rel_pricing", "q_rel_topn", "q_rel_nation_rev",
      "q_events_asof", "q_dedup_minhash", "q_ann_bruteforce", "q_mm_frames",
      "q_tfidf", "q_decontaminate", "q_decontaminate_bloom",
      "q_text_repetition", "q_quality_rules",
      "q_dedup_incr_minhash", "q_layout_zorder", "q_events_cms",
      "q_passage_dedup", "q_shards", "q_lm_surprisal",
      "q_events_topk_agg", "q_corpus_overlap", "q_quality_model",
      "q_ann_pq", "q_pack_seqs", "q_pipeline",
      "q_profile", "q_key_skew", "q_dsir_weights", "q_mix_temperature",
      "q_lm_bigram", "q_ppl_buckets", "q_topic_phrases", "q_bpe_pairs",
      "q_probe_train", "q_pref_pairs", "q_vocab_unk", "q_compaction",
      "q_bpe_encode", "q_vocab_editdist", "q_split_leakfree",
      "q_vocab_growth",
      "q_corpus_drift", "q_events_anomaly", "q_curriculum",
      "q_token_budget", "q_dedup_weights", "q_snapshot_merge",
      "q_events_transitions", "q_events_gaps", "q_events_outliers",
      "q_lang_mix", "q_profile_drift", "q_rel_integrity",
      "q_dedup_sample", "q_dedup_sources", "q_mix_unimax",
      "q_unigram_encode", "q_mm_imagedup", "q_mm_imagedup_incr",
      "q_ann_ivf_injected", "q_dedup_cluster_sizes",
      "q_wordpiece_pairs", "q_wordpiece_encode", "q_dedup_prefix",
      "q_retrieval_rrf", "q_ann_hamming", "q_embed_mrl",
      "q_phrase_search", "q_phrase_prox", "q_phrase_projected",
      "q_events_decay", "q_ann_lsh_injected", "q_embed_rbo",
      "q_profile_corr", "q_dedup_keep_best", "q_dedup_diversity",
      "q_ann_pq_injected", "q_dedup_embedding_lsh",
      "q_bpe_encode_injected", "q_unigram_encode_injected",
      "q_dedup_incr_embedding", "q_dedup_cc_incr",
      "q_quality_calibrated", "q_pipeline_funnel", "q_delete_repack",
      "q_pack_padding", "q_decontaminate_spans", "q_embed_profile",
      "q_salt_plan", "q_corpus_overlap_incr", "q_dedup_incr_simhash",
      "q_dedup_incr_minhash_stored", "q_dedup_incr_exact_stored",
      "q_dedup_incr_minhash_refresh",
      "q_phrase_search_stored", "q_bm25_stored", "q_phrase_prox_stored",
      "q_phrase_search_refresh", "q_ann_ivfpq_injected",
      "q_ann_ivfpq_injected_stored",
      "q_phrase_search_seg", "q_bm25_seg", "q_phrase_search_compact",
      "q_dedup_simhash", "q_dedup_incr_simhash_refresh",
      "q_dedup_incr_embedding_refresh", "q_dedup_incr_minhash_seg",
      "q_dedup_incr_simhash_seg", "q_dedup_incr_embedding_seg",
      "q_dedup_incr_minhash_compact", "q_dedup_incr_simhash_compact",
      "q_dedup_incr_embedding_compact")
    // NOT headline: the trainer queries (q_bpe_vocab, q_wordpiece_
    // vocab) and the drained-stream twin (q_dedup_incr_exact_stream)
    // — their returned relation is driver-materialized (rule tables /
    // a memory-sink read), so the formatted plan is a LocalTableScan
    // that says nothing; their load-bearing plans are the per-round
    // kernels already covered by q_bpe_pairs / q_wordpiece_pairs and
    // the streaming plan is StreamingSpec's domain.
    headline.foreach { name =>
      println(s"\n## $name\n")
      println("```")
      println(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      println("```")
    }
    spark.stop()
  }
}

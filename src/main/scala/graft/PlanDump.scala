package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Writes plans/PLANS.md: the formatted physical plans of the flagship
  * queries — standing evidence of pushdown, pruning, broadcast, and
  * native-expression placement, readable without running anything.
  * Regenerate with `sbt "runMain graft.PlanDump"`. */
object PlanDump {
  private val Flagship = Seq(
    "q01_scan_filter", "q04_active_keys", "q06_regional_revenue",
    "q10_pricing_summary", "q18_flag_runs", "q25_asof_join",
    "q31_minhash_signatures", "q32_lsh_candidate_pairs",
    "q35_cosine_neardup", "q37_ann_lsh_topk",
    "q46_cosine_neardup_bucketed", "q47_session_stats",
    "q48_ann_ivf_learned", "q49_repetition_score",
    "q54_pack_sequences", "q55_contamination", "q59_simhash_pairs",
    "q72_containment_sketch", "q73_line_dedup", "q74_source_divergence",
    "q76_range_frame", "q79_decontaminate", "q80_shuffle_shards",
    "q81_remove_repeated_spans", "q82_ann_recall",
    "q83_containment_coordinated", "q90_zorder_cells",
    "q91_temperature_mix", "q92_embedding_sq8", "q93_sq8_neardup",
    "q94_pq_topk", "q96_pq_rerank", "q97_snapshot_diff", "q98_binary_ann",
    "q99_ivfpq_topk", "q100_snapshot_delta", "q101_ivfadc_topk",
    "q102_compaction_plan", "q104_takedown_propagation",
    "q105_quantization_drift", "q106_diversity_sample",
    "q108_interleaved_order", "q110_nb_langid", "q111_cdc_merge",
    "q112_pruning_plan", "q113_semantic_contamination",
    "q114_margin_mining", "q115_score_calibration",
    "q118_nb_holdout_confusion", "q119_bm25_topk", "q120_hybrid_rrf",
    "q121_dsir_weights", "q122_bm25_incremental", "q123_retrieval_ndcg",
    "q124_span_corruption", "q126_repetition_signals",
    "q127_hard_negatives", "q131_jl_projection", "q133_embedding_moments",
    "q134_whitened_embeddings", "q135_blocklist_screen",
    "q137_kn_bigram_model", "q138_kn_perplexity", "q139_cc_luhn",
    "q141_unigram_tokenize", "q142_preference_pairs",
    "q143_rendezvous_shards", "q148_zipf_diagnostics", "q149_heaps_fit",
    "q151_crossdoc_spans", "q152_crossdoc_dedup", "q153_winnow_fingerprints",
    "q155_ridge_distill", "q158_html_content", "q159_prf_expansion",
    "q160_weighted_sample", "q161_bucketed_packing", "q162_heavy_ngrams",
    "q163_ridge_by_lang", "q164_compression_screen", "q165_mojibake_scan",
    // q166 is deliberately NOT dumped: its treeAggregate runs on the
    // driver and returns a LocalTableScan — the "plan" audits nothing
    // and regenerating PLANS.md would pay a full covariance pass for it
    "q167_mpeg_frame_scan",
    "q168_gram_index_refresh", "q169_robust_drift",
    "q170_url_canonicalize", "q171_domain_stats", "q172_entropy_screen",
    "q173_score_auc", "q174_script_mix", "q175_shard_manifest",
    "q176_label_agreement", "q177_domain_token_cap",
    "q178_fim_transform", "q179_contamination_report",
    "q180_corpus_datasheet", "q181_url_dedup", "q182_kn_stats_refresh",
    "q183_nb_drift", "q184_blocklist_refresh", "q185_ann_truth",
    "q186_logistic_quality", "q187_logistic_calibration",
    "q189_wordpiece_tokenize", "q190_bpe_tokenize",
    "q191_logistic_drift", "q192_iban_scan", "q193_logistic_holdout",
    "q194_wordpiece_fertility", "q196_bytebpe_tokenize",
    "q197_bytebpe_fertility", "q198_tokenizer_roundtrip",
    "q199_gpt_pretokenize", "q200_bytebpe_gpt_tokenize",
    "q201_wordpiece_drift", "q202_tokenizer_drift",
    "q207_gpt_packed_sequences", "q208_histogram_pack",
    "q209_gpt_token_ids", "q210_gpt_packed_ids")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of flagship queries\n\n")
    sb.append("Generated by `graft.PlanDump` on sf0.001. What to look for:\n")
    sb.append("`PushedFilters`/`ReadSchema` on every scan, `BroadcastHashJoin`\n")
    sb.append("for dimension joins, partial+final `HashAggregate` pairs, \n")
    sb.append("`poly_hash`/`float_vector_dot` native expressions inline, and\n")
    sb.append("no UDFs anywhere.\n")
    def fmt(df: org.apache.spark.sql.DataFrame): String =
      // the contentHash sentinel literals (chr(0)/chr(1)) appear verbatim
      // in snapshot-audit plans — escape them so the file stays text
      df.queryExecution
        .explainString(ExplainMode.fromString("formatted")).trim
        .replace("\u0000", "\\x00").replace("\u0001", "\\x01")
    Flagship.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(fmt(df))
      sb.append("\n```\n")
    }
    // The flagship funnel has no single physical plan — settle() stage
    // boundaries (eager localCheckpoint) split it into one plan per
    // stage. Dump each stage's pre-settle plan: the stage's own
    // operators over the previous stage's checkpointed survivors,
    // exactly the unit the pipeline executes between boundaries.
    sb.append("\n## q117_curation_funnel (per-stage plans)\n\n")
    sb.append("The settle() boundaries mean no single plan exists; each\n")
    sb.append("stage below plans over the previous stage's checkpointed\n")
    sb.append("survivors (`Scan ExistingRDD`). Audit surface is the same\n")
    sb.append("as every other section: no UDFs, no cartesian products,\n")
    sb.append("broadcast joins on the survivor/drop-list sides.\n")
    graft.queries.PipelineShared.funnelStages(spark, sf).foreach {
      case (stage, plan, _) =>
        sb.append(s"\n### q117 stage: $stage\n\n```\n")
        sb.append(fmt(plan))
        sb.append("\n```\n")
    }
    val out = Paths.get("plans", "PLANS.md")
    Files.writeString(out, sb.toString)
    println(s"[plandump] wrote $out (${Flagship.size} plans + q117 stages)")
    spark.stop()
  }
}

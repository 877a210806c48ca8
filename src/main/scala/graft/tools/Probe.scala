package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import graft.GraftSession

/** One probe over the [[Harness]] scenario table, in three modes:
  *
  *  - `reps <name>...` — each scenario [[Reps]] times in this JVM, one
  *    line per rep with [[Harness.rep]]'s tuple (wall, in-rep GC, cached
  *    MB, load1). A fixture is persisted before rep 1 and no rep is a
  *    warm-up, so rep 1 carries the compile/JIT cost honestly. This is
  *    the evidence shape every bench-drift attribution has needed
  *    (isolated reps vs in-suite reps; climbing cached MB with flat GC
  *    for leaked blocks).
  *  - `stages <name>...` — one run each, split into DataFrame
  *    construction (with the eager jobs it runs) and execution, then per
  *    stage the task count, summed and max task time, and GC: what tells
  *    a 1-task stage pinning per-row work to one core apart from a
  *    genuinely expensive distributed stage.
  *  - `plan [<name>...]` — formatted physical plans. With names, one
  *    markdown section per scenario on stdout; with none, writes
  *    `plans/PLANS.md` ([[Flagship]] on sf0.001 plus the q117 funnel's
  *    per-stage plans).
  *
  * `sbt "runMain graft.tools.Probe stages q51_dedup_clusters"`; the sf
  * dir comes from SPARK_GRAFT_SF_DIR, the cores from SPARK_GRAFT_CPUS
  * (`plan` always uses `local[4]`, so plans do not depend on the host). */
object Probe {
  private val Reps = 5

  /** The queries PLANS.md explains: standing evidence of pushdown,
    * pruning, broadcast and native-expression placement. */
  private[graft] val Flagship = Seq(
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

  /** `df`'s formatted physical plan. The contentHash sentinel literals
    * (chr(0)/chr(1)) appear verbatim in snapshot-audit plans; they are
    * escaped so the text stays text. */
  private[graft] def formattedPlan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .trim.replace("\u0000", "\\x00").replace("\u0001", "\\x01")

  /** One markdown section: a heading and the fenced plan. */
  private def section(heading: String, df: DataFrame): String =
    s"\n$heading\n\n```\n${formattedPlan(df)}\n```\n"

  def main(args: Array[String]): Unit = {
    val (mode, names) = (args.headOption, args.toSeq.drop(1))
    require(mode.exists(Set("reps", "stages", "plan")) &&
      (names.nonEmpty || mode.contains("plan")),
      "usage: Probe reps|stages <scenario>... | Probe plan [<scenario>...]")
    val scenarios = names.map(Harness.scenario) // fail before any work
    val cpus = if (mode.contains("plan")) 4 else GraftSession.localCores
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runner = new Harness.Runner(spark, sfDir)
    mode.get match {
      case "reps"   => reps(runner, scenarios)
      case "stages" => stages(runner, scenarios)
      case _ if scenarios.isEmpty => plansMd(spark)
      case _ => scenarios.foreach { s =>
        runner.prepare(s)
        print(section(s"## ${s.name}", runner.plan(s)))
      }
    }
    runner.release()
    spark.stop()
  }

  private def reps(runner: Harness.Runner,
      scenarios: Seq[Harness.Scenario]): Unit =
    scenarios.foreach { s =>
      runner.prepare(s)
      (1 to Reps).foreach { i =>
        System.gc()
        val r = Harness.rep(runner.spark)(runner.run(s))
        println(f"[probe] ${s.name} rep $i: ${r.wall}%.2f s  gc ${r.gc}%.2f s" +
          f"  cached ${r.cachedMb}%.1f MB  load1 ${r.load1}%.2f")
      }
    }

  private def stages(runner: Harness.Runner,
      scenarios: Seq[Harness.Scenario]): Unit = {
    final case class St(var tasks: Int = 0, var runMs: Long = 0L,
        var maxMs: Long = 0L, var gcMs: Long = 0L, var name: String = "")
    // The listener-bus thread writes this map while the main thread
    // clears and reads it, so every access synchronizes on the map.
    val seen = mutable.LinkedHashMap.empty[Int, St]
    runner.spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        seen.synchronized {
          val s = seen.getOrElseUpdate(t.stageId, St())
          s.tasks += 1
          val m = t.taskMetrics
          if (m != null) {
            s.runMs += m.executorRunTime
            s.maxMs = math.max(s.maxMs, m.executorRunTime)
            s.gcMs += m.jvmGCTime
          }
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        seen.synchronized {
          seen.getOrElseUpdate(e.stageInfo.stageId, St()).name =
            e.stageInfo.name.takeWhile(_ != '\n')
        }
    })
    // The listener bus is private to Spark; a short sleep lets it drain.
    def drained[A](ms: Long)(read: => A): A = {
      Thread.sleep(ms)
      seen.synchronized(read)
    }
    scenarios.foreach { s =>
      runner.prepare(s)
      seen.synchronized(seen.clear())
      val tc0 = System.nanoTime()
      val df = runner.plan(s)
      val constructS = (System.nanoTime() - tc0) / 1e9
      val eager = drained(200)(seen.size)
      System.gc()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val execS = (System.nanoTime() - t0) / 1e9
      println(f"== ${s.name} construct $constructS%.2f s " +
        f"($eager eager stages) + exec $execS%.2f s ==")
      println(f"${"stage"}%7s ${"tasks"}%6s ${"sumRun_s"}%9s " +
        f"${"maxTask_s"}%10s ${"gc_s"}%6s  name")
      drained(300)(seen.toSeq).sortBy(_._1).foreach { case (id, st) =>
        println(f"$id%7d ${st.tasks}%6d ${st.runMs / 1e3}%9.2f " +
          f"${st.maxMs / 1e3}%10.2f ${st.gcMs / 1e3}%6.2f  ${st.name.take(60)}")
      }
    }
  }

  /** plans/PLANS.md. The prose, header line included (it names the main
    * that first wrote the file), is kept verbatim, so a regenerated file
    * diffs only where a plan changed. */
  private def plansMd(spark: SparkSession): Unit = {
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of flagship queries\n\n")
    sb.append("Generated by `graft.PlanDump` on sf0.001. What to look for:\n")
    sb.append("`PushedFilters`/`ReadSchema` on every scan, `BroadcastHashJoin`\n")
    sb.append("for dimension joins, partial+final `HashAggregate` pairs, \n")
    sb.append("`poly_hash`/`float_vector_dot` native expressions inline, and\n")
    sb.append("no UDFs anywhere.\n")
    Flagship.foreach { name =>
      sb.append(section(s"## $name", graft.SparkEntry.queries(name)(spark, sf)))
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
      case (stage, plan, _) => sb.append(section(s"### q117 stage: $stage", plan))
    }
    val out = Paths.get("plans", "PLANS.md")
    Files.writeString(out, sb.toString)
    println(s"[probe] wrote $out (${Flagship.size} plans + q117 stages)")
  }
}

package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for the scale-critical queries into
  * PLANS.md — the audited-plan evidence the 100 TB design claims rest on
  * (pushed filters, broadcast dims, partial aggs, no nested loops), and
  * a diffable regression reference alongside PlanShapeSpec. */
object Plans {
  private val Headline = Seq(
    "q1_agg", "q_range_scan_ordered", "q_point_get", "q_join_revenue",
    "q_salted_join", "q_range_join_funnel", "q_dedup_exact",
    "q_dedup_minhash_lsh", "q_knn_cosine_brute", "q_knn_cosine_sq8",
    "q_knn_cosine_ivf", "q_knn_cosine_pq", "q_knn_cosine_ivf_indexed",
    "q_knn_cosine_lsh_multiprobe", "q_knn_cosine_ivf_indexed_multiprobe",
    "q_tpch_q3", "q_zorder_scan",
    "q_corpus_clean", "q_dedup_embedding", "q_token_budget",
    "q_pack_sequences", "q_quality_deciles", "q_shuffle_deterministic",
    "q_dedup_paragraph", "q_top_ngrams", "q_rownum_global", "q_rank_global",
    "q_ntile_global", "q_lag_global", "q_running_global",
    "q_text_search", "q_text_phrase", "q_text_prefix",
    "q_suffix_global", "q_window_mixed_global", "q_range_centered_global",
    "q_resample_locf", "q_skew_window", "q_skew_lag", "q_skew_moving",
    "q_skew_rank", "q_topk_grouped", "q_text_merge", "q_knn_delete", "q_nth_global",
    "q_share_global", "q_range_frame_global", "q_moving_centered",
    "q_lag_ignorenulls_global", "q_media_decode", "q_media_video_meta",
    "q_skew_range", "q_skew_minmax", "q_text_bm25_live",
    "q_skew_topn", "q_skew_centered", "q_skew_gapfill", "q_skew_share",
    "q_skew_months", "q_skew_sketch", "q_skew_months_date",
    "q_skew_percentile", "q_sessionize", "q_chunk_overlap", "q_lm_bigram",
    "q_boilerplate", "q_retention_cohort", "q_pagerank", "q_fuzzy_join",
    "q_triangles", "q_key_skew", "q_scd2_intervals",
    "q_store_merge", "q_split_assign", "q_normalize_unicode",
    "q_vocab_oov", "q_corpus_drift", "q_dedup_incremental",
    "q_drift_by_source", "q_cdc_snapshot", "q_media_phash",
    "q_anomaly_zscore", "q_snapshot_diff", "q_expectations",
    "q_text_fuzzy", "q_histogram", "q_url_parse", "q_bpe_merges",
    "q_sample_weighted", "q_collocations", "q_ewma", "q_crawl_schedule",
    "q_bpe_encode", "q_winsorize",
    "q_salt_advisor", "q_collect_window", "q_window_multikey",
    "q_knn_cosine_ivf_indexed_deep",
    "q_simjoin_prefix", "q_join_salt_plan", "q_bpe_merges_sampled",
    "q_funnel", "q_index_lookup", "q_text_boolean", "q_domain_mix_temperature", "q_unpivot", "q_wow_growth", "q_asof_nearest_click",
    "q_funnel_windowed", "q_index_range", "q_interval_join", "q_quality_model",
    "q_text_more_like_this", "q_exact_quantiles", "q_embed_cohesion",
    "q_text_boolean_ranked", "q_profile", "q_salt_advisor_verify",
    "q_ann_join", "q_store_retention",
    "q_semdedup", "q_semdedup_incremental", "q_dedup_incremental_indexed",
    "q_decontaminate_fuzzy", "q_split_leakage_safe", "q_cms_topk",
    "q_quality_sweep", "q_batch_padding",
    "q_knn_truncated", "q_media_frame_schedule", "q_resalt_migration",
    "q_tfidf_terms", "q_join_size_estimate", "q_cms_screen", "q_scd2_pit",
    "q_recluster_migration", "q_reshard_migration")

  /** Full audit coverage (r13 VERDICT #3): the curated headline set
    * leads the file, then EVERY remaining `SparkEntry.queries` name is
    * appended sorted — no query ships without a recorded plan. */
  private def all: Seq[String] =
    Headline ++ SparkEntry.queries.keys.toSeq.filterNot(Headline.toSet).sorted

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    // per-query dump mode (optimization-round evidence): arg 3 =
    // "name1,name2,...", arg 4 = filename suffix — writes
    // <out>/<query><suffix>.txt per query instead of one PLANS.md
    val filter = args.lift(2).map(_.split(',').toSet)
    val suffix = args.lift(3).getOrElse("")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans for the headline queries\n\n"
    sb ++= s"Generated by `graft.Plans` at $sfDir. Things to check when\n"
    sb ++= "these change: `PushedFilters` on every parquet scan, `ReadSchema`\n"
    sb ++= "pruned to used columns, dimension joins `BroadcastHashJoin`,\n"
    sb ++= "aggregations `partial` before their exchange, no\n"
    sb ++= "`BroadcastNestedLoopJoin`/`CartesianProduct` outside the\n"
    sb ++= "intentional small-query-side knn broadcasts.\n\n"
    sb ++= "PARTITION BY windows carry a SIZE GATE\n"
    sb ++= "(`spark.graft.perKeyWindow.minChildBytes`, default 1g): below it\n"
    sb ++= "the stock hash-exchange WindowExec is the chosen plan (strictly\n"
    sb ++= "cheaper; worst-case hot-key task bounded by the threshold), at or\n"
    sb ++= "above it the skew-safe range-exchange rescue claims. The q_skew_*\n"
    sb ++= "demo queries below are rendered with the gate PINNED OPEN (as\n"
    sb ++= "Verify/Bench run them) — their plans are the AT-SCALE shape.\n"
    sb ++= "Organic queries (q_sessionize, q_resample_locf, ...) show the\n"
    sb ++= "test-scale stock shape the gate picks below the threshold.\n"
    var failed = 0
    val names = filter match {
      case Some(set) => all.filter(set)
      case None => all
    }
    if (filter.isDefined) Files.createDirectories(Paths.get(out))
    names.foreach { name =>
      val pin = SparkEntry.pinsRescueGate(name)
      try {
        val plan = SparkEntry.withRescueGate(spark, name) {
          SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        }
        if (filter.isDefined)
          Files.writeString(Paths.get(out, s"$name$suffix.txt"), plan)
        else {
          sb ++= s"\n## $name${if (pin) " (rescue gate pinned open)" else ""}\n\n```\n"
          sb ++= plan
          sb ++= "```\n"
        }
      } catch { case e: Throwable =>
        failed += 1
        // filter mode writes per-query files and never flushes sb — put
        // the failure where the evidence was expected, not in the void
        if (filter.isDefined)
          Files.writeString(Paths.get(out, s"$name$suffix.txt"),
            s"PLANNING FAILED: ${e.getMessage}\n")
        else sb ++= s"\n## $name\n\nPLANNING FAILED: ${e.getMessage}\n"
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
    if (filter.isEmpty) Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out (${names.size} queries, $failed failed)")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}

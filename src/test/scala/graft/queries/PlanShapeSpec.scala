package graft.queries

import graft.SparkSuite
import graft.SparkEntry

/** Physical-plan regression guards: the shapes the 100 TB design relies
  * on — dimension broadcasts, pushed filters, map-side partial
  * aggregation, the top-k operator — must survive refactors. A query can
  * be value-correct and still have lost the plan that makes it scale;
  * these specs fail on that silently-degraded state. */
class PlanShapeSpec extends SparkSuite {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf("sf0.01")).queryExecution.executedPlan.toString

  test("q1_agg: filter pushed to parquet, partial+final hash aggregation") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("partial_sum"), "map-side combine must be present")
  }

  test("q_range_scan_ordered: derived key bound reaches the parquet scan") {
    val p = plan("q_range_scan_ordered")
    assert(p.contains("GreaterThanOrEqual(ts,"), s"ts lower bound not pushed:\n$p")
    assert(p.contains("LessThan(ts,"), "ts upper bound not pushed")
  }

  test("star joins broadcast every dimension") {
    val p = plan("q_join_nation_region")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 3,
      "customer, nation and region must all broadcast")
  }

  test("q_topk plans TakeOrderedAndProject, not a global sort") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("knn brute force: query side broadcasts, corpus never shuffles") {
    val p = plan("q_knn_cosine_brute")
    assert(p.contains("BroadcastNestedLoopJoin"))
  }

  test("knn LSH + IVF: cross product replaced by a hash join on the bucket/cell") {
    assert(plan("q_knn_cosine_lsh").contains("BroadcastHashJoin"))
    assert(plan("q_knn_cosine_ivf").contains("BroadcastHashJoin"))
  }

  test("q_profile_approx: the report aggregate plans NO Expand; exact tier keeps its Expand") {
    // the approx tier exists to remove the exact multi-distinct's Expand
    // (input ×#distinct-columns into the exchange); if an Expand shows
    // up here the scale rationale is gone even though values still pass
    val p = plan("q_profile_approx")
    assert(!p.contains("Expand"), s"approx profile must not Expand:\n$p")
    // contrast pin: the exact tier legitimately pays the Expand — if
    // this stops holding, the comment in both queries is stale
    assert(plan("q_profile").contains("Expand"))
  }

  test("exact dedup aggregates partially before its one exchange") {
    val p = plan("q_dedup_exact")
    assert(p.contains("partial_min") || p.contains("partial_count"))
  }

  test("simjoin: equi-joins only, positional prefilter present, one intersect verify") {
    val p = plan("q_simjoin_prefix")
    // the candidate and verify joins must stay hash equi-joins — a
    // cosine/jaccard theta-join shape would plan nested-loop
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(2000))
    // the PPJoin positional filter runs BEFORE the verify joins: its
    // least(na - mi, nb - mj) bound appears as a codegen'd Filter
    assert(p.contains("least("), "positional filter missing")
    // verify is the single array_intersect per pair — not the three
    // array_distinct hash-set builds the r12 shape burned 500 CPU-s on
    assert(p.contains("array_intersect"), "intersect verify missing")
    assert(!p.contains("array_distinct"), "array_distinct crept back into the verify")
  }

  test("round-robin salting never plans an unpartitioned window") {
    val p = plan("q_salt_roundrobin_dist")
    // the two-pass global index windows by partition id; a regression to
    // Window.orderBy(...) with no partitioning serializes the table
    assert(!p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"),
      s"unpartitioned Window found:\n$p")
    assert(p.contains("__pid"), "two-pass partition-id window expected")
  }

  test("round-robin offsets reuse the ONE range exchange after execution") {
    // the offset subplan and the main plan must observe the identical
    // range partitioning; a second independent range exchange would mean
    // two samplings that can disagree (the silent row-drop ADVICE bug)
    val df = SparkEntry.queries("q_salt_roundrobin_dist")(spark, sf("sf0.01"))
    df.collect() // AQE finalizes reuse at runtime
    val p = df.queryExecution.executedPlan.toString
    val ranges = "Exchange rangepartitioning".r.findAllIn(p).length
    val reused = p.contains("ReusedExchange") || p.contains("TableCacheQueryStage")
    assert(ranges <= 1 || reused,
      s"expected a single (or reused) range exchange, found $ranges without reuse:\n$p")
  }

  test("token budget never plans a per-language single-task window") {
    val p = plan("q_token_budget")
    // the r3 formulation windowed over partitionBy(lang) alone — the
    // dominant language of a 100 TB corpus in ONE task. The two-pass
    // pattern windows by (__pid, lang): partition-bounded, fully parallel.
    assert(p.contains("__pid"), "two-pass partition-id window expected")
    assert(!p.matches("(?s).*Window \\[[^\\]]*\\], \\[lang[#\\d]*\\], \\[doc_id.*"),
      s"per-language window found — giant-language single task:\n$p")
    assert(!p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"),
      s"unpartitioned Window found:\n$p")
  }

  test("token budget offsets reuse the ONE range exchange after execution") {
    val df = SparkEntry.queries("q_token_budget")(spark, sf("sf0.01"))
    df.collect() // AQE finalizes reuse at runtime
    val p = df.queryExecution.executedPlan.toString
    val ranges = "Exchange rangepartitioning".r.findAllIn(p).length
    val reused = p.contains("ReusedExchange") || p.contains("TableCacheQueryStage")
    assert(ranges <= 1 || reused,
      s"expected a single (or reused) range exchange, found $ranges without reuse:\n$p")
  }

  test("global-index operators window by partition id, never one task") {
    // quality deciles + deterministic shuffle sit on Corpus.withGlobalIndex;
    // a regression to row_number over an unpartitioned window serializes
    // the corpus (the offsets windows run over ~numPartitions rows only)
    for (qn <- Seq("q_quality_deciles", "q_shuffle_deterministic",
      "q_exact_quantiles")) {
      val p = plan(qn)
      assert(p.contains("__pid"), s"$qn: two-pass partition-id window expected")
    }
  }

  test("global-index offsets reuse the ONE range exchange after execution") {
    for (qn <- Seq("q_quality_deciles", "q_shuffle_deterministic", "q_pack_sequences",
      "q_exact_quantiles")) {
      val df = SparkEntry.queries(qn)(spark, sf("sf0.01"))
      df.collect() // AQE finalizes reuse at runtime
      val p = df.queryExecution.executedPlan.toString
      val ranges = "Exchange rangepartitioning".r.findAllIn(p).length
      val reused = p.contains("ReusedExchange") || p.contains("TableCacheQueryStage")
      assert(ranges <= 1 || reused,
        s"$qn: expected a single (or reused) range exchange, found $ranges without reuse:\n$p")
    }
  }

  test("naive SQL row_number plans the two-pass exec, not single-task WindowExec") {
    val p = plan("q_rownum_global")
    assert(p.contains("GlobalRowNumber"), s"expected GlobalRowNumberExec:\n$p")
    assert(p.contains("rangepartitioning") || p.contains("REPARTITION_BY"),
      s"range exchange expected under the global row number:\n$p")
  }

  test("naive SQL global rank/dense_rank plans the two-pass exec too") {
    val p = plan("q_rank_global")
    assert(p.contains("GlobalRowNumber"), s"expected GlobalRowNumberExec:\n$p")
    assert(!p.contains("Window "),
      s"single-task WindowExec must not survive for global rank:\n$p")
    assert(p.contains("rangepartitioning") || p.contains("REPARTITION_BY"),
      s"range exchange expected under the global rank:\n$p")
  }

  test("naive SQL global moving aggregate plans the frame-fold exec") {
    val p = plan("q_moving_global")
    assert(p.contains("GlobalSlidingAgg"), s"expected GlobalSlidingAggExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"single-task WindowExec must not survive for the moving aggregate:\n$p")
  }

  test("naive SQL centered/lookahead moving frames plan the frame-fold exec") {
    val p = plan("q_moving_centered")
    assert(p.contains("GlobalSlidingAgg"), s"expected GlobalSlidingAggExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"single-task WindowExec must not survive for centered frames:\n$p")
  }

  test("naive SQL RANGE-interval trailing window plans the value-window exec") {
    val p = plan("q_range_frame_global")
    assert(p.contains("GlobalRangeFrame"), s"expected GlobalRangeFrameExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"single-task WindowExec must not survive for the range frame:\n$p")
  }

  test("naive SQL centered RANGE-interval windows plan the value-window exec") {
    val p = plan("q_range_centered_global")
    assert(p.contains("GlobalRangeFrame"), s"expected GlobalRangeFrameExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"single-task WindowExec must not survive for centered range frames:\n$p")
  }

  test("skew-safe partitioned window: no WindowExec, row data range-partitioned") {
    val p = plan("q_skew_window")
    assert(p.contains("GlobalRunningAgg") && p.contains("GlobalRowNumber"),
      s"the running sum/count and the row_number/ntile must both rescue:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
    assert(p.contains("Exchange rangepartitioning(user_id"),
      s"row data must range-partition over (user_id, order):\n$p")
    assert(!p.contains("hashpartitioning(user_id"),
      s"a hash exchange on user_id would pin a hot user to one task:\n$p")
  }

  test("skew-safe per-key lag/lead: boundary-stitch exec, no WindowExec") {
    val p = plan("q_skew_lag")
    assert(p.contains("GlobalOffsetWindow"),
      s"per-key lag/lead must ride the boundary-stitch exec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
    assert(!p.contains("hashpartitioning(user_id"),
      s"a hash exchange on user_id would pin a hot user to one task:\n$p")
  }

  test("skew-safe per-key moving average: both scans rescued, one exchange") {
    val p = plan("q_skew_moving")
    assert(p.contains("GlobalSlidingAgg"),
      s"the moving sum and the average's non-null count must ride the sliding exec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
    assert(!p.contains("hashpartitioning(user_id"),
      s"a hash exchange on user_id would pin a hot user to one task:\n$p")
    assert("Exchange ".r.findAllIn(p).length == 1,
      s"the window and the final ORDER BY must share one range exchange:\n$p")
  }

  test("skew-safe per-key rank family: ranking exec, no WindowExec") {
    val p = plan("q_skew_rank")
    assert(p.contains("GlobalRowNumber"),
      s"per-key rank/dense_rank/percent_rank/cume_dist must ride the ranking exec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
    assert(!p.contains("hashpartitioning(user_id"),
      s"a hash exchange on user_id would pin a hot user to one task:\n$p")
  }

  test("skew-safe per-key RANGE-interval frame: range exchange, no WindowExec") {
    val p = plan("q_skew_range")
    assert(p.contains("GlobalRangeFrame"),
      s"the per-user INTERVAL window must ride the value-window exec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
    assert(!p.contains("hashpartitioning(user_id"),
      s"a hash exchange on user_id would pin a hot user to one task:\n$p")
  }

  test("skew-safe per-key running min/max: group-aware prefix scan, no WindowExec") {
    val p = plan("q_skew_minmax")
    assert(p.contains("GlobalRunningAgg"),
      s"per-key min/max must ride the group-aware prefix scan:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
    assert(!p.contains("hashpartitioning(user_id"),
      s"a hash exchange on user_id would pin a hot user to one task:\n$p")
  }

  test("skew-safe top-N-per-key: both ranking specs rescued, no WindowExec") {
    val p = plan("q_skew_topn")
    assert("GlobalRowNumber".r.findAllIn(p).length >= 2,
      s"BOTH per-key ranking specs (arrival rn; value rank) must rescue:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
    assert(!p.contains("hashpartitioning(user_id"),
      s"a hash exchange on user_id would pin a hot user to one task:\n$p")
  }

  test("skew-safe per-key centered ROWS frame: sliding exec, no WindowExec") {
    val p = plan("q_skew_centered")
    assert(p.contains("GlobalSlidingAgg"),
      s"the per-key centered frame must ride the sliding exec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
    assert(!p.contains("hashpartitioning(user_id"),
      s"a hash exchange on user_id would pin a hot user to one task:\n$p")
  }

  test("month-interval per-key RANGE frame: calendar bounds, no WindowExec") {
    val p = plan("q_skew_months")
    assert(p.contains("GlobalRangeFrame"),
      s"month frames must ride the value-window exec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
    assert(!p.contains("hashpartitioning(user_id"),
      s"a hash exchange on user_id would pin a hot user to one task:\n$p")
  }

  test("per-key sketch window: constant-agg exec carries the HLL partials") {
    val p = plan("q_skew_sketch")
    assert(p.contains("GlobalConstantAgg"),
      s"approx_count_distinct per key must ride the edge-merge exec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
  }

  test("skew-safe share-of-group-total: constant-agg exec, no hash exchange") {
    val p = plan("q_skew_share")
    assert(p.contains("GlobalConstantAgg"),
      s"per-key group constants must ride the edge-merge exec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
    assert(!p.contains("hashpartitioning(user_id"),
      s"a hash exchange on user_id would pin a hot user to one task:\n$p")
  }

  test("skew-safe per-key IGNORE NULLS gap fill: value stitch, no WindowExec") {
    val p = plan("q_skew_gapfill")
    assert(p.contains("GlobalOffsetIgnoreNulls"),
      s"per-key IGNORE NULLS offsets must ride the value stitch:\n$p")
    assert(p.contains("GlobalNthValue"),
      s"the per-key nth_value family must split out and rescue too:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec may appear:\n$p")
    assert(!p.contains("hashpartitioning(user_id"),
      s"a hash exchange on user_id would pin a hot user to one task:\n$p")
  }

  test("resample/LOCF: gap-fill window plans the prefix-scan exec") {
    val p = plan("q_resample_locf")
    assert(p.contains("GlobalRunningAgg"),
      s"LOCF last_value IGNORE NULLS must ride the prefix scan:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"single-task WindowExec must not survive for LOCF:\n$p")
  }

  test("naive SQL global running sum plans the prefix-scan exec") {
    val p = plan("q_running_global")
    assert(p.contains("GlobalRunningAgg"), s"expected GlobalRunningAggExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"single-task WindowExec must not survive for the running aggregate:\n$p")
  }

  test("naive SQL global nth_value plans the constant-lookup exec") {
    val p = plan("q_nth_global")
    assert(p.contains("GlobalNthValue"), s"expected GlobalNthValueExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"single-task WindowExec must not survive for nth_value:\n$p")
  }

  test("naive SQL suffix frames plan the reversed prefix-scan exec") {
    val p = plan("q_suffix_global")
    // three window specs: two suffix nodes (reversed GlobalRunningAgg)
    // and one explicit whole-table frame (GlobalConstantAgg)
    assert("GlobalRunningAgg".r.findAllIn(p).length >= 2,
      s"expected two GlobalRunningAggExec nodes for the suffix frames:\n$p")
    assert(p.contains("GlobalConstantAgg"),
      s"expected GlobalConstantAggExec for the ordered whole-table frame:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"single-task WindowExec must not survive for suffix frames:\n$p")
  }

  test("mixed-family window node splits: all five families rescued") {
    val p = plan("q_window_mixed_global")
    assert("GlobalRunningAgg".r.findAllIn(p).length >= 2,
      s"expected running AND suffix GlobalRunningAggExec:\n$p")
    assert(p.contains("GlobalRowNumber"), s"expected GlobalRowNumberExec:\n$p")
    assert(p.contains("GlobalOffsetWindow"), s"expected GlobalOffsetWindowExec:\n$p")
    assert(p.contains("GlobalSlidingAgg"), s"expected GlobalSlidingAggExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"single-task WindowExec must not survive the split:\n$p")
  }

  test("naive SQL global lag/lead plans the boundary-stitch exec") {
    val p = plan("q_lag_global")
    assert(p.contains("GlobalOffsetWindow"), s"expected GlobalOffsetWindowExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"single-task WindowExec must not survive for global lag/lead:\n$p")
  }

  test("naive SQL whole-table SUM(x) OVER () plans the constant-attach exec") {
    val p = plan("q_share_global")
    assert(p.contains("GlobalConstantAgg"), s"expected GlobalConstantAggExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"single-task WindowExec must not survive for the whole-table aggregate:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"whole-table aggregate must not funnel into one task:\n$p")
  }

  test("naive SQL lag/lead IGNORE NULLS plans the value-stitch exec") {
    val p = plan("q_lag_ignorenulls_global")
    assert(p.contains("GlobalOffsetIgnoreNulls"),
      s"expected GlobalOffsetIgnoreNullsExec:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"single-task WindowExec must not survive for IGNORE NULLS offsets:\n$p")
  }

  test("naive SQL percent_rank/cume_dist/ntile: BOTH window nodes rewritten") {
    val p = plan("q_ntile_global")
    assert("GlobalRowNumber".r.findAllIn(p).length >= 2,
      s"two GlobalRowNumberExec nodes expected (two window specs):\n$p")
    assert(!p.contains("Window "),
      s"single-task WindowExec must not survive for the ranking family:\n$p")
  }

  test("top-ngrams plans TakeOrderedAndProject with map-side partial counts") {
    val p = plan("q_top_ngrams")
    assert(p.contains("TakeOrderedAndProject"), s"global sort where top-k expected:\n$p")
    assert(p.contains("partial_count"), "shingle counts must combine map-side")
  }

  test("paragraph dedup windows by chunk hash, aggregates partially") {
    val p = plan("q_dedup_paragraph")
    assert(!p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"),
      s"unpartitioned Window found:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-doc aggregation must start map-side")
  }

  test("banded embedding dedup plans one bucket groupBy, no self-equi-join blowup") {
    val p = plan("q_dedup_embedding")
    // the blocking stage must be the capped band-bucket aggregation
    // (collect_set + slice), not a raw bucket=bucket self-join
    assert(p.contains("collect_set"), s"band-bucket aggregation missing:\n$p")
    assert(p.contains("partial_collect_set") || p.contains("objHashAggregate") ||
      p.contains("ObjectHashAggregate"), "bucket agg should combine map-side")
  }

  test("minhash signatures partial-aggregate map-side (narrow shingle generator)") {
    val p = plan("q_minhash_signature")
    assert(p.contains("partial_min"), "per-doc min aggs must start map-side")
    assert(p.contains("Generate wordshingles"),
      "narrow shingle generator missing from the plan")
  }

  test("chunking is narrow: explode of a bounded sequence, no window, no join") {
    val p = plan("q_chunk_overlap")
    // the chunk assignment is a per-row function — any Window or Join in
    // the plan means the narrow windowing op grew global state
    assert(p.contains("Generate explode"), s"bounded-sequence explode missing:\n$p")
    assert(!p.contains("Window"), s"chunking must not plan a window:\n$p")
    assert(!p.contains("Join"), s"chunking must not plan a join:\n$p")
    // one exchange total: the output-determinism ORDER BY; the chunk
    // derivation itself must stay in the scan stage
    assert(p.sliding("Exchange".length).count(_ == "Exchange") == 1,
      s"chunk derivation must not shuffle:\n$p")
  }

  test("boilerplate: exact count-distinct df, boiler set broadcasts back") {
    val p = plan("q_boilerplate")
    assert(p.contains("BroadcastHashJoin"),
      s"the boilerplate set must broadcast to the scoring join:\n$p")
    assert(p.contains("partial_count"), "df/per-doc aggs must combine map-side")
    assert(!p.contains("SortMergeJoin"),
      s"chunk rows must never shuffle for the scoring join:\n$p")
  }

  test("key-skew report: global ntile and total ride the rescues, one exchange") {
    val p = plan("q_key_skew")
    assert(p.contains("GlobalRowNumber"),
      s"the decile ntile must plan the global row-number rescue, not WindowExec:\n$p")
    assert(p.contains("GlobalConstantAgg"),
      s"the whole-table total must plan the constant-agg spread:\n$p")
    assert(!p.contains("Window "),
      s"no single-task stock window may survive in the skew report:\n$p")
    assert(p.contains("partial_count"), "per-key counting must combine map-side")
    assert(p.contains("ReadSchema: struct<user_id:bigint>"),
      s"the scan must prune to the key column alone:\n$p")
  }

  test("scd2: both per-key windows share ONE user exchange and sort") {
    val p = plan("q_scd2_intervals")
    // lag (change points) and lead (interval close) order identically —
    // a second hash exchange on user_id would mean the window chain
    // re-shuffled between passes
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userExchanges <= 1,
      s"expected the two windows to share one user_id exchange, found $userExchanges:\n$p")
  }

  test("retention: event-type filter pushed, distinct grain combines map-side") {
    val p = plan("q_retention_cohort")
    assert(p.contains("EqualTo(event_type,purchase)"),
      s"cohort filter must reach the parquet scan:\n$p")
    assert(p.contains("partial_count"), "the rollup must combine map-side")
    assert(!p.contains("Join"), s"retention needs no join — the cohort is a window:\n$p")
  }

  test("pagerank: per-iteration partial sums, cached edges, top-k finish") {
    // the query cuts the iteration chain (localCheckpoint under AQE-off,
    // like the CC loop), so assert the two halves separately: the final
    // plan is a top-k over the |nodes|-row cut...
    val df = SparkEntry.queries("q_pagerank")(spark, sf("sf0.01"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"final top-20 must be TakeOrderedAndProject, not a global sort:\n$p")
    // ...and the iteration step itself combines map-side over the cached
    // edge list (one round is representative — rounds are identical)
    import spark.implicits._
    val e = graft.operators.PageRank
      .edges(Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")).persist()
    try {
      val step = graft.operators.PageRank
        .iterate(e, graft.operators.PageRank.initRanks(e), 1)
      val sp = step.queryExecution.executedPlan.toString
      assert(sp.contains("partial_sum"), s"rank contributions must combine map-side:\n$sp")
      assert(sp.contains("InMemoryTableScan") || sp.contains("TableCacheQueryStage"),
        s"the edge list must be read from cache, not rebuilt per iteration:\n$sp")
    } finally { e.unpersist(); () }
  }

  test("fuzzy join runs at the dictionary grain: blocked broadcast, no all-pairs") {
    val p = plan("q_fuzzy_join")
    assert(p.contains("BroadcastHashJoin"),
      s"the name dictionary must broadcast on the blocking key:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocked ER must never plan an all-pairs comparison:\n$p")
    assert(p.contains("partial_count"), "name-dictionary counts must combine map-side")
  }

  test("triangles: support-pruned edge set broadcasts both quadratic joins") {
    val df = SparkEntry.queries("q_triangles")(spark, sf("sf0.01"))
    df.collect() // cache + AQE finalize
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"wedge and closing joins must broadcast the pruned edge set:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no all-pairs step may survive the support threshold:\n$p")
    assert(p.contains("partial_count"), "support counting must combine map-side")
  }

  test("bigram LM: capped vocab via top-k operator, scoring join broadcasts") {
    val p = plan("q_lm_bigram")
    assert(p.contains("TakeOrderedAndProject"),
      s"LM head must be TakeOrderedAndProject, not a global vocab sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the scoring join must broadcast the LM (hot-bigram skew immunity):\n$p")
    assert(p.contains("partial_count"), "bigram counting must combine map-side")
    assert(p.contains("Generate wordshingles"),
      "narrow bigram generator missing from the plan")
  }

  test("CDC merge: touched keys broadcast, base anti-joins without a hash shuffle") {
    val p = plan("q_store_merge")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"the touched-key set must broadcast into an anti-join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange hashpartitioning"),
      s"the base table must never shuffle in a merge:\n$p")
  }

  test("split assignment: pure map-side hash, scan pruned to the three columns") {
    val p = plan("q_split_assign")
    assert(p.contains("partial_count"), "census must combine map-side")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"),
      s"text must be pruned from the scan:\n$p")
    assert(!p.contains("Window"), "the split hash must not require a window/shuffle")
  }

  test("unicode canonicalization runs inside whole-stage codegen on a pruned scan") {
    val df = SparkEntry.queries("q_normalize_unicode")(spark, sf("sf0.01"))
    df.collect() // AQE must finalize before codegen markers appear
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("nfc_clean"), s"custom expression missing:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"only doc_id+text may be read:\n$p")
    // the project carrying the expression must be a codegen'd (`*(n)`) node
    assert(p.linesIterator.exists(l =>
      l.contains("nfc_clean") && l.trim.stripPrefix("+- ").startsWith("*(")),
      s"nfc_clean fell out of whole-stage codegen:\n$p")
  }

  test("vocab/OOV: top-200 cut never plans an unpartitioned stock window; vocab broadcasts") {
    val p = plan("q_vocab_oov")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocabulary must broadcast into the scoring join:\n$p")
    assert(!p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"),
      s"global top-200 cut must ride the rescue, not a single-task Window:\n$p")
    assert(p.contains("partial_count"), "token counting must combine map-side")
  }

  test("CDC snapshot: one map-side-partial max_by agg resolves versions, no window") {
    val p = plan("q_cdc_snapshot")
    assert(p.contains("partial_max_by"),
      s"version resolution must combine map-side:\n$p")
    assert(!p.contains("Window"),
      s"resolution must be an agg, not a per-key row_number sort:\n$p")
  }

  test("incremental dedup: index-probe join is a hash join, never all-pairs") {
    val p = plan("q_dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"probe must bucket-join the stored index, not cross it:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      "verified-match election must combine map-side")
  }

  test("per-source drift: per-key windows only, no scalar-combine join") {
    val p = plan("q_drift_by_source")
    assert(!p.contains("Join"),
      s"per-source KS totals must be constant windows, not a join:\n$p")
    assert(!p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"),
      s"every window must be PARTITION BY source:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"),
      s"scan must prune to doc_id+source+n_chars:\n$p")
  }

  test("salt advisor: candidate fan-out is an explode, never a corpus join") {
    val p = plan("q_salt_advisor")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate evaluation must be row-local explode + hash join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-key counts must combine map-side")
    assert(p.contains("BroadcastHashJoin"),
      s"the full-bucket-range left join must broadcast:\n$p")
    assert(p.contains("Generate explode"),
      s"candidate fan-out must be a Generate, not a join:\n$p")
  }

  test("sorted collect window rides the ordered constant-agg rescue") {
    val p = plan("q_collect_window")
    assert(p.contains("GlobalConstantAgg"),
      s"ordered whole-frame collect_list must rescue:\n$p")
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no single-task built-in WindowExec expected:\n$p")
  }

  test("multi-key ORDER BY query: every family rescued, no built-in window") {
    val p = plan("q_window_multikey")
    Seq("GlobalRowNumber", "GlobalRunningAgg", "GlobalOffsetWindow").foreach(g =>
      assert(p.contains(g), s"$g expected in:\n$p"))
    assert(!p.linesIterator.exists(_.trim.stripPrefix("+- ").startsWith("Window [")),
      s"no built-in WindowExec expected:\n$p")
  }

  test("q_index_range: the index scan prunes its file listing to the covered value bins") {
    // run the query once so the stores exist, then re-plan and find the
    // vb-partitioned index scan: the [3, 11) probe at width 8 covers
    // exactly bins 0 and 1 — nothing else may survive the listing
    SparkEntry.queries("q_index_range")(spark, sf("sf0.01")).collect()
    val df = SparkEntry.queries("q_index_range")(spark, sf("sf0.01"))
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.partitionSchema.fieldNames.contains("vb") => f
    }
    assert(scans.nonEmpty, "no vb-partitioned index scan found in the plan")
    scans.foreach { sc =>
      assert(sc.partitionFilters.nonEmpty,
        s"range-index scan lost its static bin bounds:\n${df.queryExecution.sparkPlan}")
      val bins = sc.relation.location
        .listFiles(sc.partitionFilters, sc.dataFilters)
        .map(_.values.getInt(0)).sorted.toSeq
      assert(bins === Seq(0, 1), s"[3, 11) must prune to bins 0,1 — listed $bins")
    }
  }

  test("funnel: conditional-min chain on one user_id partitioning, no window over users") {
    for (q <- Seq("q_funnel", "q_funnel_windowed")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q step joins must be equi-joins on user_id:\n$p")
      assert(p.contains("partial_min"), "per-step earliest-completion must combine map-side")
      // the only window is the 3-row constant spread for conv_ppm —
      // and it must ride the zero-exchange GlobalConstantAgg rescue,
      // not a single-task WindowExec (the house pattern for whole-frame
      // denominators, same as q_domain_mix_temperature)
      assert(!p.matches("(?s).*Window \\[[^\\]]*user_id.*"),
        s"$q: no per-user window — the funnel is an agg chain:\n$p")
      assert(p.contains("GlobalConstantAgg"),
        s"$q: step-1 denominator must ride the constant spread:\n$p")
      // match a WindowExec under ANY tree prefix (":- ", ":  +- ", …) —
      // a bare startsWith("Window [") after stripping "+- " misses
      // window nodes rendered on a join branch
      assert(!p.linesIterator.exists(
          _.trim.dropWhile(c => c == ':' || c == '+' || c == '-' || c == ' ' || c == '*')
            .startsWith("Window [")),
        s"$q: no built-in WindowExec expected:\n$p")
    }
  }

  test("corpus drift: no scalar-combine join; all four windows ride the rescues") {
    val p = plan("q_corpus_drift")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct")
      && !p.contains("Join"),
      s"KS totals must be constant windows, not a scalar join:\n$p")
    assert(!p.matches("(?s).*Window \\[[^\\]]*\\], \\[\\].*"),
      s"running sums must ride the global rescue:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      s"scan must prune to doc_id+n_chars:\n$p")
  }
}

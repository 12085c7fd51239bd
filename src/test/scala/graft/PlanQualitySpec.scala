package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec, SortMergeJoinExec}

import graft.PlanQualitySpec.PinnedShuffles
import graft.tools.Probe.planNodes

/** Structural scale guard: builds (without executing) the physical plan
  * of every registered query and rejects accidental cartesian products —
  * the plan shape that silently works at sf0.01 and melts at 100 TB.
  * Intentional 1-row summary crosses and broadcast probe-set crosses are
  * whitelisted BY NAME so a new quadratic join cannot sneak in unseen. */
class PlanQualitySpec extends SparkSuite {

  /** Queries that intentionally cross-join single-row aggregates (their
    * inputs are 1-row summaries, so the product is 1×1×…) — anything
    * NOT in this set must plan without CartesianProductExec. */
  private val oneRowCrossWhitelist = Set(
    "chain_zip_vs_join", "chain_dedup_idempotent", "chain_ref_integrity",
    "dedup_split_leakage",
    // funnel audit: seven 1-row stage aggregates crossed into one row
    // (plans as BNLJ or CartesianProduct depending on size estimates —
    // both are 1×1 at runtime)
    "pipeline_refinery",
    // funnel summary: three 1-row aggregates crossed into one row
    "q42_funnel",
    // per-domain rows × the broadcast 1-row corpus-total aggregate
    "filter_domain_mix",
    // sampling audit: seven 1-row count aggregates crossed into one row
    "sample_universe_join")

  test("no registered query plans a cartesian product (except 1-row summaries)") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(oneRowCrossWhitelist)
      .filterNot(_ == "chain_ingest_1k") // executes a write on plan build
      .flatMap { name =>
        val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
        if (planNodes(plan).exists(_.isInstanceOf[CartesianProductExec]))
          Some(name)
        else None
      }
    assert(offenders.isEmpty, s"cartesian product in: $offenders")
  }

  // ------------------------------------------------------------------
  // Shuffle-count pinning (VERDICT r5 item 4): an accidental extra
  // exchange now fails CI the way a cartesian does. Counts are the
  // pre-AQE physical plan's ShuffleExchangeExec nodes at the spec's sf;
  // refresh deliberately via `SPARK_GRAFT_CPUS=4
  // SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 runMain graft.tools.Probe
  // plan` after an intentional plan change.

  private def shuffleCount(name: String): Int =
    planNodes(SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeExec])

  test("headline queries plan exactly their pinned shuffle counts") {
    val drift = PinnedShuffles.keys.toSeq.sorted
      .map(n => (n, shuffleCount(n), PinnedShuffles(n)))
      .filter { case (_, got, want) => got != want }
    assert(drift.isEmpty,
      s"shuffle-count drift (name, got, pinned): $drift — if the plan change " +
        "is deliberate, refresh the pins via SPARK_GRAFT_CPUS=4 " +
        "SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 runMain graft.tools.Probe plan")
  }

  test("join strategy is pinned: q03 broadcasts all three dims, q04 degrades to sort-merge, never cartesian") {
    val p3 = planNodes(
      SparkEntry.queries("q03_join_broadcast")(spark, sf).queryExecution.executedPlan)
    assert(p3.count(_.isInstanceOf[BroadcastHashJoinExec]) == 3,
      "q03 must broadcast its three dimension joins")
    assert(!p3.exists(_.isInstanceOf[SortMergeJoinExec]),
      "q03 must not shuffle-join a broadcastable dim")
    // q04 is the big-big join: broadcastable at this tiny sf, but with
    // broadcast off (the 100 TB regime, where neither side fits) it must
    // degrade to a shuffle join on the key — never a cartesian
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val p4 = planNodes(
        SparkEntry.queries("q04_join_shuffle")(spark, sf).queryExecution.executedPlan)
      assert(p4.exists(_.isInstanceOf[SortMergeJoinExec]),
        "q04 with broadcast disabled must plan a sort-merge join")
      assert(!p4.exists(_.isInstanceOf[CartesianProductExec]))
    } finally spark.conf.set(thresholdKey, old)
  }

  test("the pin actually catches a de-optimized plan (extra repartition = extra exchange)") {
    val pinned = PinnedShuffles("q01_pricing_summary")
    val deoptimized = planNodes(
      SparkEntry.queries("q01_pricing_summary")(spark, sf)
        .repartition(64) // the accidental-extra-shuffle a refactor could add
        .queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeExec])
    assert(deoptimized > pinned,
      "an extra repartition must register as shuffle-count drift")
  }
}

object PlanQualitySpec {

  val PinnedShuffles = Map(
    "q01_pricing_summary" -> 2, // groupBy + orderBy
    "q03_join_broadcast" -> 2, // dims broadcast: only agg + sort shuffle
    "q04_join_shuffle" -> 3,
    "q25_sessionization" -> 2,
    "q30_topk_custom_operator" -> 2, // TopKPerGroupExec: shuffle on group + sort
    "dedup_exact" -> 2,
    // r16: served from the family-shared DupTables checkpoint — the one
    // visible shuffle is the output sort; the signature/bucket/verify
    // dag's shuffles live in the shared build (guarded by
    // DupTablesCacheSpec + the dedup_clusters pins below). Was 3 when
    // every consumer re-ran the dag privately.
    "dedup_minhash_lsh" -> 1,
    "dedup_minhash_oph" -> 3, // same shape over OPH signatures (bucket agg, collision-set shingle distinct feed, output sort)
    "sim_ann_lsh" -> 3,
    "text_tfidf" -> 4,
    "chain_gas_by_range" -> 2,
    "dedup_bloom_probe" -> 6,
    "cluster_kmeans" -> 2,
    // The two most expensive plans. Their checkpoints TRUNCATE the final
    // plan: dedup_clusters' 2 shuffles are the cluster-size window +
    // orderBy over the checkpointed CC labels, and split_leakage's 5 are
    // the audit joins over the checkpointed pairs/assignment. A refactor
    // that un-checkpoints the shared MinHash dag (re-running the whole
    // candidate pipeline per consumer) would surface that dag's shuffles
    // here and fail this pin instead of silently drifting the bench.
    "dedup_clusters" -> 2,
    "dedup_split_leakage" -> 5,
    // DSIR post-checkpoint plan (bucket counts materialize once behind
    // a lineage truncation): tiny totals agg + per-doc agg + output
    // sort; λ model joins are broadcast (≤ DsirBuckets rows). The topk
    // variant replaces the sort with TakeOrdered (2).
    "sample_dsir_weights" -> 3,
    "sample_dsir_topk" -> 2,
    // Post-checkpoint triangle plan: wedge self-join on src (its two
    // arms reuse ONE exchange of the checkpointed oriented edges) +
    // per-part agg + TakeOrdered; degree lookups and the wedge-closure
    // probe are broadcasts. A fourth exchange here means the closure
    // stopped broadcasting or the edge checkpoint was dropped.
    "graph_triangles" -> 3,
    // Post-checkpoint plan (r14: the (a,b) co-occurrence count IS the
    // family-shared CoTables.pairs materialization): the visible plan
    // is just the per-part rollup feeding TakeOrdered. A second
    // exchange means the pair expansion escaped the shared projection.
    "graph_butterflies" -> 1,
    // Post-checkpoint plan (the keyed rows materialize once behind a
    // lineage truncation): the 1-row extent agg, the bucket agg, the
    // output sort; the 1-row crosses are broadcast BNLJs.
    "layout_zorder" -> 3,
    "layout_zorder3" -> 3,
    "layout_hilbert" -> 3,
    // Behavioral family: pure window-chain plans. The funnel's ONE
    // user_id exchange feeds all three WindowExecs AND the per-user
    // rollup (same partitioning); level histogram + output sort are the
    // other two. sequenceCount: user_id exchange (window + rollup) +
    // output range sort. A join or per-user re-shuffle appearing in
    // either plan is a de-optimization and fails here.
    "events_window_funnel" -> 3,
    "events_sequence_count" -> 2,
    // Hampel: ONE user_id exchange feeding the rolling-frame window
    // (median/MAD are array ops inside it) + output sort. A third
    // exchange means a self-join or per-user re-shuffle crept in.
    "events_hampel" -> 2,
    // Golden record: post-truncation plan over the checkpointed match
    // table — election window + votes/stats aggs + canon⋈stats + output
    // sort. The pin failing at ~25 means the truncation was dropped and
    // the whole blocked-linkage dag re-executes per consumer.
    "match_golden_record" -> 7,
    // Quantile sketch: the two histogram aggs (grid + exact arm), their
    // grid-sized cum windows, quantile-pick aggs, output sort; the
    // sketch⋈exact join broadcasts. More means a corpus-scale sort.
    "sketch_quantile_hist" -> 5,
    // Sliding HLL: per-day state agg (truncated), window-merge agg,
    // estimator agg, daily-active distinct + its window/exact aggs,
    // output sort; spine joins broadcast. The pin guards the truncation
    // and the equi-join (not range-join) window-merge shape.
    "sketch_hll_sliding" -> 8,
    // Post-checkpoint graph plans: kcore's final estimate table is
    // lineage-truncated, so the registered plan is scan + output sort
    // only (the loop's per-round work is measured in SCALE.md, not
    // visible here). Star CC: label union+distinct over the converged
    // star edges + cluster-size window + output sort.
    "graph_kcore" -> 1,
    "dedup_clusters_star" -> 3,
    // ExactSubstr spans: gram-count agg + the per-doc island window +
    // per-doc rollup feed + output sort; the dup-gram semi-join and the
    // all-docs left join are broadcasts. No pair join exists to regress,
    // so the pin guards against the gram explode being re-shuffled.
    "dedup_exact_substr" -> 4,
    // PMI collocations: bigram-count agg, unigram agg (+ its 1-row
    // totals rollup), the bigram-total rollup, and TakeOrdered; the
    // vocabulary and totals join back as broadcasts. All shuffles are
    // vocabulary- or 1-row-sized except the bigram count.
    "text_collocations" -> 6,
    // BPE encode: the apply chain is literal map-only replaces (the
    // merge table is a bounded driver read), so the registered plan is
    // just the word explode's per-doc count agg + output sort; the
    // training loop's shuffles sit behind its lineage truncations.
    "text_bpe_encode" -> 2,
    // dHash near-dup: signatures are a mapPartitions pass (no pixel
    // rows), so the plan is band-bucket agg + pair distinct + output
    // sort — all signature-sized. A 4th exchange means pixel-scale
    // data started moving.
    "media_phash_neardup" -> 3,
    // k-truss: the registered plan is the FINAL support pass over the
    // checkpointed fixpoint edges — symmetric adjacency union (2
    // branch exchanges), the two common-neighbor join keys, the
    // support agg feed, and the output sort, all edge-table-sized. A
    // broadcast variant measured slower (SCALE.md); partitioned joins
    // are deliberate.
    "graph_ktruss" -> 7,
    // Interval merge: ONE user_id exchange feeds the cummax/island
    // windows AND the two same-key groupBys; + the output sort. A third
    // exchange means the island rollup stopped reusing the window's
    // partitioning.
    "events_intervals_merged" -> 2,
    // EWMA fence / MASE eval: the day-grid agg + the 1-row/output pass;
    // the range self-join and lag-7 join are broadcasts over the
    // bounded day grid. A third exchange means the grid joins stopped
    // broadcasting (a corpus-scale shuffle at 100 TB).
    "events_ewma_fence" -> 2,
    "events_forecast_mase" -> 2,
    // Zipf / readability: one corpus agg (term count) or just the
    // output sort; top-N is TakeOrdered and the rank window is a
    // bounded-pool constant partition. A second/third exchange means a
    // global sort crept in.
    "text_zipf_slope" -> 1,
    "text_readability" -> 1,
    // Round-13 additions (counts under THIS session's config, which
    // keeps boundedGlobal's constant partition key — each such window
    // costs one visible single-partition exchange here). ks_test:
    // per-user agg + histogram agg + cum window + its agg feed — never
    // a user-count-sized shuffle.
    "events_ks_test" -> 4,
    // Sequence audit: ONE scope-keyed exchange feeds the lag window AND
    // the per-scope rollup; + output sort. Basefee audit: the block
    // SPINE's bounded-global lag window + range rollup + sort (blocks
    // are the small table by construction).
    "chain_txindex_audit" -> 2,
    "chain_basefee_audit" -> 3,
    // Chi-square (r15 narrow rewrite): the shuffle-free quality DAG
    // feeds ONE lang-keyed pivot agg, the 1-row margin cross is a
    // broadcast BNLJ, and the final grid sum is the only other
    // exchange. More means the grid joins or the metric explode
    // shuffles crept back.
    "filter_chi_square" -> 4,
    // Heaps: term explode agg, first-appearance agg, per-doc agg, the
    // doc-spine cumulative window + its sums-agg feed; the doc join
    // broadcasts at spec sf.
    "text_heaps_law" -> 5,
    // Delete-retraction MV readout: post-write scan + month agg + sort.
    "mv_delete_retraction" -> 2,
    // Link prediction post-checkpoint: the adj self-join's two branch
    // exchanges (SMJ on ctr over the checkpointed hub-capped adjacency)
    // + the (a,b) wedge agg + the scored-pair anti-join feed; degree
    // lookups broadcast, top-K is TakeOrdered. A fifth exchange means
    // the wedge stream is being re-shuffled — the one thing this plan
    // must never do.
    "graph_link_prediction" -> 4,
    // Transition matrix: ONE user_id exchange (the lag window), then
    // the (from,to) count agg, the per-source totals window, and the
    // output sort — the last three on a vocabulary²-bounded frame. A
    // 5th exchange means the event stream is moving more than once.
    "events_transitions" -> 4,
    // Hybrid RRF: the BM25 arm's tf/df aggs (3) + the 20-row-a-side
    // full-outer fusion SMJ (2); the dense arm's probe cross and the
    // BM25 stats joins are broadcasts, and both top-K pools are
    // TakeOrdered, never a global sort.
    "search_hybrid_rrf" -> 5,
    // kNN graph: bucket agg, candidate-pair distinct, per-source rank
    // window, output sort; the two embedding lookups broadcast at spec
    // sf. All shuffles are bucket/pair-sized, never corpus².
    "sim_knn_graph" -> 4,
    // Audio fingerprint: signatures are a mapPartitions pass (no
    // sample rows), so the plan is band-bucket agg + pair distinct +
    // output sort — the dHash shape.
    "media_audio_neardup" -> 3,
    // Video frame-set MinHash: frame-hash distinct, 16-perm sig agg,
    // band-bucket agg, pair distinct, per-video set agg, output sort —
    // frame rows collapse immediately; everything after shuffle 1 is
    // signature-/pair-sized.
    "media_video_neardup" -> 6,
    // Line dedup (post-checkpoint): the distinct feed for line df, the
    // (source, hash) df agg, the per-doc rebuild rollup, output sort;
    // the df table joins back as a broadcast at spec sf. A 5th
    // exchange means the segmentation pass stopped being reused.
    "filter_line_dedup" -> 4,
    // Sparse all-pairs (post-checkpoint): norms agg, the posting
    // self-join's pair agg (+ its feed), output sort; the dot/norm
    // joins broadcast at spec sf. The weighted-postings checkpoint
    // keeps the gram explode out of this plan entirely.
    "sim_allpairs_sparse" -> 4,
    // Hierarchically-blocked fuzzy linkage (post-stats-checkpoint):
    // the refined-block residual-cap agg, the corpus×corpus candidates
    // SMJ on the refined key (2 — the honest big-big shape; blocks are
    // cap-bounded so neither side skews), the per-probe rank/count
    // windows (one probe_id exchange), output sort. The oversized-set
    // stats agg runs ONCE behind a truncation and feeds all three
    // subtrees — a 6th exchange means it is being recomputed.
    "match_fuzzy_blocked" -> 5,
    // Fellegi-Sunter EM scoring plan (post-checkpoint): output sort
    // ONLY — the blocked pair table is checkpointed once and the 8
    // EM-round aggregates live behind that truncation (driver state is
    // the 9-parameter milli vector). A 2nd exchange means scoring
    // re-derived the blocking pipeline.
    "match_fs_em" -> 1,
    // Classifier scoring plan: output sort ONLY — features are
    // checkpointed once and the 16 training aggregates live behind
    // that truncation (driver state is 8 weights). A 2nd exchange
    // means scoring re-derived the metrics pipeline.
    "filter_quality_classifier" -> 1,
    // SCD2: ONE user_id exchange feeds every window (run boundaries,
    // version numbering, interval chaining) + the output sort. A 3rd
    // exchange means a (user, version) re-shuffle crept back in.
    "events_scd2" -> 2,
    // DPP join: dim agg, final month agg, output sort; the fact-dim
    // join is the reused broadcast the pruning subquery hangs off.
    "layout_dpp" -> 3,
    // Source overlap (post-checkpoint): the pair count agg (+ feed),
    // the per-source size agg, output sort; the size joins and the
    // posting self-join broadcast at spec sf. The distinct shuffle is
    // behind the (source, h) checkpoint.
    "dedup_source_overlap" -> 4,
    // Attribution: the per-purchase count/rank windows (one p_id
    // exchange), the (user, touch_type) rollup, output sort; the
    // purchase-touch pairing broadcasts at spec sf.
    "events_attribution" -> 3,
    // HLL: the (group, register) max agg, the per-group register
    // rollup, the exact-distinct arm's two aggs, output sort; the
    // exact join broadcasts. All shuffles are register- or
    // group-sized except the first.
    "sketch_hll_distinct" -> 5,
    // HyperANF final radius: R rounds live behind per-round
    // truncations; the visible plan is the last round's edge⋈register
    // propagation agg + the estimate rollups unioned per radius (each
    // radius frame is 1 row post-truncation) + output sort. Register
    // state travels as ONE 16-long array column per node — a blow-up
    // past this pin means registers started exploding to rows.
    "graph_anf" -> 5,
    // Join-MV delta refresh: the refreshed MV read back + output sort
    // only — the three delta terms and the dynamic-overwrite merge run
    // at WRITE time behind the scratch materialization; the scoring
    // read must not re-derive them.
    "mv_join_refresh" -> 1,
    // Bradley-Terry: the (order, brand) totals agg feeds the bounded
    // per-order pair self-join (broadcast at spec sf), the win-matrix
    // agg collapses to items² before collect; final output is the
    // 25-row driver frame joined/sorted — one visible exchange.
    "rank_bradley_terry" -> 1,
    // Personalized PageRank: every push round lives behind a
    // truncation; the visible plan is the last round's mass aggregate
    // + output sort... which AQE folds into ONE exchange at spec sf.
    // Growth means rounds stopped truncating.
    "graph_ppr" -> 1,
    // Label spreading: the kNN edges, the cell assignment and every
    // voting round are truncated; the visible plan is the final
    // labeled⋈cells broadcast + output sort.
    "sim_label_spread" -> 1,
    // Unigram tokenizer encode: the word-vocab aggregate feeds a
    // bounded driver train; the visible plan is the corpus word
    // explode joined broadcast to the seg table + per-doc agg +
    // output sort (2). A 3rd exchange means the seg join shuffled.
    "text_unigram_encode" -> 2,
    // q48 two-phase distributed rank (r9 verdict item 1): the
    // (flag, price-grid-cell) window exchange + the same-key count agg,
    // the flag-keyed offset window over the SHARD-COUNT-sized table,
    // the (flag, tile) rollup, and the output sort; offsets join back
    // as a broadcast. A naive Window.partitionBy(l_returnflag) plans
    // 3 shuffles — this pin failing at 3 means the scale-killer
    // single-task sort came back.
    "q48_window_stats" -> 5,
    // PNG roundtrip: ONE mapPartitions codec pass + the output sort —
    // a second exchange means the codec stage started shuffling
    "media_png_roundtrip" -> 1,
    // Cohen's kappa: the (order, brand) rollup exchange feeds the pair
    // self-join (SMJ — both sides are the same aggregated table), part
    // joins broadcast, one global 1-row agg; growth means the pair
    // derivation started re-shuffling
    "rank_cohen_kappa" -> 5,
    // perplexity fence: the per-doc bigram agg, the histogram-quantile
    // window (histogram-sized), the per-lang rollup + sort; the fence
    // itself joins back as a broadcast
    "filter_ppl_fence" -> 4,
    // Poisson bootstrap: the user rollup (the ONE corpus-scale
    // exchange, behind the truncation), the R-group replicate agg, and
    // the 1-row collect_list CI agg; the overall/CI combine is a 1×1
    // broadcast nested loop. Growth means replicates started shuffling
    // corpus-scale rows.
    "events_bootstrap_ci" -> 3,
    // Winsorized/trimmed: two histogram builds (agg + histogram-sized
    // cumulative window each) + the final per-source rollup + sort;
    // the decile cut points join back as broadcasts.
    "filter_winsorized" -> 6,
    // HITS: iterations sit behind per-round truncations; the visible
    // plan is the final auth⋈hub SMJ (2) + output sort (1). Drift means
    // an iteration's join/agg escaped its truncation.
    "chain_address_hits" -> 3,
    // Fertility: encode chain is map-only over the truncated vocab; the
    // per-doc encode agg, the per-doc char agg, the per-lang rollup and
    // the output sort; lang and per-doc frames join broadcast.
    "text_fertility" -> 4,
    // RM3: stage-2 feedback runs on 10 docs (broadcast semi-join);
    // visible exchanges are the truncated tf2's per-doc agg + final
    // rollup + output sort; df2/stats/weights all broadcast.
    "text_rm3_rescore" -> 3,
    // Sequential OBF: the (day, arm) corpus rollup, the day-grid
    // cumulative window (the boundedGlobal lit(0) key survives in this
    // session and plans its own hash + sort exchanges), the 1-row
    // horizon agg, and the output sort; the horizon total joins back
    // as a broadcast nested loop.
    "events_sequential_obf" -> 6,
    // Seasonal hours: hourly rollup and deviation frame are truncated
    // (each feeds a median build AND a join-back); visible plan is the
    // MAD histogram's agg + window + min agg and the final rollup+sort
    // collapsing over the broadcast fence join.
    "events_seasonal_hours" -> 4,
    // Top-k MV: all maintenance is write-side; the readout is a
    // TakeOrdered over the bucketed aggregate table with the rank
    // window on the post-limit k rows — zero exchanges.
    "mv_topk_maintain" -> 0,
    // Flow balance: edge aggregate truncated; visible plan is the two
    // direction rollups, the address-keyed full-outer SMJ (2) and the
    // output sort.
    "chain_flow_balance" -> 5,
    // Theil-Sen: daily grid + pairs truncated; visible plan is the
    // slope-histogram agg, its boundedGlobal cumulative window (hash +
    // sort exchanges in this session), the 1-row median agg and the
    // summary aggs joined as broadcast nested loops.
    "events_theil_sen" -> 5,
    // Good-Turing: term/fof rollups behind the truncation; visible
    // plan is the r+1 shift join (broadcast), totals broadcast and the
    // output sort over histogram rows.
    "text_good_turing" -> 2,
    // CDC: chunk table truncated; visible plan is the dup groupBy, the
    // chunk-keyed semi join (SMJ), the two per-doc rollups and the
    // output sort. Growth means the chunk table started recomputing.
    "dedup_cdc_chunks" -> 6,
    // Assortativity: edge/degree builds truncated (trianglesOf's
    // shape); visible plan is the stub-union global agg, degrees join
    // back as broadcasts — ONE exchange.
    "graph_assortativity" -> 1,
    // JS divergence: the (source, term) rollup truncated; visible plan
    // is the two bounded grid aggregates, the grid left join feed and
    // the per-source rollup + sort — all source×vocab-sized.
    "filter_js_divergence" -> 5,
    // CUSUM: daily grid truncated; the 14 visible exchanges are ALL
    // day-grid or histogram sized (two histogram-median builds and the
    // prefix windows — each boundedGlobal window keeps its lit(0) key
    // in this session and plans hash + sort exchanges — plus the tiny
    // aggs). Nothing corpus-scale. Drift means the daily rollup
    // escaped its truncation.
    "events_cusum" -> 14,
    // Power analysis: ONE user rollup + the 1-row design agg.
    "events_power_analysis" -> 2,
    // Top paths: the (user, day) session collect + the path rollup
    // feeding TakeOrdered — a join appearing here is a de-optimization.
    "events_top_paths" -> 2,
    // Modularity: und/deg/labels all truncated (r14: deg now rides the
    // family-shared CoTables); visible plan is the community-degree
    // agg and the two 1-row stat aggs; labels join as broadcasts.
    "graph_modularity" -> 3)
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §8's shuffle-budget table, executable (VERDICT r5 next-round
  * #1): every registry query has a pinned shuffle-exchange budget, no
  * query may plan a CartesianProduct, and nested-loop joins are allowed
  * only where a bounded broadcast side is the design (sim-search probes,
  * ≤16-row stat frames crossJoined back onto a corpus). The bench is
  * noise-prone; this is the mechanical guard that actually protects the
  * 100×-scale posture when a query is edited — a new Exchange or a
  * lost equi-key fails here, deterministically, at planning time.
  *
  * Budgets are the measured pre-execution plan counts at sf0.001
  * (`runMain graft.PlanTool budget`). Counts are over the INITIAL
  * adaptive plan, which prints duplicated exchange subtrees that AQE's
  * exchange reuse dedups at runtime — so a budget is an upper bound on
  * planned shuffles, not a claim of distinct runtime shuffles
  * (llm_dedup_band_recall plans 14: its cached gram subtree prints
  * once per consuming leg, and runtime reuse runs each once). A NEW
  * query must add a row
  * here: the `every query has a budget` test fails otherwise.
  */
class PlanBudgetSpec extends AnyFunSuite with SparkSpec {

  /** queryId → max shuffle exchanges in the pre-execution plan. */
  private val maxExchanges: Map[String, Int] = Map(
    // r13 verdict shape: the exact anchor adds the distinct-expand
    // aggregate exchange
    "agg_approx_distinct" -> 2,
    // two keyed aggregates (events->(type,bucket) words, words->type)
    // + final sort
    "agg_bitmap_distinct" -> 3,
    // r13 verdict shape: sketch agg + rank-verify join agg + sort
    "agg_approx_percentile" -> 3,
    // distinct-key agg + distinct-hash agg + TakeOrdered(K) scalar
    // frame; exact count rides a 1-row crossJoin (allowed bnl)
    "agg_distinct_kmv" -> 3,
    // (type,bucket) word agg feeding sizes + bucket-keyed pair join +
    // pair agg + ≤|types|² frame (crossJoin of 5-row sizes = allowed
    // bnl) + sort; word subtree prints per consuming leg
    "agg_bitmap_overlap" -> 9,
    // one conditional-aggregation pass over the broadcast-dim join
    "agg_ab_test" -> 1,
    // projection + 2x2 cell agg + scalar frame
    "agg_cohen_kappa" -> 2,
    // digit projection + 9-cell agg + whole-frame window + sort
    "agg_benford" -> 2,
    // name census agg + vocabulary-sized blocked self-join +
    // Levenshtein filter + TakeOrdered
    "join_fuzzy_match" -> 2,
    // one global price-sort window (shared by both frames) + filter
    "agg_skyline" -> 1,
    // four anti-join/count-distinct edges (each a keyed agg) unioned
    // as 1-row frames (crossJoins = allowed bnl) + output sort
    "dq_referential" -> 12,
    // three per-table scalar hash-sum aggs unioned + output sort
    "table_checksum" -> 3,
    // contingency agg + two margin windows over the tiny cell frame +
    // final scalar agg
    "agg_chi2_test" -> 4,
    // same contingency frame + margin windows + two distinct-margin
    // entropy aggs crossJoined as 1-row frames
    "agg_mutual_info" -> 12,
    // segment percentile agg (broadcast back) + conditional re-agg +
    // sort
    "agg_trimmed_mean" -> 3,
    // cached distinct (order,item) + pair self-join agg + item-count
    // joins back onto the pruned pair table + TakeOrdered; N is a
    // 1-row crossJoin (allowed bnl); subtrees print per consuming leg
    "agg_basket_lift" -> 10,
    "agg_argmax" -> 2,
    "agg_corr" -> 2,
    "agg_distinct" -> 2,
    "agg_entropy" -> 5,
    "agg_filtered" -> 2,
    "agg_gini" -> 2,
    "agg_global" -> 1,
    "agg_groupby" -> 2,
    "agg_grouping_sets" -> 2,
    "agg_histogram" -> 2,
    // value-cell conditional agg + one ordered window over the
    // domain-bounded distinct-cent frame (+ TakeOrdered argmax)
    "agg_ks_test" -> 2,
    "agg_listagg" -> 2,
    // same distinct-cent cell frame as ks_test: cell agg + ordered
    // window, then one scalar aggregate
    "agg_mannwhitney" -> 2,
    "agg_mode" -> 3,
    "agg_moments" -> 2,
    "agg_percentile" -> 2,
    "agg_pivot" -> 3,
    "agg_rollup_cube" -> 2,
    "agg_skew_kurt" -> 2,
    // customer-keyed cents agg + TakeOrdered top-10 + grand-total
    // scalar agg; OTHER row is a 1-row crossJoin (allowed bnl)
    "agg_topk_others" -> 4,
    "agg_unpivot" -> 1,
    "agg_weighted_avg" -> 2,
    // key shuffle per snapshot side + output sort
    "cdc_snapshot_diff" -> 3,
    // change-feed full-outer (key shuffles) + anti-join vs base +
    // union + priority rollup; diff subtree prints per consuming leg
    "cdc_apply" -> 9,
    "compact_roundtrip" -> 0,
    "dim_scd2" -> 2,
    // three single-purpose audits (2 on orders incl. one count-distinct,
    // 1 on customer) crossJoined as 1-row frames
    "dq_constraints" -> 4,
    "filter_pred" -> 1,
    "fn_array_map" -> 1,
    "fn_array_set" -> 1,
    "fn_bitwise" -> 1,
    "fn_codec" -> 1,
    "fn_date" -> 1,
    "fn_interval" -> 1,
    "fn_json" -> 1,
    "fn_map" -> 1,
    "fn_math" -> 1,
    "fn_null" -> 1,
    "fn_regex" -> 1,
    "fn_string" -> 1,
    "fn_struct" -> 1,
    "fn_variant" -> 1,
    // staged XML read + output sort (row-wise parse, like scan_json)
    "scan_xml" -> 1,
    // ONE multi-path scan -> per-file groupBy + per-version groupBy
    // (membership joins broadcast) + sort; O(1) in history depth
    // (log resolution is driver-side metadata, not a plan node)
    "scan_txn_log" -> 3,
    // same O(1) rollup shape over the post-OPTIMIZE history
    "txn_log_compact" -> 3,
    // one added-files multi-path scan: per-file + per-version + sort
    "txn_log_history" -> 3,
    // one scalar agg per READABLE version (v2+v3 under the retention
    // horizon; each exchange prints once per consuming union leg) +
    // one literal frame + sort
    "txn_log_vacuum" -> 3,
    // tip read under mergeSchema -> one scalar agg, no sort
    "txn_log_schema_evo" -> 1,
    // pruned multi-path scan -> one scalar agg; pruning itself is
    // driver-side log metadata, not a plan node
    "txn_log_data_skipping" -> 1,
    // pruned read (census is driver metadata) + one scalar agg
    "txn_log_partition_prune" -> 1,
    // post-merge tip read + one scalar agg
    "txn_log_merge" -> 1,
    // post-clause-merge tip read + one scalar agg (probe/census are
    // fixture staging, not the query plan)
    "txn_log_merge_clauses" -> 1,
    // r14: one final agg over the post-sync tip read (the sync's own
    // census/rewrites run at fixture-staging time, not in the plan)
    "txn_log_merge_sync" -> 1,
    // r14: one final agg over the post-delete tip read
    "txn_log_delete_subquery" -> 1,
    // r15: same shape — the EXISTS/struct-key membership joins run at
    // fixture-staging time; the hashed plan is one agg over the tip
    "txn_log_delete_exists" -> 1,
    "txn_log_delete_multicol_in" -> 1,
    // pruned multi-path scan of surviving z cells + one scalar agg
    // (the z rewrite's one exchange happens at fixture staging)
    "txn_log_zorder" -> 1,
    // append versions diff shuffle-free; the two rewrite versions pay
    // one exceptAll aggregate each way (4) + feed groupBy + sort
    "txn_log_cdf" -> 6,
    // post-delete tip read + one scalar agg (census is log metadata)
    "txn_log_delete" -> 1,
    // dv-applied tip read (broadcast anti join, shuffle-free) + one
    // scalar agg; both delete censuses are log metadata
    "txn_log_delete_dv" -> 1,
    // post-restore tip read + one scalar agg (the whole restore is
    // one metadata commit; censuses are log replay)
    "txn_log_restore" -> 1,
    // tip read + one scalar agg; constraint checks run at fixture
    // staging (one pass per checked write), census is log state
    "txn_log_constraints" -> 1,
    // clone-tip read + one scalar agg; the clone itself is one
    // metadata commit (zero data I/O), the src rollup a bounded
    // 1-row readback
    "txn_log_clone" -> 1,
    // pruned multi-path scan + one scalar agg; rename/drop are
    // metadata commits at staging, the prune census is log replay
    "txn_log_rename_drop" -> 1,
    // bloom-pruned point-lookup scan + one scalar agg; the probe
    // census is driver metadata (pruneEq over log state)
    "txn_log_bloom" -> 1,
    // two pushdown-pruned V1-relation scans (one scalar agg each)
    // crossJoined as 1-row frames (allowed bnl); censuses are
    // driver metadata
    "txn_log_sql_pushdown" -> 2,
    // tip read + one scalar agg; the protocol gate is one comparison
    // on already-replayed driver state
    "txn_log_protocol" -> 1,
    // one global agg over the post-DML tip (lifecycle runs at staging)
    "txn_log_sql_dml" -> 1,
    // catalog tip read (V2 columnar) + one scalar agg; the v3 rollup
    // is a bounded 1-row readback, censuses are log metadata
    "txn_log_catalog" -> 1,
    // the scan_txn_log rollup shape + broadcast probe join + sort
    "txn_log_time_travel" -> 4,
    "join_asof" -> 2,
    "join_asof_fwd" -> 3,
    "join_asof_nearest" -> 7,
    // native single-merge asof (key shuffle x2) + output sort
    "join_asof_tol" -> 3,
    // bitmap-word build aggregate + output sort; probe side is a
    // broadcast hash join (not counted as a shuffle)
    "join_bitmap_semi" -> 2,
    // version-build window + key equi-join with validity post-filter
    "join_point_in_time" -> 2,
    "join_asof_native" -> 3,
    // staged component labels read + left join + sort (the fixpoint
    // runs inside Fixtures.staged, once per source content)
    "graph_components" -> 2,
    // symmetrized-edge degree agg + pow2-bucket agg + sort; the edge
    // list's order-keyed self-join subtree prints per consuming leg
    "graph_degree_dist" -> 5,
    // cached edge list read by the wedge self-join + pair agg +
    // anti-join + TakeOrdered; subtrees print per consuming leg
    // r14: +4 printed exchanges — the scale-aware cap's edge COUNT
    // materializes the shared edge cache before planning, so the
    // initial-plan print shows the cached subtree's exchanges under
    // every InMemoryTableScan reference; runtime shuffles unchanged
    // (the cache is hit, and the count itself reuses it)
    "graph_link_predict" -> 13,
    // staged rank frame read + output sort (the 5 integer PageRank
    // rounds run inside Fixtures.staged, once per source content)
    "graph_pagerank" -> 1,
    // raw wedge self-join + broadcast degree weight + pair agg +
    // anti-join + TakeOrdered; subtrees print per consuming leg
    "graph_link_ra" -> 18, // r14: same print-census artifact as above
    // staged peel-survivor frame read + output sort
    "graph_kcore" -> 1,
    // cached edge list: wedge + closing-edge joins, per-node triangle
    // explode agg, degree agg, ≤64-row bucket agg; subtrees print per
    // consuming leg
    "graph_clustering" -> 13,
    // degree agg ×2 broadcast onto the edge stream + one scalar
    // moment agg; edge subtrees print per consuming leg
    "graph_assortativity" -> 9,
    // staged personalized-rank frame read + TakeOrdered (5 integer
    // rounds run inside Fixtures.staged, once per source content)
    "graph_ppr" -> 1,
    // staged labels read ×2 joins onto edges, degree agg, community
    // aggs, 1-row m crossJoin (allowed bnl); subtrees print per leg
    "graph_modularity" -> 12,
    // staged hop-distance frame read + output sort (4 BFS rounds
    // staged the same way)
    "graph_bfs" -> 1,
    // staged min-plus distance frame read + output sort (4 weighted
    // Bellman-Ford rounds run inside Fixtures.staged)
    "graph_sssp" -> 1,
    // one scalar aggregate over the staged bfs frame
    "graph_reach_summary" -> 1,
    // cached edge list scanned by 4 aggregates (nodes/edges/wedges/
    // triangles); each 1-row frame crossJoins back (allowed bnl) and
    // the initial plan prints the edge subtree once per leg
    "graph_triangles" -> 19,
    "join_bucketed" -> 1,
    "join_inner_hash" -> 1,
    "join_interval_overlap" -> 3,
    "join_lateral" -> 2,
    "join_multiway" -> 2,
    "join_null_safe" -> 3,
    "join_outer" -> 1,
    "join_semi_anti" -> 1,
    "join_skew_salted" -> 2,
    "join_theta_range" -> 1,
    "layout_zorder" -> 2,
    // token shuffle + blocklist top-5 + doc rollup; 5-row broadcast
    "llm_blocklist_filter" -> 3,
    "llm_bm25" -> 7,
    "llm_boilerplate" -> 2,
    // staged word-table read + token join + doc rollup; the merge
    // fold runs once per source content inside Fixtures.staged
    "llm_bpe_apply" -> 2,
    "llm_bpe_train" -> 34,
    "llm_chunk" -> 1,
    // shuffle-free window generator + output sort
    "llm_chunk_overlap" -> 1,
    "llm_collocations" -> 7,
    "llm_dataset_card" -> 5,
    "llm_decontaminate" -> 6,
    "llm_dedup_apply" -> 1,
    "llm_dedup_cluster_stats" -> 2,
    "llm_dedup_clusters" -> 1,
    // same candidate plan (bucket groupBy + distinct) and verify kernel
    // (broadcast endpoints, one pair groupBy) as llm_dedup_jaccard
    "llm_dedup_containment" -> 4,
    // shared verify kernel + ≤10-row cumulative window
    "llm_dedup_threshold_hist" -> 5,
    // one candidate plan carries n_agree through the verify kernel,
    // so both rungs read one pass
    "llm_dedup_rung_agreement" -> 5,
    // sample-scoped gram inverted index + size joins + candidate plan
    // + four 1-row count frames crossJoined (allowed bnl); the cached
    // gram subtree prints per consuming leg; the shared candidate plan
    // is partitioned on (doc_a, doc_b, n_agree), so the hit semi-join
    // re-keys it on the pair
    "llm_dedup_band_recall" -> 14,
    // band candidates + two broadcast prefix joins + sort
    "llm_dedup_edit_distance" -> 3,
    "llm_curriculum" -> 2,
    // label-cell join + candidate-side cap window + per-vector NN
    // window + sort (cap adds one label-keyed exchange); r16 +1: the
    // probe leg's explicit-width repartition on label (the one-split
    // scan serialized the within-cell cosine join — measured 7.2 s ->
    // 2.1 s at x10)
    "llm_dedup_embed" -> 4,
    // retrain adds the Lloyd rounds' (cell,dim) shuffles + assignment;
    // r16 +1: nnWithinCells' explicit-width repartition on vec_id
    "llm_dedup_embed_retrained" -> 8,
    // the codebook is READ from its txn-log table (training ran at
    // staging and lives in the log): assignment agg + cells join +
    // cap window + NN window + output sort — one less than the
    // in-query retrain twin; r16 +2: nnWithinCells' explicit-width
    // repartition on vec_id (the one-split corpus scan serialized the
    // corpus x nlist assignment) prints once per consuming leg in the
    // initial plan; runtime reuses the one exchange
    "llm_dedup_codebook_log" -> 8,
    "llm_dedup_exact" -> 2,
    "llm_dedup_fuzzy" -> 3,
    // candidate plan 2, verify kernel 1, output sort 1
    "llm_dedup_jaccard" -> 4,
    "llm_dedup_jaccard_est" -> 3,
    "llm_dedup_simhash" -> 1,
    // r6 fingerprint-collapse rewrite: the cached fp/groups subtrees
    // print once per consuming leg (3×/4×) in the initial plan; runtime
    // materializes each once
    "llm_dedup_simhash_nn" -> 20,
    "llm_doc_overlap" -> 4,
    "llm_embed_cluster" -> 3,
    "llm_embed_outliers" -> 5,
    "llm_embed_quantize" -> 1,
    "llm_export_jsonl" -> 1,
    "llm_filter_funnel" -> 1,
    // broadcast 10-query probe + per-query rank + sort
    "llm_hard_negatives" -> 2,
    "llm_fingerprint" -> 1,
    "llm_incremental_dedup" -> 8,
    // same band/digest machinery, increment membership via CDF-id
    // joins instead of mod filters — measured equal to the twin
    "llm_dedup_cdf" -> 8,
    // index read + batch sigs + bucket groupBy + verdict joins
    "llm_dedup_index" -> 8,
    "llm_lang_id" -> 1,
    // projection + ≤|langs|² cell agg + per-actual window + sort
    "llm_lang_confusion" -> 3,
    // one term-keyed census + 1-row totals crossJoin (allowed bnl) +
    // grouped scalar sum; census subtree prints per consuming leg
    "llm_corpus_drift" -> 4,
    // (doc,gram) agg + doc agg + source rollup + sort
    "llm_ngram_repeat" -> 4,
    "llm_lm_score" -> 6,
    "llm_mix_plan" -> 3,
    // quota chain (source agg + two tiny windows) broadcast onto the
    // per-source md5-order fill window + final ≤|sources| agg
    "llm_mix_apply" -> 5,
    "llm_multimodal" -> 1,
    "llm_multimodal_binary" -> 1,
    "llm_ngram_counts" -> 2,
    "llm_pack" -> 2,
    "llm_pack_stats" -> 2,
    "llm_pii_redact" -> 1,
    "llm_pipeline" -> 2,
    // staged cluster labels + quality join + one partition (two
    // orders) window + best/worst self-join + sort
    "llm_preference_pairs" -> 3,
    "llm_quality_by_source" -> 2,
    // span-dedup's two-level agg + render-join + 40-group manifest;
    // composition adds no shuffle beyond its stages' own
    "llm_sft_pipeline" -> 6,
    "llm_quality_score" -> 1,
    // one broadcast pair pass + two ranks over one partition + fuse
    "llm_rank_fusion" -> 2,
    "llm_repetition" -> 1,
    // TakeOrdered top-k on a hash projection; zero shuffles
    "llm_sample_hashrank" -> 0,
    "llm_sample_stratified" -> 2,
    // pure projection render + output sort
    "llm_sft_format" -> 1,
    // segment explode + two-level (doc,seg)->seg agg + doc rollup
    "llm_span_dedup" -> 5,
    "llm_sample_weights" -> 2,
    "llm_sim_search" -> 2,
    "llm_sim_search_int8" -> 2,
    "llm_sim_search_ivf" -> 4,
    "llm_sim_search_ivf_trained" -> 4,
    "llm_sim_search_lsh" -> 2,
    "llm_sim_search_pq" -> 4,
    "llm_sim_search_pq_rerank" -> 5,
    // trained-codebook ADC: the Lloyd chain is staged + the per-call
    // distance pass localCheckpointed, so the live plan is encode
    // argmin + ADC keyed agg + rank window + output sort
    "llm_sim_search_pq_trained" -> 4,
    "llm_sim_search_lsh_probe" -> 2,
    "llm_sim_search_native" -> 2,
    // token explode + per-doc window + ordered re-aggregation
    "llm_span_corrupt" -> 2,
    "llm_split" -> 1,
    "llm_text_stats" -> 2,
    "llm_vocab_coverage" -> 4,
    // token census agg + vocab-wide window sort (rank and both running
    // sums share the one sort)
    "llm_unigram_coverage" -> 2,
    // staged picks read + output sort (greedy rounds run inside
    // Fixtures.staged once per source content)
    "llm_mmr_diversify" -> 1,
    // staged picks ⋈ corpus text + budget window + per-query stitch agg
    "llm_rag_assemble" -> 2,
    // dim-broadcast fact scan + segment agg + 1-row global crossJoin
    // (allowed bnl) + output sort
    "feat_target_encode" -> 3,
    // 1-row bounds crossJoin (allowed bnl) + 10-group agg + sort
    "feat_binning" -> 3,
    // two-level (bucket, feature) -> bucket agg + output sort
    "feat_hash_bucket" -> 3,
    // type-keyed bounds agg (broadcast back) + output sort on event id
    "feat_minmax" -> 2,
    // r15: row-wise centering/projection against literal mean and
    // direction vectors — the live plan is scan + label agg + sort;
    // means/cov are bounded (≤ d²-row) side collects
    "feat_pca" -> 2,
    // d-keyed moment agg (broadcast back) + d-row final agg + sort
    "feat_standardize" -> 3,
    // encoding frame broadcast (1-row global crossJoin = allowed bnl)
    // + global rank window + 10-row decile agg with running windows
    "feat_decile_lift" -> 3,
    // r15 join-free shape: gram-keyed min agg -> tiny source agg,
    // plus the per-source size agg (count-distinct expand) + output
    // sort; the gram subtree prints per consuming aggregate
    "llm_ngram_novelty" -> 5,
    // pure projection + source agg + output sort
    "llm_code_detect" -> 2,
    "llm_tfidf" -> 6,
    "llm_token_count" -> 1,
    "llm_tokenizer_fertility" -> 2,
    "merge_upsert" -> 3,
    "project_expr" -> 1,
    "scan_avro" -> 1,
    "scan_avro_logical" -> 1,
    "scan_csv" -> 1,
    "scan_filter_project" -> 1,
    "scan_json" -> 1,
    "scan_json_gz" -> 1,
    "scan_merged_schema" -> 1,
    "scan_orc" -> 1,
    "scan_parquet" -> 1,
    "scan_partition_pruned" -> 1,
    "scan_text" -> 1,
    "set_intersect_except" -> 3,
    "set_ops_all" -> 3,
    "set_union" -> 2,
    "sort_limit" -> 0,
    "sql_correlated" -> 2,
    "sql_recursive" -> 4,
    "stream_dedup" -> 2,
    "stream_funnel" -> 2,
    "stream_join" -> 2,
    "stream_session" -> 2,
    // (window,type) aggregate + per-window rank + sort
    "stream_topk" -> 3,
    // (window,type) agg + per-type lag window + output sort
    "stream_spike" -> 3,
    // user-keyed agg + output sort (the converged state store,
    // materialized)
    "stream_state_totals" -> 2,
    // the returned frame is the localized sink readback + output sort;
    // the streaming job itself runs before the plan exists
    "stream_file_sink" -> 1,
    // localized table-tip readback + output sort; the two streaming
    // passes and their txn commits run before the plan exists
    "stream_txn_sink" -> 1,
    "stream_update_sink" -> 1,
    // r15: localized ≤7-bucket readback + output sort; the two
    // offset-source passes run before the plan exists
    "stream_rate_sink" -> 1,
    "stream_sliding" -> 2,
    "stream_tumbling" -> 2,
    "table_skew" -> 3,
    "table_stats" -> 10,
    "topk_per_group" -> 2,
    // daily agg + per-type lead window + (type,lag) moment agg
    "ts_acf" -> 3,
    // two daily aggregates off the event scan + probe join + 4-group
    // moment agg + output sort
    "ts_lag_corr" -> 4,
    // daily agg + one shared per-type window sort + output sort
    "ts_forecast_holt" -> 3,
    // user cohort agg + (user,week) agg + cohort-size agg + (cohort,
    // age) agg + cum window over the tiny frame + output sort
    "ts_cohort_ltv" -> 7,
    "ts_anomaly" -> 8,
    // daily agg + day-ordered lag window + ONE scalar moment agg
    "ts_adf" -> 2,
    // daily agg + day-frame pair join (bounded bnl) + tie census +
    // scalar crossJoins; daily subtree prints per consuming leg
    "ts_mann_kendall" -> 8,
    // the full tsStl chain re-planned per consuming leg (daily agg +
    // centered window + seasonal) + two 1-row percentile crossJoins
    // (allowed bnl)
    "ts_anomaly_resid" -> 16,
    // daily agg + one per-type window sort (two frames + rank) + sort
    "ts_changepoint" -> 3,
    "ts_ewma" -> 3,
    // daily agg + per-type lag window + 5-group rollup
    "ts_forecast_snaive" -> 3,
    "ts_cohort_retention" -> 4,
    "ts_cumulative_users" -> 3,
    "ts_gapfill" -> 2,
    // (user,day) distinct agg + per-user lag window + day agg + final
    // day-ordered window over the bounded daily frame
    "ts_growth_acct" -> 4,
    // daily agg + centered-range window + 7-row seasonal agg
    // (broadcast back) + output sort, all on the bounded daily frame
    "ts_stl" -> 4,
    // user-keyed first-event agg + ≤70-band histogram agg + sort
    "win_time_to_event" -> 3,
    // customer-keyed lag window + ≤16-band histogram agg + sort
    "win_interpurchase" -> 3,
    // customer first/second agg + 1-row horizon crossJoin (allowed
    // bnl) + day agg + ordered windows over the day frame + sort
    "win_survival_km" -> 4,
    "ts_interpolate" -> 2,
    "ts_mom_growth" -> 2,
    // daily window sort + candle aggregate
    "ts_ohlc" -> 2,
    // daily agg + per-type window frame + sort
    "ts_rolling_median" -> 3,
    // (day,bucket) word agg + bucket window + day rollup + sort
    "ts_rolling_distinct" -> 4,
    // per-user lead window + output sort
    "ts_discounted_return" -> 2,
    "ts_resample" -> 2,
    "ts_seasonality" -> 2,
    // the daily-counts subtree prints once per consuming leg (pairs,
    // residuals, n_days) in the initial plan; AQE exchange reuse
    // materializes it once at runtime
    "ts_trend_theilsen" -> 13,
    // grouped percentile bounds broadcast back + clip projection
    "ts_winsorize" -> 2,
    "ts_zscore" -> 2,
    "typed_agg" -> 2,
    "udaf_typed" -> 2,
    "udf_scalar" -> 2,
    "udtf_gen" -> 3,
    "win_analytic" -> 2,
    // one per-user window sort (two frames) + matrix agg + sort
    "win_attribution" -> 3,
    // customer agg + one whole-frame sort (rank+cum) + decile agg;
    // 1-row totals frame crossJoins back (allowed bnl)
    "win_pareto" -> 4,
    "win_distribution" -> 2,
    "win_rank" -> 2,
    "win_rolling_range" -> 2,
    "win_sessionize" -> 2,
    "win_streaks" -> 2,
    // per-user lag window + pair agg + per-from window over the tiny
    // matrix + output sort
    "win_path_transitions" -> 4,
    // customer agg + three shared-frame rank windows + segment agg
    "win_rfm" -> 2,
    // 1-row date-bounds crossJoin (allowed bnl) + per-half customer
    // agg + rank window + full-outer tier join + matrix agg; the
    // tagged subtree prints per half
    "win_quintile_migration" -> 8,
    "write_dynamic_overwrite" -> 0,
  )

  /** Nested-loop joins allowed ONLY where the broadcast side is bounded
    * by construction: a ≤16-row codebook/stat frame crossJoined back
    * onto the corpus, or a fixed ≤10-row sim-search query set probed
    * with a non-equi top-k predicate. Everything else must keep an
    * equi-key. */
  private val nestedLoopAllowed: Set[String] = Set(
    "agg_basket_lift", "agg_bitmap_overlap", "agg_distinct_kmv",
    "agg_topk_others", "dq_constraints", "dq_referential",
    "feat_binning", "feat_decile_lift", "feat_target_encode",
    "graph_triangles", "graph_modularity",
    "layout_zorder", "llm_bm25", "llm_hard_negatives", "win_pareto",
    "llm_bpe_train",
    "llm_collocations",
    "llm_dataset_card", "llm_embed_cluster", "llm_embed_outliers",
    "llm_lm_score", "llm_rank_fusion", "llm_sim_search",
    "llm_sim_search_int8",
    "llm_sim_search_ivf", "llm_sim_search_ivf_trained",
    "llm_dedup_embed_retrained", "llm_dedup_codebook_log",
    "llm_sim_search_native", "llm_sim_search_pq", "llm_sim_search_pq_rerank",
    "llm_tfidf", "ts_anomaly_resid", "win_quintile_migration",
    "llm_dedup_band_recall", "win_survival_km", "llm_corpus_drift",
    "agg_mutual_info", "ts_mann_kendall",
    // two 1-row pushdown rollups joined into the single output row
    "txn_log_sql_pushdown")

  /** Scans whose predicate must reach the parquet reader: the plan has
    * to show a non-empty pushed/partition filter, or the 100 TB scan
    * reads everything and filters after IO. */
  private val requiredScanFilter: Map[String, String] = Map(
    "scan_filter_project" -> "PushedFilters: [",
    "filter_pred" -> "PushedFilters: [",
    "scan_partition_pruned" -> "PartitionFilters: [")

  private val shuffleRe = "(?<!Broadcast)Exchange ".r

  test("every registry query has a pinned plan budget") {
    val missing = SparkEntry.queries.keySet -- maxExchanges.keySet
    assert(missing.isEmpty,
      s"queries without a plan budget (add a measured row here): $missing")
    val stale = maxExchanges.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"budget rows for unregistered queries: $stale")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name stays inside its plan budget") {
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      try {
        assert(!plan.contains("CartesianProduct"),
          s"$name plans a cartesian product:\n${plan.take(3000)}")
        if (!nestedLoopAllowed(name))
          assert(!plan.contains("BroadcastNestedLoopJoin"),
            s"$name lost its equi-key (nested-loop join):\n${plan.take(3000)}")
        val ex = shuffleRe.findAllIn(plan).size
        val budget = maxExchanges.getOrElse(name, 0)
        assert(ex <= budget,
          s"$name plans $ex shuffle exchanges, budget $budget:\n${plan.take(3000)}")
        for (frag <- requiredScanFilter.get(name)) {
          val i = plan.indexOf(frag)
          assert(i >= 0 && plan.charAt(i + frag.length) != ']',
            s"$name: predicate not pushed to the scan ($frag empty):\n${plan.take(3000)}")
        }
      } finally graft.core.Caches.drain(spark)
    }
  }
}

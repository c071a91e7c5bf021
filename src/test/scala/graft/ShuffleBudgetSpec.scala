package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shuffle budgets: every exchange is a full rewrite of the data over the
  * network — at 100 TB an accidental extra shuffle is the single biggest
  * plan regression a refactor can introduce. This spec pins the shuffle
  * count of representative queries to the designed budget (scan-shaped
  * queries: the result sort only; aggregations: partial-agg exchange +
  * result sort; star joins: fact shuffles only, dimensions broadcast),
  * and pins that scan-speed queries stay inside WholeStageCodegen. */
class ShuffleBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    try SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
    finally GraftCaches.releaseAll() // tracked caches would leak into sibling
                                     // suites' plan shapes (round-6 flake class)

  private def shuffles(plan: String): Int =
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
      .findAllIn(plan).length

  // query -> max shuffle exchanges in the initial physical plan
  private val budgets = Map(
    "token_count" -> 1,        // scan + result sort
    "quality_score" -> 1,      // scan + result sort
    "hash_sample" -> 1,        // deterministic filter + result sort
    "bpe_token_count" -> 1,
    "array_stats" -> 1,        // HOF-only profile: no explode, no agg shuffle
    "pricing_summary" -> 2,    // partial agg + result sort
    "dedup_exact" -> 2,
    "calendar_weekly" -> 2,
    "sessionize" -> 2,         // ONE user exchange reused by both windows + agg, + result sort
    "topk_per_group" -> 2,
    "shipping_priority" -> 2,  // fact agg; dims broadcast; top-10 heap
    "pivot_event_counts" -> 3,
    "revenue_by_nation" -> 2,  // fact-fact shuffle; all dims broadcast
    "posting_lists" -> 3,      // (term,doc) tf agg + term agg + result sort
    "paragraph_dedup" -> 4,    // seg-text dedup + doc reassembly + per-doc counts + join (no result sort)
    "big_orders" -> 1,         // fact agg; join-back is AQE broadcast; no result sort
    "snapshot_diff" -> 3,      // full-outer key shuffle (both sides) + status agg; no result sort
    "zorder_cluster" -> 3,     // zmax 1-row agg + z-bucket agg + result sort
    "pq_codes" -> 3,           // (id,mi) argmin agg + id regroup + result sort
    "lm_score" -> 5,           // c1 agg + c2 agg + 2 gram-keyed joins + doc agg (no result sort)
    "ngram_novelty" -> 6,      // distinct (doc,gram) + df agg + gram join + doc agg (no result sort)
                               // (+1 when a sibling suite left the doc relation cached:
                               // the InMemoryRelation variant plans one extra exchange)
    "reservoir_per_group" -> 2,// lang top-k agg (bounded buffers) + result sort
    "padding_waste" -> 4,      // range exchange (PrefixScan) + batch agg + sort
    "leakage_audit" -> 6,      // per-user split agg + user join + split agg + sort
    "corpus_overlap" -> 7,     // gram membership agg + two 1-row folds over it
    // Round-5/6 families (static counts include tracked-cache subtrees
    // inlined once per reference — see the iterated-operator note below):
    "delta_dedup" -> 8,        // batch-vs-corpus band join + md5 path + candidate verify
    "type_cooccurrence" -> 10, // basket distinct referenced 3x (totals/per-type/pair join) + pair agg
    "cohort_retention" -> 8,   // activity distinct x2 refs + first-seen agg + user join + cell agg
    "key_skew_profile" -> 9,   // per-key agg x3 refs + PrefixScan range exchange + top-10 heap
    "dedup_spans" -> 3,        // dup-hash agg + start-offset regroup + id-keyed reassembly join
    "dedup_containment" -> 3,  // band self-join + gram rejoin on capped candidates
    "threshold_sweep" -> 5,    // one candidate-verify pass + threshold agg (explode is free)
    "feature_normalize" -> 1,  // group stats broadcast back onto the fact — scan-shaped
    "robust_outliers" -> 7,    // two grouped-scan (pid,type) window exchanges +
                               // two per-type count folds + broadcast joins + final agg
    "decayed_engagement" -> 2, // 1-row max-date broadcast + user agg
    "tfidf_top_terms" -> 4,    // (doc,term) tf agg + term df agg + join + per-doc window
    "stream_type_stats" -> 1,  // transformWithState: ONE user-keyed exchange, no result sort
    "stream_dedup" -> 1,       // transformWithState: ONE (user,type)-keyed exchange
    "mlm_mask_plan" -> 1,      // pure array-HOF map: scan + result sort only
    "jsonl_ingest" -> 0,       // line build + JSON source read + envelope: all scan-side
    "span_corruption_plan" -> 2, // ONE doc exchange shared by all 3 windows AND the
                               // reassembly agg (partitioning preserved) + result sort
    "asof_join_forward" -> 2,  // ONE key exchange for the union+window + result sort
    "dedup_method_agreement" -> 9, // two capped candidate builders (band/byte self-joins)
                               // + pair-keyed full-outer + 3-row status agg
    "event_transitions" -> 4,  // user-keyed lead window + pair agg + tiny share window + sort
    "bigram_lift" -> 6,        // bigram agg + unigram agg (tracked, inlined per ref)
                               // + word joins + 1-row totals + top-20 heap
    "prefix_share" -> 2,       // ONE prefix-keyed agg + result sort
    "rouge_pairs" -> 3,        // id-aligned pair join (AQE-broadcastable) + result sort
    "lang_gram_overlap" -> 8,  // static count inlines the tracked (lang,gram)
                               // distinct 3x (per-lang + both self-join sides;
                               // it materializes once) + gram self-join + pair
                               // agg + inventory broadcasts + result sort
    "quality_auc" -> 3,        // score-level agg + PrefixScan range exchange + 1-row fold
    "ks_drift" -> 5,           // score-level agg + two PrefixScan range exchanges
                               // + 1-row totals fold + top-1 heap
    "dataset_split" -> 3,      // (lang,split) agg + per-lang share window + result sort
    "hll_by_source" -> 3,      // (source,bucket) register agg + source fold + result sort
    "pq_recall" -> 8,          // exact-truth heap + PQ assign/LUT joins + recall agg
    "sft_loss_mask" -> 1,      // pure array-HOF map: scan + result sort only
    "shard_plan" -> 3,         // PrefixScan range exchange + shard agg + result sort
    "interleave_sources" -> 4, // grouped-scan rank + tiny idx window x2 (distinct
                               // + global count on <=|sources| rows) + result sort
    "media_dedup" -> 4,        // mapPartitions repartition + (modality,checksum) agg
                               // + modality agg + result sort
    "tokenizer_fertility" -> 2,// one lang-keyed agg + result sort
    "temperature_mix" -> 4,    // source agg (inlined twice: per + totals ref) +
                               // 1-row fold + result sort
    "decontam_stats" -> 4,     // matched-gram agg + doc-keyed left join + source agg + sort
    "ab_test_metrics" -> 1,    // one global conditional agg: SinglePartition fold only
    "group_kfold" -> 3,        // fold agg + 5-row share window + result sort
    "stream_user_running" -> 1,// mapGroupsWithState: same single-exchange shape
    "bm25_search" -> 5,        // term-filtered tf agg + df agg + 1-row (N,avgdl) fold
                               // + doc-keyed join re-exchange + per-term heap; per-doc
                               // length is size() at the scan — no dl agg shuffle
    "phrase_search" -> 1,      // scan-filtered posting lists broadcast-join at fixture
                               // scale; the per-doc agg is the only exchange
    "source_quota_cap" -> 1,   // ONE source-keyed exchange; bounded-heap partial top-K
    "filter_funnel" -> 5,      // content-hash window + two 1-row folds + quota agg
    "semdedup" -> 26,          // static count inlines the tracked assign/vector caches
                               // per reference (cell pair join + verify + left join);
                               // round 12 adds the ONE-Lloyd-step centroid training
                               // (dims agg + per-cell collect fold, tracked but
                               // string-inlined per centroid reference) — executed
                               // once the caches materialize: the training shuffles
                               // run exactly once, k·dim-grouped rows only
    "semdedup_recall" -> 44,   // static count inlines the tracked vector/truth/assign/
                               // membership caches per reference: blocked all-pairs
                               // truth join + top-1 and probe-2 candidate self-joins
                               // + the two left joins + 1-row recall fold; +Lloyd
                               // training chain inlined under both candidate paths
                               // (executed once — same overstatement as semdedup)
    "semdedup_recall_t9" -> 44,// identical plan to semdedup_recall at τ=0.9
    "semdedup_clusters" -> 1,  // the probe-2 candidate build, verify, and component
                               // fixpoint all run at CONSTRUCTION (driver rounds
                               // under GraphRounds.LocalEdgeBound, pinned Spark rounds
                               // above it); the final plan reads the converged
                               // label relation + one result sort
    "basket_size_profile" -> 4,// (ok,pk) distinct + basket-size agg + size-bucket agg
                               // + result sort
    "basket_pairs" -> 7,       // round-15: the (ok,pk) distinct is an eager pin
                               // (leaf), the capped pairs come from ONE ok-keyed
                               // collect_list fold + generate (the pre-r15 shape
                               // paid the cap window twice — once per self-join
                               // leg — plus the SMJ itself), so what remains is
                               // basket fold + pair agg + part-freq agg + the
                               // 2-exchange distinct order count + the terminal
                               // 20-row range sort
    "knn_label_noise" -> 7,    // capped band self-join + pair scoring rejoins +
                               // per-vector heap + label joins (tracked subtrees inlined)
    "asof_join_nearest" -> 1,  // ONE key exchange; both direction windows re-sort in place
    "late_event_audit" -> 1,   // ONE user exchange shared by running-max window + agg
    "calibration_bins" -> 3,   // bin agg + tiny single-partition share window + result sort
    "cohen_kappa" -> 1,        // one global conditional agg: SinglePartition fold only
    "vocab_growth" -> 4,       // gram first-doc agg + bucket agg + PrefixScan range
                               // exchange + result sort
    "ttr_by_source" -> 3,      // (source,token) distinct agg + source fold + result sort
    "chi2_independence" -> 3,  // cell agg + tiny single-partition windows + result sort
    "bloom_fpr" -> 7,          // member/probe distinct aggs + register agg + per-hash
                               // probe agg + membership join + two 1-row folds
    "market_share" -> 4,       // ONE fact-fact shuffle (both sides) + (year,nation) agg;
                               // dims broadcast; share window over the tiny agg relation
    "attribution_last_touch" -> 1, // ONE user exchange for the union+window
    "graph_degree_hist" -> 9,  // static count inlines the tracked candidate-pair
                               // subtree (band self-join) once per endpoint ref;
                               // own work is per-id agg + degree agg + result sort
    "rrf_fusion" -> 8,         // bm25's 5 + candidate-set lex/sem/fused rank windows
                               // (all over <=30 rows)
    "quantile_transform" -> 2, // grouped-scan (pid,source) window exchange +
                               // per-source count fold (rank scan at construction)
    "curriculum_schedule" -> 3,// source agg + tiny totals window + result sort
    "stream_attribution" -> 1, // transformWithState: ONE user-keyed exchange
    "ivfpq_topk" -> 7,         // cell-assign argmin + probe windows + candidate code
                               // join + ADC agg + per-query heap (LUT/probes broadcast)
    "join_card_audit" -> 5,    // two per-key count aggs + tiny key full-outer join
                               // + 1-row fold — never the audited join itself
    "feature_hashing" -> 1,    // ONE (doc,bucket)-keyed map-side-combined agg
    "sentence_stats" -> 0,     // scan-local regexp counts: zero shuffles
    "session_paths" -> 3,      // ONE user exchange (session windows + per-session agg
                               // co-partitioned) + path agg + top-20 heap
    "gap_histogram" -> 3,      // ONE user exchange for the lag window + <=7-group agg
                               // + result sort
    "matryoshka_audit" -> 1,   // id-aligned pair join broadcasts at fixture scale
    "pca_power" -> 6,          // 3 power iterations x (per-dim decimal agg +
                               // 1-row iterate collect); corpus never re-shuffles
    "source_minhash_overlap" -> 3, // production-only since r8: per-doc scan-side
                               // signature fold + |sources|-row agg + pair sort
    "source_overlap_audit" -> 11,  // tracked sampled-gram distinct inlined per ref
                               // (count + both self-join sides) + sig fold +
                               // pair agg + result sort
    "rfm_segments" -> 2,       // final-plan exchanges only: the user agg and
                               // the three PrefixScan.ntile range exchanges run
                               // at construction (checkpointed); what remains is
                               // the last ntile's _pid window exchange
    "ranking_eval" -> 8,       // bm25's 5 + candidate embedding join + per-term
                               // grade agg + result sort (eval windows <=30 rows)
    "query_expansion" -> 8,    // bm25's 5 + (term,w) tf agg + bounded per-term
                               // rank window + result sort; hit relation broadcast
    "search_snippets" -> 6,    // bm25's 5 + result sort; the hit relation
                               // broadcasts onto the doc scan, snippets are array ops
    "token_coverage" -> 2,     // ONE PrefixScan (pid) window exchange (rank and
                               // cum_freq share the scan, round-15) + result
                               // sort; totals are literals from the scan's
                               // collect — the old totals fold and second range
                               // exchange are gone
    "promo_revenue" -> 1,      // part broadcast into the pruned scan + 1-row fold
    "or_predicate_revenue" -> 1, // same shape; OR factored into both scans
    "avg_qty_threshold" -> 2,  // ONE partkey exchange (window avg) + 1-row fold
    "top_supplier" -> 3,       // tracked suppkey agg (inlined) + 1-row max fold
                               // broadcast back as an equi-join (no global window)
    "idle_customers" -> 3,     // anti-join key exchange (both sides) + nation agg + sort
    "incremental_agg_merge" -> 3, // base partial + delta partial + merge re-agg/sort
    "dpo_pairs" -> 1,          // quality is scan-local; pair join broadcasts + result sort
    "simpson_diversity" -> 3,  // (source,term) agg + source fold + result sort
    "hapax_ratio" -> 3,        // same shape as simpson_diversity
    "forecast_revenue" -> 1,   // all predicates pushed; 1-row fold only
    "returned_revenue_topk" -> 2, // fact join (broadcast at fixture scale) +
                               // cust agg; top-20 is TakeOrderedAndProject
    "late_shipment_priority" -> 3, // semi-join exchange + priority agg + sort
    "delta_compress" -> 3,     // ONE user exchange (lag window) + type agg + sort
    "seqlen_sweep" -> 2,       // map-side-combined L agg + result sort
    "stream_delta_compress" -> 4, // ONE user-keyed transformWithState exchange
                               // + kept-type agg + totals agg (broadcast join) + sort
    "active_sessions_daily" -> 4, // user session window + day delta agg +
                               // PrefixScan range exchange (offsets broadcast)
    "batch_replay" -> 4,       // rank keyed agg + PrefixScan range exchange +
                               // pinpoint doc join (tiny side broadcast) + sort
    "scd2_asof_lookup" -> 3,   // change-detect window + as-of union key exchange + sort
    "window_funnel" -> 9,      // two forward as-of union exchanges + three
                               // stage aggs (count-distinct = 2 exchanges each)
                               // + result sort
    "next_token_topk" -> 3,    // scan-pruned bigram agg + per-context window + sort
    "stream_hll_users" -> 2,   // ONE type-keyed transformWithState exchange + sort
    "local_supplier_volume" -> 3, // ONE fact-fact shuffle (both sides) + nation agg
                               // + result sort; all four dims broadcast
    "stream_cms_terms" -> 2,   // ONE row_j-keyed transformWithState exchange + sort
    "stream_bloom_fingerprints" -> 2, // ONE block-keyed transformWithState exchange + sort
    "nation_trade_flows" -> 2, // ONE fact-fact shuffle + direction-year agg
                               // + result sort (all dims broadcast)
    "fd_audit" -> 9,           // 3 candidates x (distinct + det fold + 1-row agg)
    "colbert_maxsim_topk" -> 3, // per-(doc,qvec) max agg + per-doc fold + TakeOrdered
    "sft_render" -> 1,         // scan-local render + result sort
    "min_cost_supplier" -> 3,  // (part,supp) min agg + per-part window exchange
                               // + result sort; part screen + EU suppliers broadcast
    "sole_late_supplier" -> 4, // order join broadcast at fixture scale; (order,supp)
                               // agg + orderkey window + suppkey agg + result sort
    "supplier_part_relationship" -> 3, // 4-tuple distinct + group agg + result sort;
                               // part screen and flagged-supplier list broadcast
    "dominant_supplier" -> 4,  // (part,supp) qty agg + per-part window + survivor
                               // distinct + result sort; dims broadcast
    "zipf_profile" -> 3,       // term agg + TakeOrdered heap; rank/lag windows
                               // single-partition over <=1024 rows + result sort
    "revenue_autocorr" -> 4,   // day agg + ONE single-partition window for all 7
                               // lags + 7-group moment fold + result sort
    "stream_anomaly_flags" -> 1, // transformWithState: ONE user-keyed exchange
    "epi_two_by_two" -> 3,     // (user,day) fold + 4-cell SinglePartition fold
    "seasonal_index" -> 4,     // (year,month) agg + ONE year exchange for both
                               // windows + month fold + result sort
    "pareto_share" -> 2,       // ntile's _pid window exchange + 1-row fold
                               // (customer fold runs at construction, checkpointed)
    "sql_native_functions" -> 1, // scan-local codegen exprs + result sort only
    "twap_by_user" -> 2,       // ONE user exchange (lead window + agg
                               // co-partitioned) + result sort
    "exact_quantiles" -> 2,    // ntile-style _pid window exchange + result sort
                               // (rank scan itself runs at construction, checkpointed)
    "sorted_neighborhood_pairs" -> 3, // tracked rank relation inlined per join
                               // side + result sort; neighbor join broadcasts
    "abc_classification" -> 3, // (pid) window exchange + class fold + result
                               // sort; the grand total is a literal from the
                               // decimal scan's collect (round-15) — the old
                               // cross-broadcast total fold and the cache it
                               // raced are gone
    "funnel_by_cohort" -> 4,   // user-keyed stateful funnel + cohort min-fold
                               // + cohort matrix fold + result sort
    "stream_fifo" -> 2,        // ONE user-keyed transformWithState exchange
                               // + result sort (backlog state drains in-task)
    "fifo_match" -> 3,         // ONE user exchange per side (windows + join
                               // co-partitioned) + result sort; output linear
    "phonetic_block" -> 2,     // ONE map-side-combined key agg + result sort
    "concurrency_profile" -> 3,// session-window agg + PrefixScan's range
                               // exchange + day-peak agg (sweep sums ride the
                               // scan's pid windows, no global window)
    "robust_trend" -> 8,       // tracked month agg inlined per pair side (2) and
                               // once for n_months; tracked pair relation inlined
                               // for stats + rank window; all over <=|months|^2
                               // rows — executed once each when caches materialize
    "ppjoin_pairs" -> 5,       // df agg + (df⋈tokens) + per-doc ordered fold +
                               // prefix equi-join + result sort (round-15: the
                               // shingle working set is an eager pin, so the
                               // verify joins scan checkpoint leaves — one
                               // exchange fewer than the tracked-cache shape;
                               // an explicit cores-wide repartition experiment
                               // at the CPU-dense sites was measured and
                               // REVERTED — see ppjoinCandidatesFrom)
    "name_match_jw" -> 3,      // same sorted-neighborhood shape over part names;
                               // JW screens fuse into the join's codegen stage
    "record_linkage_fs" -> 3,  // same blocked pairs + literal-weight sum; the
                               // FS classifier adds no exchange
    "lorenz_curve" -> 3,       // ntile's _pid window exchange + 10-row decile
                               // fold + tiny cumulative/total windows + result sort
    "burstiness_index" -> 3,   // (user,day) agg + user moment fold + result sort
    "max_drawdown" -> 3,       // day agg + ONE ordered single-partition exchange
                               // for all three stacked windows + top-1
    "gini_by_nation" -> 3,     // grouped-PrefixScan (pid,nat) window exchange +
                               // moment fold + result sort (range exchange runs
                               // at construction, checkpointed)
    "hazard_table" -> 3,       // user fold + day-level agg + reversed cumulative
                               // window over the tiny horizon relation + sort
    "bitmap_index_audit" -> 5, // two word-bitmap aggs + word equi-join +
                               // (seg,nat) popcount fold + direct-count audit join
    "k_anonymity_audit" -> 4,  // quasi-group agg (distinct-sensitive = partial
                               // + final pair) + 4-band fold + result sort
    "stream_scd2" -> 2,        // ONE user-keyed transformWithState exchange
                               // + result sort; O(1) state replaces lag/lead
    "stream_cdc_apply" -> 2,   // ONE key-keyed transformWithState exchange over
                               // the 3-leg op union + result sort
    "stream_funnel" -> 2,      // ONE user-keyed transformWithState exchange
                               // + 1-row stage fold (stack is scan-local)
    "stream_twap" -> 1,        // ONE user-keyed transformWithState exchange
    "stream_bitmap_users" -> 2,// ONE type-keyed transformWithState exchange + sort
    "stream_user_status" -> 2, // activity distinct + ONE cust-keyed
                               // transformWithState exchange
    "relational_division" -> 2,// ONE cust fold (count=count form of the double
                               // NOT EXISTS) + result sort; customer broadcast
    "poisson_bootstrap" -> 2,  // scan-side x20 expand; ONE 20-group replicate
                               // fold + result sort — the fact table never shuffles
    "loo_source_influence" -> 2, // source agg + tiny single-partition total windows
                               // + result sort; no join, no per-source re-scan
    "benford_audit" -> 2,      // 9-digit agg + tiny single-partition total window
                               // + result sort (shares are per-row divisions)
    "growth_accounting" -> 4,  // (cust,month) distinct + cust lag window + month
                               // agg + <=|months|-row churn lag + result sort
    "weighted_median_by_group" -> 6, // tracked level agg inlined per ref (cum scan
                               // + totals fold) + grouped-scan (pid,flag) window
                               // exchange + qualifying-level min fold + sort
    "median_by_group" -> 3,    // grouped-scan (pid,type) window exchange +
                               // per-type count fold + result sort
    "running_share" -> 2,      // grouped-scan (pid,class) window exchange +
                               // result sort; class totals come from the scan's
                               // own collect (round-15), the separate fold is gone
    "rank_metrics" -> 1,       // level agg feeds the construction-time grouped
                               // scan; final plan: level rejoin only — per-class
                               // n is the scan's own per-group total (round-15)
    "mode_by_group" -> 3,      // value-level agg + per-flag max window + argmax fold
    "hll_source_overlap" -> 12, // static count inlines the tracked register agg
                               // per est reference (pair inventory + est_a/est_b
                               // decorations + union side); executed once cached:
                               // register agg + pair-union regroup + tiny folds + sort
    "source_term_signatures" -> 9, // cell agg (inlined per ref) + term/source
                               // totals + 1-row grand total + rank window + sort
    // Round-9 additions:
    "stratified_split" -> 2,   // (lang,split) agg + result sort; the hash
                               // split itself is scan-local arithmetic
    "token_budget_trim" -> 3,  // grouped-scan (pid,source) window exchange +
                               // source fold + result sort
    "domain_mixture_weights" -> 4, // source agg (inlined per ref of the
                               // 1-row max/total scalar) + result sort
    "pack_context_bins" -> 2,  // ONE shard-keyed flatMapGroups exchange + sort
    "stream_pack" -> 2,        // ONE shard-keyed transformWithState exchange + sort
    "rep_ngram_profile" -> 2,  // source fold over scan-local gram counts + sort
    "media_neardup_pairs" -> 4,// tracked fp-rep agg inlined per self-join side
                               // + (modality,band,key) equi-join + sort
                               // (executed once the cache materializes: 3)
    "graph_degree_profile" -> 5, // distinct edge build inlined per union ref +
                               // deg fold + bucket fold + result sort
    "mrl_truncation_recall" -> 16) // tracked truth/corpus inlined per ref
                               // across the 3-dim sweep (the
                               // hll_source_overlap static-overstatement
                               // class); executed once caches materialize:
                               // per dim a broadcast-scored agg + recall fold
  // media_neardup_clusters is NOT pinned: it runs the converged fixpoint
  // (same exemption as dedup_components_converged, below).
  // graph_edge_support is NOT pinned: its two NESTED tracked caches
  // (candidate pairs inside the neighbor union, each referenced 2-3x)
  // make the static plan string inline the band self-join subtree ~6x
  // (35 static exchanges vs ~6 executed once caches materialize) — the
  // same overstatement exemption as the iterated operators below.
  // pagerank_suppliers is NOT pinned since round 14: dropping the
  // per-round checkpoints (the rank relation is referenced once per
  // round, so the plan grows linearly and pins were pure overhead) means
  // the static plan now shows the real 5-round chain with the tracked
  // degree-annotated edge cache INLINED per round — the same static
  // overstatement as graph_pagerank below (the cache materializes once;
  // each executed round is one src join + one dst fold).
  // Iterated operators (graph_pagerank, dedup_components*,
  // dedup_cluster_stats, graph_communities, bpe_train, unigram_train /
  // unigram_apply / tokenizer_compare) are NOT pinned. graph_pagerank and
  // dedup_components_converged (with media_neardup_clusters and
  // semdedup_clusters) run their rounds at CONSTRUCTION: on the driver
  // when the mirrored edge set is within GraphRounds.LocalEdgeBound (every
  // fixture graph; the final plan is then a local relation, plus a result
  // sort where the query keeps one), as pinned Spark rounds above it;
  // their budget is the per-query job ceiling in GraphJobBudgetSpec. For
  // the others the pre-execution plan string inlines every tracked-cache
  // subtree per round (and bpe_train / the unigram family are driver loops of
  // per-round jobs, not one plan — constructing the final frame EXECUTES
  // the EM rounds), so the static exchange count overstates what
  // executes (cached rounds materialize once) — the per-round budget is
  // documented on the operators instead (Unigram: vocab agg + seed agg
  // once, then per EM round one explode agg over the VOCABULARY, never
  // the corpus).

  test("shuffle count stays within the designed budget") {
    budgets.toSeq.sortBy(_._1).foreach { case (name, budget) =>
      val n = shuffles(planOf(name))
      assert(n <= budget, s"$name plans $n shuffles, budget $budget")
    }
  }

  test("star-join dimensions broadcast instead of shuffling") {
    val plan = planOf("revenue_by_nation")
    assert(plan.contains("BroadcastExchange"),
      "revenue_by_nation should broadcast its dimension tables")
  }

  test("pagerank_suppliers EXECUTED stage count stays bounded") {
    // Round-15 (r14 ADVICE): pagerank_suppliers left the static budget map
    // in round 14 (the pre-execution plan inlines the tracked edge cache
    // per round — static counts overstate what executes), which dropped
    // its shuffle-regression coverage entirely. Pin the EXECUTED shape
    // instead: total completed stages across one full run. The round-15
    // shape executes ~37 stages (eager mirror pin + degree agg + annotate
    // join + 5 rounds of [src join + dst fold] + guard/broadcast stages);
    // the regression classes this catches — a re-introduced per-round
    // checkpoint (+2 stages/round), a doubled rank reference (plan doubles
    // per round), a lost cache (re-executed edge build per round) — each
    // add 10+ stages. Bound generous enough for AQE/core-count variation.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("pagerank_suppliers")(spark, dir)
        .write.format("noop").mode("overwrite").save()
      Thread.sleep(300) // let straggler listener events drain (Profile's idiom)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      GraftCaches.releaseAll()
    }
    assert(stages.get() <= 55,
      s"pagerank_suppliers executed ${stages.get()} stages (budget 55) - " +
        "per-round materialization or cache loss re-introduced?")
  }

  test("scan-shaped queries run inside WholeStageCodegen") {
    // AQE's pre-execution plan string omits codegen wrappers — execute,
    // then inspect the FINAL adaptive plan.
    Seq("token_count", "quality_score", "bpe_token_count").foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      // codegen stages print as "*(n) Operator" in the final plan string
      val plan = df.queryExecution.executedPlan.toString
      assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined,
        s"$name projection fell out of whole-stage codegen:\n$plan")
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shuffle budgets: every exchange is a full rewrite of the data over the
  * network — at 100 TB an accidental extra shuffle is the single biggest
  * plan regression a refactor can introduce. This spec pins the shuffle
  * count of representative queries to the designed budget (scan-shaped
  * queries: none; aggregations: the partial-agg exchange; star joins:
  * fact shuffles only, dimensions broadcast; query results carry no
  * global sort, see SparkEntry),
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
    "token_count" -> 0,        // scan
    "quality_score" -> 0,      // scan
    "hash_sample" -> 0,        // deterministic filter
    "bpe_token_count" -> 0,
    "array_stats" -> 0,        // HOF-only profile: no explode, no agg shuffle
    "pricing_summary" -> 1,    // partial agg
    "dedup_exact" -> 1,
    "calendar_weekly" -> 1,
    "sessionize" -> 1,         // ONE user exchange reused by both windows + agg
    "topk_per_group" -> 1,
    "shipping_priority" -> 2,  // fact agg; dims broadcast; top-10 heap
    "pivot_event_counts" -> 2,
    "revenue_by_nation" -> 1,  // fact-fact shuffle; all dims broadcast
    "posting_lists" -> 2,      // (term,doc) tf agg + term agg
    "paragraph_dedup" -> 4,    // seg-text dedup + doc reassembly + per-doc counts + join
    "big_orders" -> 1,         // fact agg; join-back is AQE broadcast
    "snapshot_diff" -> 3,      // full-outer key shuffle (both sides) + status agg
    "zorder_cluster" -> 2,     // zmax 1-row agg + z-bucket agg
    "pq_codes" -> 2,           // (id,mi) argmin agg + id regroup
    "lm_score" -> 5,           // c1 agg + c2 agg + 2 gram-keyed joins + doc agg
    "ngram_novelty" -> 6,      // distinct (doc,gram) + df agg + gram join + doc agg
                               // (+1 when a sibling suite left the doc relation cached:
                               // the InMemoryRelation variant plans one extra exchange)
    "reservoir_per_group" -> 1,// lang top-k agg (bounded buffers)
    "padding_waste" -> 3,      // range exchange (PrefixScan) + batch agg
    "leakage_audit" -> 5,      // per-user split agg + user join + split agg
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
    "stream_type_stats" -> 1,  // transformWithState: ONE user-keyed exchange
    "stream_dedup" -> 1,       // transformWithState: ONE (user,type)-keyed exchange
    "mlm_mask_plan" -> 0,      // pure array-HOF map: scan only
    "jsonl_ingest" -> 0,       // line build + JSON source read + envelope: all scan-side
    "span_corruption_plan" -> 1, // ONE doc exchange shared by all 3 windows AND the
                               // reassembly agg (partitioning preserved)
    "asof_join_forward" -> 1,  // ONE key exchange for the union+window
    "dedup_method_agreement" -> 9, // two capped candidate builders (band/byte self-joins)
                               // + pair-keyed full-outer + 3-row status agg
    "event_transitions" -> 3,  // user-keyed lead window + pair agg + tiny share window
    "bigram_lift" -> 6,        // bigram agg + unigram agg (tracked, inlined per ref)
                               // + word joins + 1-row totals + top-20 heap
    "prefix_share" -> 1,       // ONE prefix-keyed agg
    "rouge_pairs" -> 2,        // id-aligned pair join (AQE-broadcastable)
    "lang_gram_overlap" -> 7,  // static count inlines the tracked (lang,gram)
                               // distinct 3x (per-lang + both self-join sides;
                               // it materializes once) + gram self-join + pair
                               // agg + inventory broadcasts
    "quality_auc" -> 3,        // score-level agg + PrefixScan range exchange + 1-row fold
    "ks_drift" -> 5,           // score-level agg + two PrefixScan range exchanges
                               // + 1-row totals fold + top-1 heap
    "dataset_split" -> 2,      // (lang,split) agg + per-lang share window
    "hll_by_source" -> 2,      // (source,bucket) register agg + source fold
    "pq_recall" -> 7,          // exact-truth heap + PQ assign/LUT joins + recall agg
    "sft_loss_mask" -> 0,      // pure array-HOF map: scan only
    "shard_plan" -> 2,         // PrefixScan range exchange + shard agg
    "interleave_sources" -> 3, // grouped-scan rank + tiny idx window x2 (distinct
                               // + global count on <=|sources| rows)
    "media_dedup" -> 3,        // mapPartitions repartition + (modality,checksum) agg
                               // + modality agg
    "tokenizer_fertility" -> 1,// one lang-keyed agg
    "temperature_mix" -> 3,    // source agg (inlined twice: per + totals ref) +
                               // 1-row fold
    "decontam_stats" -> 3,     // matched-gram agg + doc-keyed left join + source agg
    "ab_test_metrics" -> 1,    // one global conditional agg: SinglePartition fold only
    "group_kfold" -> 3,        // fold agg + 5-row share window
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
    "semdedup_clusters" -> 0,  // the probe-2 candidate build, verify, and component
                               // fixpoint all run at CONSTRUCTION (driver rounds
                               // under GraphRounds.LocalEdgeBound, pinned Spark rounds
                               // above it); the final plan reads the converged
                               // label relation
    "basket_size_profile" -> 3,// (ok,pk) distinct + basket-size agg + size-bucket agg
    "basket_pairs" -> 6,       // round-15: the (ok,pk) distinct is an eager pin
                               // (leaf), the capped pairs come from ONE ok-keyed
                               // collect_list fold + generate (the pre-r15 shape
                               // paid the cap window twice — once per self-join
                               // leg — plus the SMJ itself), so what remains is
                               // basket fold + pair agg + part-freq agg + the
                               // 2-exchange distinct order count + the top-20
                               // cut
    "knn_label_noise" -> 7,    // capped band self-join + pair scoring rejoins +
                               // per-vector heap + label joins (tracked subtrees inlined)
    "asof_join_nearest" -> 1,  // ONE key exchange; both direction windows re-sort in place
    "late_event_audit" -> 1,   // ONE user exchange shared by running-max window + agg
    "calibration_bins" -> 3,   // bin agg + tiny single-partition share window
    "cohen_kappa" -> 1,        // one global conditional agg: SinglePartition fold only
    "vocab_growth" -> 3,       // gram first-doc agg + bucket agg + PrefixScan range
                               // exchange
    "ttr_by_source" -> 2,      // (source,token) distinct agg + source fold
    "chi2_independence" -> 3,  // cell agg + tiny single-partition windows
    "bloom_fpr" -> 7,          // member/probe distinct aggs + register agg + per-hash
                               // probe agg + membership join + two 1-row folds
    "market_share" -> 3,       // ONE fact-fact shuffle (both sides) + (year,nation) agg;
                               // dims broadcast; share window over the tiny agg relation
    "attribution_last_touch" -> 1, // ONE user exchange for the union+window
    "graph_degree_hist" -> 8,  // static count inlines the tracked candidate-pair
                               // subtree (band self-join) once per endpoint ref;
                               // own work is per-id agg + degree agg
    "rrf_fusion" -> 8,         // bm25's 5 + candidate-set lex/sem/fused rank windows
                               // (all over <=30 rows)
    "quantile_transform" -> 2, // grouped-scan (pid,source) window exchange +
                               // per-source count fold (rank scan at construction)
    "curriculum_schedule" -> 3,// source agg + tiny totals window
    "stream_attribution" -> 1, // transformWithState: ONE user-keyed exchange
    "ivfpq_topk" -> 6,         // cell-assign argmin + probe windows + candidate code
                               // join + ADC agg + per-query heap (LUT/probes broadcast)
    "join_card_audit" -> 5,    // two per-key count aggs + tiny key full-outer join
                               // + 1-row fold — never the audited join itself
    "feature_hashing" -> 1,    // ONE (doc,bucket)-keyed map-side-combined agg
    "sentence_stats" -> 0,     // scan-local regexp counts: zero shuffles
    "session_paths" -> 3,      // ONE user exchange (session windows + per-session agg
                               // co-partitioned) + path agg + top-20 heap
    "gap_histogram" -> 2,      // ONE user exchange for the lag window + <=7-group agg
    "matryoshka_audit" -> 1,   // id-aligned pair join broadcasts at fixture scale
    "pca_power" -> 6,          // 3 power iterations x (per-dim decimal agg +
                               // 1-row iterate collect); corpus never re-shuffles
    "source_minhash_overlap" -> 2, // production-only since r8: per-doc scan-side
                               // signature fold + |sources|-row agg
    "source_overlap_audit" -> 10,  // tracked sampled-gram distinct inlined per ref
                               // (count + both self-join sides) + sig fold +
                               // pair agg
    "rfm_segments" -> 2,       // final-plan exchanges only: the user agg and
                               // the three PrefixScan.ntile range exchanges run
                               // at construction (checkpointed); what remains is
                               // the last ntile's _pid window exchange
    "ranking_eval" -> 7,       // bm25's 5 + candidate embedding join + per-term
                               // grade agg (eval windows <=30 rows)
    "query_expansion" -> 7,    // bm25's 5 + (term,w) tf agg + bounded per-term
                               // rank window; hit relation broadcast
    "search_snippets" -> 5,    // bm25's 5; the hit relation
                               // broadcasts onto the doc scan, snippets are array ops
    "token_coverage" -> 1,     // ONE PrefixScan (pid) window exchange (rank and
                               // cum_freq share the scan, round-15); totals
                               // are literals from the scan's
                               // collect — the old totals fold and second range
                               // exchange are gone
    "promo_revenue" -> 1,      // part broadcast into the pruned scan + 1-row fold
    "or_predicate_revenue" -> 1, // same shape; OR factored into both scans
    "avg_qty_threshold" -> 2,  // ONE partkey exchange (window avg) + 1-row fold
    "top_supplier" -> 3,       // tracked suppkey agg (inlined) + 1-row max fold
                               // broadcast back as an equi-join (no global window)
    "idle_customers" -> 2,     // anti-join key exchange (both sides) + nation agg
    "incremental_agg_merge" -> 2, // base partial + delta partial + merge re-agg
    "dpo_pairs" -> 0,          // quality is scan-local; pair join broadcasts
    "simpson_diversity" -> 2,  // (source,term) agg + source fold
    "hapax_ratio" -> 2,        // same shape as simpson_diversity
    "forecast_revenue" -> 1,   // all predicates pushed; 1-row fold only
    "returned_revenue_topk" -> 2, // fact join (broadcast at fixture scale) +
                               // cust agg; top-20 is TakeOrderedAndProject
    "late_shipment_priority" -> 2, // semi-join exchange + priority agg
    "delta_compress" -> 2,     // ONE user exchange (lag window) + type agg
    "seqlen_sweep" -> 1,       // map-side-combined L agg
    "stream_delta_compress" -> 3, // ONE user-keyed transformWithState exchange
                               // + kept-type agg + totals agg (broadcast join)
    "active_sessions_daily" -> 3, // user session window + day delta agg +
                               // PrefixScan range exchange (offsets broadcast)
    "batch_replay" -> 3,       // rank keyed agg + PrefixScan range exchange +
                               // pinpoint doc join (tiny side broadcast)
    "scd2_asof_lookup" -> 2,   // change-detect window + as-of union key exchange
    "window_funnel" -> 9,      // two forward as-of union exchanges + three
                               // stage aggs (count-distinct = 2 exchanges each)
    "next_token_topk" -> 2,    // scan-pruned bigram agg + per-context window
    "stream_hll_users" -> 1,   // ONE type-keyed transformWithState exchange
    "local_supplier_volume" -> 2, // ONE fact-fact shuffle (both sides) + nation agg;
                               // all four dims broadcast
    "stream_cms_terms" -> 1,   // ONE row_j-keyed transformWithState exchange
    "stream_bloom_fingerprints" -> 1, // ONE block-keyed transformWithState exchange
    "nation_trade_flows" -> 1, // ONE fact-fact shuffle + direction-year agg
                               // (all dims broadcast)
    "fd_audit" -> 9,           // 3 candidates x (distinct + det fold + 1-row agg)
    "colbert_maxsim_topk" -> 3, // per-(doc,qvec) max agg + per-doc fold + TakeOrdered
    "sft_render" -> 0,         // scan-local render
    "min_cost_supplier" -> 2,  // (part,supp) min agg + per-part window exchange;
                               // part screen + EU suppliers broadcast
    "sole_late_supplier" -> 3, // order join broadcast at fixture scale; (order,supp)
                               // agg + orderkey window + suppkey agg
    "supplier_part_relationship" -> 2, // 4-tuple distinct + group agg;
                               // part screen and flagged-supplier list broadcast
    "dominant_supplier" -> 3,  // (part,supp) qty agg + per-part window + survivor
                               // distinct; dims broadcast
    "zipf_profile" -> 3,       // term agg + TakeOrdered heap; rank/lag windows
                               // single-partition over <=1024 rows
    "revenue_autocorr" -> 4,   // day agg + ONE single-partition window for all 7
                               // lags + 7-group moment fold
    "stream_anomaly_flags" -> 1, // transformWithState: ONE user-keyed exchange
    "epi_two_by_two" -> 3,     // (user,day) fold + 4-cell SinglePartition fold
    "seasonal_index" -> 3,     // (year,month) agg + ONE year exchange for both
                               // windows + month fold
    "pareto_share" -> 2,       // ntile's _pid window exchange + 1-row fold
                               // (customer fold runs at construction, checkpointed)
    "sql_native_functions" -> 0, // scan-local codegen exprs only
    "twap_by_user" -> 1,       // ONE user exchange (lead window + agg
                               // co-partitioned)
    "exact_quantiles" -> 1,    // ntile-style _pid window exchange
                               // (rank scan itself runs at construction, checkpointed)
    "sorted_neighborhood_pairs" -> 2, // tracked rank relation inlined per join
                               // side; neighbor join broadcasts
    "abc_classification" -> 2, // (pid) window exchange + class fold; the
                               // grand total is a literal from the
                               // decimal scan's collect (round-15) — the old
                               // cross-broadcast total fold and the cache it
                               // raced are gone
    "funnel_by_cohort" -> 3,   // user-keyed stateful funnel + cohort min-fold
                               // + cohort matrix fold
    "stream_fifo" -> 1,        // ONE user-keyed transformWithState exchange
                               // (backlog state drains in-task)
    "fifo_match" -> 2,         // ONE user exchange per side (windows + join
                               // co-partitioned); output linear
    "phonetic_block" -> 1,     // ONE map-side-combined key agg
    "concurrency_profile" -> 2,// session-window agg + PrefixScan's range
                               // exchange + day-peak agg (sweep sums ride the
                               // scan's pid windows, no global window)
    "robust_trend" -> 8,       // tracked month agg inlined per pair side (2) and
                               // once for n_months; tracked pair relation inlined
                               // for stats + rank window; all over <=|months|^2
                               // rows — executed once each when caches materialize
    "ppjoin_pairs" -> 4,       // df agg + (df⋈tokens) + per-doc ordered fold +
                               // prefix equi-join (round-15: the
                               // shingle working set is an eager pin, so the
                               // verify joins scan checkpoint leaves — one
                               // exchange fewer than the tracked-cache shape;
                               // an explicit cores-wide repartition experiment
                               // at the CPU-dense sites was measured and
                               // REVERTED — see ppjoinCandidatesFrom)
    "name_match_jw" -> 2,      // same sorted-neighborhood shape over part names;
                               // JW screens fuse into the join's codegen stage
    "record_linkage_fs" -> 2,  // same blocked pairs + literal-weight sum; the
                               // FS classifier adds no exchange
    "lorenz_curve" -> 3,       // ntile's _pid window exchange + 10-row decile
                               // fold + tiny cumulative/total windows
    "burstiness_index" -> 2,   // (user,day) agg + user moment fold
    "max_drawdown" -> 3,       // day agg + ONE ordered single-partition exchange
                               // for all three stacked windows + top-1
    "gini_by_nation" -> 2,     // grouped-PrefixScan (pid,nat) window exchange +
                               // moment fold (range exchange runs
                               // at construction, checkpointed)
    "hazard_table" -> 3,       // user fold + day-level agg + reversed cumulative
                               // window over the tiny horizon relation
    "bitmap_index_audit" -> 4, // two word-bitmap aggs + word equi-join +
                               // (seg,nat) popcount fold + direct-count audit join
    "k_anonymity_audit" -> 3,  // quasi-group agg (distinct-sensitive = partial
                               // + final pair) + 4-band fold
    "stream_scd2" -> 1,        // ONE user-keyed transformWithState exchange;
                               // O(1) state replaces lag/lead
    "stream_cdc_apply" -> 1,   // ONE key-keyed transformWithState exchange over
                               // the 3-leg op union
    "stream_funnel" -> 2,      // ONE user-keyed transformWithState exchange
                               // + 1-row stage fold (stack is scan-local)
    "stream_twap" -> 1,        // ONE user-keyed transformWithState exchange
    "stream_bitmap_users" -> 2,// ONE type-keyed transformWithState exchange
    "stream_user_status" -> 2, // activity distinct + ONE cust-keyed
                               // transformWithState exchange
    "relational_division" -> 1,// ONE cust fold (count=count form of the double
                               // NOT EXISTS); customer broadcast
    "poisson_bootstrap" -> 1,  // scan-side x20 expand; ONE 20-group replicate
                               // fold — the fact table never shuffles
    "loo_source_influence" -> 2, // source agg + tiny single-partition total windows;
                               // no join, no per-source re-scan
    "benford_audit" -> 2,      // 9-digit agg + tiny single-partition total window
                               // (shares are per-row divisions)
    "growth_accounting" -> 4,  // (cust,month) distinct + cust lag window + month
                               // agg + <=|months|-row churn lag
    "weighted_median_by_group" -> 5, // tracked level agg inlined per ref (cum scan
                               // + totals fold) + grouped-scan (pid,flag) window
                               // exchange + qualifying-level min fold
    "median_by_group" -> 2,    // grouped-scan (pid,type) window exchange +
                               // per-type count fold
    "running_share" -> 1,      // grouped-scan (pid,class) window exchange;
                               // class totals come from the scan's own collect
                               // (round-15), the separate fold is gone
    "rank_metrics" -> 1,       // level agg feeds the construction-time grouped
                               // scan; final plan: level rejoin only — per-class
                               // n is the scan's own per-group total (round-15)
    "mode_by_group" -> 2,      // value-level agg + per-flag max window + argmax fold
    "hll_source_overlap" -> 11, // static count inlines the tracked register agg
                               // per est reference (pair inventory + est_a/est_b
                               // decorations + union side); executed once cached:
                               // register agg + pair-union regroup + tiny folds
    "source_term_signatures" -> 8, // cell agg (inlined per ref) + term/source
                               // totals + 1-row grand total + rank window
    // Round-9 additions:
    "stratified_split" -> 1,   // (lang,split) agg; the hash
                               // split itself is scan-local arithmetic
    "token_budget_trim" -> 2,  // grouped-scan (pid,source) window exchange +
                               // source fold
    "domain_mixture_weights" -> 3, // source agg (inlined per ref of the
                               // 1-row max/total scalar)
    "pack_context_bins" -> 1,  // ONE shard-keyed flatMapGroups exchange
    "stream_pack" -> 1,        // ONE shard-keyed transformWithState exchange
    "rep_ngram_profile" -> 1,  // source fold over scan-local gram counts
    "media_neardup_pairs" -> 3,// tracked fp-rep agg inlined per self-join side
                               // + (modality,band,key) equi-join
                               // (executed once the cache materializes: 2)
    "graph_degree_profile" -> 4, // distinct edge build inlined per union ref +
                               // deg fold + bucket fold
    "mrl_truncation_recall" -> 15) // tracked truth/corpus inlined per ref
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
  // fixture graph; the final plan is then a local relation), as pinned
  // Spark rounds above it; their budget is the per-query job ceiling in
  // GraphJobBudgetSpec. For
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

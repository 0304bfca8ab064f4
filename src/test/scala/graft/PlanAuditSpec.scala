package graft

/** Plan-quality regression gate: every SparkEntry query is PLANNED (not
  * executed) and its physical plan scanned for the two shapes that do not
  * survive scale — nested-loop joins and cartesian products — outside a
  * documented whitelist. A new query (or a Catalyst behavior change) that
  * silently plans a BNLJ fails here instead of surfacing as a bench
  * regression three rounds later.
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries ALLOWED to contain a nested-loop/cartesian shape, each with
    * the reason it is safe at scale. */
  private val whitelist: Map[String, String] = Map(
    "occ_centroid_filter" -> "BNLJ against a broadcast 20-row centroid dim",
    "occ_clean_pipeline" -> "same centroid BNLJ inside the composed chain",
    "cleaning_summary" -> "same centroid BNLJ inside the composed chain",
    "sim_cosine_topk" -> "documented brute-force baseline: query side is 5 broadcast rows",
    "sim_ivf_topk" -> "codebook assignment crossJoin against 8 broadcast centroid rows",
    "text_bm25_topk" -> "crossJoin against two single-row broadcast stats frames",
    "text_kneser_ney" -> "crossJoin against the single-row broadcast bigram-type total T",
    "text_unigram_fertility" -> "Viterbi DP crossJoin against the single-row broadcast cost-map frame (the learned pieces as one map value)",
    "sim_rp_topk" -> "shortlist crossJoin against 5 broadcast reduced-dim query rows",
    "spatial_nearest" -> "argmin expand against a broadcast 20-row centroid dim",
    "text_surprisal" -> "crossJoin against the single-row broadcast corpus-total frame",
    "events_ttl_sweep" -> "crossJoin against the single-row broadcast watermark frame",
    "data_skew_audit" -> "crossJoin against the single-row broadcast key-space stats frame",
    "text_keyword_tfidf" -> "crossJoin against the single-row broadcast corpus-total frame",
    "meta_fk_audit" -> "per-leg crossJoin against a single-row broadcast total frame",
    "occ_range_overlap" -> "triangle (a < b) BNLJ against the broadcast ≤|species|-row bbox table",
    "affinity_brand_pairs" -> "crossJoin against the single-row broadcast order-total frame",
    "q22_prospect_share" -> "crossJoin against the single-row broadcast balance-threshold frame",
    "sim_maxsim_topk" -> "documented late-interaction scorer: query side is 5 broadcast rows",
    "sim_ann_recall_audit" -> "inherits sim_cosine_topk's 5-broadcast-row brute-force crossJoin",
    "events_inactivity_churn" -> "crossJoin against the single-row broadcast watermark frame",
    "dedup_lsh_recall_audit" -> "crossJoin of three single-row count frames (1×1×1)",
    "graph_global_clustering" -> "crossJoin of the two single-row wedge/triangle aggregates (1×1)",
    "occ_morans_i" -> "crossJoin of the two single-row numerator/denominator folds (1×1)",
    "meta_pseudonymize_audit" -> "crossJoins of three single-row audit folds (1×1×1)",
    "sim_ivfpq_topk" -> "inherits sim_ivf_topk's codebook-assignment crossJoin against 8 broadcast centroid rows",
    "q38_customer_set_algebra" -> "crossJoins of five single-row set-cardinality folds (1×1)",
    "data_order_autocorr" -> "crossJoin of the two single-row observed/expected folds (1×1)",
    "sim_recall_vs_nprobe" -> "four sweep legs inherit sim_ivf_topk's 8-broadcast-centroid-row probe crossJoin",
    "occ_temporal_turnover" -> "crossJoin against the single-row broadcast midpoint frame",
    "events_survival_km" -> "crossJoin against the single-row broadcast censoring-watermark frame",
    "meta_join_size_estimate" -> "crossJoins of two single-row bucket-estimate folds (1×1)",
    "occ_ripley_k" -> "crossJoin against the single-row broadcast totals fold (4×1)",
    "graph_modularity" -> "crossJoin against the single-row broadcast edge-count fold (1×1)",
    "events_retention_halflife" -> "crossJoin against the single-row broadcast observation-horizon frame",
    "multimodal_phash_dedup" -> "crossJoin against the single-row broadcast corpus-count frame (idf weights)",
    "sim_matryoshka_recall" -> "documented brute-force baseline: query side is 5 broadcast rows (sim_cosine_topk class)",
    "sim_mrr_eval" -> "documented brute-force baseline: query side is 5 broadcast rows (sim_cosine_topk class)",
    "occ_envelope_projection" -> "generated 64800-row raster × broadcast ≤|species|-row envelope boxes — both sides layout constants",
    "events_user_gini" -> "crossJoin against the single-row broadcast totals fold (1×|users|)",
    "spatial_zone_pruning_audit" -> "16-box × broadcast 32-file envelope BNLJ — both sides layout constants",
    "sim_rrf_fusion" -> "documented brute-force vector leg: query side is 5 broadcast rows (sim_cosine_topk class)",
    "sim_sign_quantize_recall" -> "documented brute-force baseline: query side is 5 broadcast signature rows (sim_cosine_topk class)",
    "occ_nestedness" -> "three 1-row fold crossJoins (dims x sp_sum x cell_sum) — the whitelisted 1x1x1 class",
    "sim_hubness_audit" -> "crossJoin against the single-row broadcast totals fold (1×|nodes|)",
    "meta_summary_dtol" -> "crossJoin of the two single-row summary folds (status × genome-notes, 1×1)",
    "events_did" -> "crossJoin against the single-row broadcast span/midpoint frame",
    "events_ab_cuped" -> "two single-row broadcast folds: the calendar midpoint + the pooled theta/variance frame (2×1)",
    "events_session_gap_sweep" -> "crossJoin against the single-row broadcast totals frame (6×1)",
    "data_datasheet" -> "datasheet fold chain: six single-row broadcast crossJoins (totals × langs × sources × pair stats, all 1×1)",
    "occ_sdm_background" -> "species-dim × broadcast ≤648-cell effort grid — both sides layout constants (envelope-projection class)",
    "events_fdr_bh" -> "crossJoins against the single-row broadcast m and max-k folds (1×1)",
    "occ_sdm_auc" -> "inherits occ_sdm_background's species-dim × broadcast cell-grid cross (layout constants)",
    "occ_chao2_richness" -> "crossJoin against the single-row broadcast m fold (1×1)",
    "events_logrank" -> "crossJoin of the two single-row arm/term folds (1×1)",
    "events_lorenz_deciles" -> "crossJoin against the single-row broadcast totals fold (1×|users|, user_gini class)",
    "occ_sdm_calibration" -> "inherits occ_sdm_background's species-dim × broadcast cell-grid cross (layout constants)")

  test("no query plans a nested-loop or cartesian join outside the whitelist") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val plan = q(spark, sf).queryExecution.executedPlan.toString
        val bad = plan.contains("BroadcastNestedLoopJoin") ||
          plan.contains("CartesianProduct")
        if (bad && !whitelist.contains(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"un-whitelisted nested-loop/cartesian plans in: ${offenders.mkString(", ")}")
  }

  test("whitelisted entries still exist as queries") {
    val stale = whitelist.keys.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"whitelist entries for unknown queries: ${stale.mkString(", ")}")
  }

  /** Exchange-count gates for the heaviest queries: a lost broadcast or an
    * extra shuffle shows up here as a hard failure instead of only moving
    * a bench number. Bounds are the CURRENT plan's count — tighten them if
    * a plan improves; never loosen without a written reason. Counts are
    * PLANNED full-tree shuffle exchanges; runtime ReuseExchange may
    * dedupe identical subtrees, so a pin is an upper bound on work.
    * Iterative queries (dedup_cluster & co.) pin their RETURNED plan —
    * the per-round loop bodies run at build time behind checkpoints.
    * Since r8 every SparkEntry query is pinned; the coverage test below
    * prints the measured count of any query that lacks a pin. */
  private val maxExchanges: Map[String, Int] = Map(
    "q01_agg_summary" -> 1, // one partial-aggregated shuffle
    "q03_join_agg" -> 1, // both dims broadcast; one agg shuffle
    "dedup_ngram_jaccard" -> 5, // shingle agg + posting agg + pair agg + AQE size joins
    "dedup_minhash_lsh" -> 7, // signature agg + bucket-cap count + band agg + two sig join sides
    "dedup_simhash" -> 5, // fingerprint agg + bucket-cap count + band-bucket agg + pair dedup
    "sim_ivf_topk" -> 3, // assignment agg + probe agg + rerank agg
    "events_asof" -> 1, // the ONE union-tag window exchange
    "text_winnowing" -> 1, // one doc_id exchange feeds both windows + agg
    "events_funnel" -> 1, // per-user session window + per-session windows/agg
    "text_diversity" -> 2, // (doc,tok) count + per-doc agg
    "text_curation_funnel" -> 1, // single-row final agg after map-side partials
    "q17_kmv_distinct" -> 2, // (flag,hash) distinct + k-bounded sketch agg
    "sim_knn_graph" -> 7, // two bucket-assignment aggs (self-join sides) + cap agg + rerank agg
    "q18_running_window" -> 1, // one partition-key exchange, shared sort
    "data_shuffle_shards" -> 1, // one shard-id exchange, row_number rides it
    "dedup_repeated_ngrams" -> 3, // gram window exchange + df agg; AQE broadcasts the df side
    "freq_count_min" -> 1, // sketch cell agg; exact agg is checkpointed, probe side broadcast
    "text_cdc_chunks" -> 0, // scan-bound native expression: ZERO shuffles
    "events_retention" -> 2, // user_id agg + (cohort, offset) cell agg — no join
    "events_top_paths" -> 2, // user window + path count; rank rides WindowGroupLimit
    "sim_random_projection" -> 1, // ONE partial-aggregated vec_id exchange
    "dedup_shingle_containment" -> 4, // gram window + df agg + checkpointed-rare szs/pair aggs
    "meta_scd2_history" -> 1, // both windows ride one user_id exchange
    "events_value_quantiles" -> 1, // rank window + aggregate share the type partitioning
    "data_interleave_sources" -> 2, // (shard, lang) stride window + shard position window
    "graph_triangles" -> 5, // edge distinct over checkpointed knn + wedge/semi joins + node agg
    "sim_rp_topk" -> 3, // projection agg + shortlist rank + rerank agg; query sides broadcast
    "spatial_grid_density" -> 2, // (cell, species) agg + cellid window/agg
    "events_throttle" -> 1, // one (user, hour) exchange, WindowGroupLimit pre-prunes
    "events_json_stats" -> 2, // count-distinct expand: partial distinct + final agg
    "occ_outlier_mad" -> 3, // fused two-axis median windows: one species exchange per stage
    "data_snapshot_diff" -> 2, // two hash-only sides of the full-outer key join
    "spatial_zorder_layout" -> 2, // count-distinct expand over the bucket agg
    "multimodal_frame_sample" -> 0, // narrow binary slicing: ZERO shuffles
    "multimodal_audio_windows" -> 0, // narrow scan + generator: ZERO shuffles
    "dedup_winnow_pairs" -> 5, // winnow window exchange + fp distinct + df cap + posting + pair aggs
    "q14_approx_distinct" -> 4, // r14: + value-dedup exchange BEFORE hashing (narrow rows, md5 count drops ~2.5x; registers take max so duplicates can't move them) + register-max agg + per-measure agg + final group agg, one scan
    "biogeo_annotate" -> 1, // broadcast cell join; ONE dual-collect_set agg shuffle
    "biogeo_summary" -> 1, // same broadcast join; one summary agg shuffle
    "dedup_contamination" -> 3, // gram aggs both sides + pair agg; eval side broadcast
    "dedup_exact" -> 1, // one text-hash agg shuffle, no join
    "dedup_fuzzy_match" -> 2, // block-key self-join sides; cap agg checkpointed
    "q25_quarter_growth" -> 2, // orders agg + lag window on the aggregate
    "data_quota_sample" -> 3, // source count agg + per-source rank window; alloc broadcast
    "occ_centroid_shift" -> 2, // (species, ym) agg + lag window on the aggregate
    "events_cohort_ltv" -> 4, // (user,day) agg + user fold + cell agg + cum window
    "events_hazard_rate" -> 3, // user-type fold + histogram agg + at-risk window
    "text_vocab_growth" -> 3, // checkpointed base: offsets window + bkt window + join
    "dedup_lsh_recall_audit" -> 3, // single-row aggs over checkpointed pair sets
    "q26_small_qty_revenue" -> 2, // partkey window + brand rollup; part broadcast
    "data_dedup_impact" -> 1, // one source rollup; victim set checkpointed+broadcast
    "events_error_budget" -> 2, // hour agg + cum window on the aggregate
    "events_peak_concurrency" -> 3, // checkpointed sessions: offsets + in-hour window + final agg
    "sim_cluster_cohesion" -> 1, // one cluster rollup over the checkpointed assignment
    "q27_trade_balance" -> 2, // two rollups over the checkpointed cell aggregate
    "data_class_balance" -> 2, // label agg + tiny global window
    "events_arrival_regularity" -> 2, // user-type window + |types|-row aggregate
    "data_epoch_order" -> 1, // one (epoch, shard) exchange carries the rank
    "dedup_cluster_sizes" -> 2, // cluster-size agg + bin agg over checkpointed CC
    "events_weekday_profile" -> 2, // (type, weekday) agg + type argmax agg
    "data_token_budget_cut" -> 3, // ttr-lattice offsets agg + tiny window + bucket window
    "q28_ship_latency" -> 2, // orders side broadcast; join + bin rollup
    "text_source_overlap" -> 4, // checkpointed (source,fp): sizes + join sides + pair agg
    "occ_gap_analysis" -> 2, // count-distinct expand over the species aggregate
    "meta_summary_facets" -> 3, // facet explode agg + two rollup legs
    "meta_summary_dtol" -> 5, // dwh experiments agg + status fold + note-tax study agg/rollup + distinct-organism fold
    "dedup_suffix_window" -> 2, // post-checkpoint: pair self-join + island/run rollups (window build behind Ckpt.capped)
    "text_unigram_lm_learn" -> 0, // final top-30 window off the per-round checkpointed vocab-sized cost table
    "text_unigram_fertility" -> 2, // cost-map gather for the vocab DP + final per-source agg (corpus rides ONE broadcast join)
    "events_did" -> 2, // global span fold + ONE event_type hash aggregate
    "occ_sdm_background" -> 2, // species-dim agg + rank window (presence set behind Ckpt.capped; effort broadcast)
    "events_fdr_bh" -> 1, // final max-k fold off the checkpointed ≤m-row ranked table (MK pair join behind Ckpt.capped)
    "events_kleinberg_burst" -> 1, // one per-type fold off the checkpointed (type, hour) agg (calendar join rides it)
    "occ_sdm_auc" -> 4, // background picks (2, sdm shape) + species tbar agg + the pair-join AUC rollup
    "occ_sdm_calibration" -> 5, // background picks (2) + tbar agg + pooled union legs + 5-bin rollup
    "occ_chao2_richness" -> 4, // m distinct fold + species incidence rollup + the two-level q agg (incidence behind Ckpt.capped)
    "data_l_diversity" -> 2, // (class, sensitive) agg + the class rollup (window rides the first exchange)
    "events_logrank" -> 3, // day table agg + at-risk suffix window + the single-row term fold (marks behind Ckpt.capped)
    "events_odds_ratio" -> 2, // (arm, user) partial agg + the 4-cell fold
    // ---- r12 adds ----
    "bio_ingest_pipeline" -> 9, // 7 species-grain branch aggs (tax/raw/ncl/clim/biogeo/range/prov latest+rollup) off the ONE checkpointed cleaning chain; all species-grain joins broadcast
    "data_salted_join_audit" -> 3, // forced-SMJ fact+dim exchanges on (key, salt) — the mitigation plan itself — + final heavy rollup; per-(key,salt) agg rides the join partitioning; heavy set behind Ckpt.capped
    "spatial_region_join" -> 3, // parity agg on prefiltered candidates + region rollup + its single-distinct species leg; cell map and edge relation both broadcast
    "spatial_buffer_region_join" -> 3, // same triple as spatial_region_join over the x8-vertex grid; cell map and edge relation broadcast
    "spatial_buffer_biogeo" -> 3, // bufferRegionHits pair agg + species rollup legs; broadcast dims throughout
    "events_ab_cuped" -> 2, // global pooled fold + 2-row arm fold off the checkpointed per-user table; midpoint + theta frames broadcast (whitelisted 1-row crossJoins)
    "events_theil_sen" -> 2, // pair-rank window + median pick agg off the checkpointed daily table (MK pair-join class); n_days rollup broadcasts back
    "text_lz_complexity" -> 0, // pure narrow scan projection: the whole LZ78 parse runs inside the codegen Expression
    "text_conditional_entropy" -> 4, // conditional leg: marginal window + lang fold; unigram leg: (lang,u) agg + lang fold — all over the checkpointed bigram aggregate (vocab²-bounded)
    "sim_sq8_recall" -> 2, // pair partial-agg on (qid, vec) + final qid fold; per-dim range + 5×64 query codes broadcast (rank windows ride the pair exchange)
    "graph_onion_layers" -> 0, // every peel round ends in its own checkpoint (was 4 with two rounds per checkpoint: the in-plan round's degree agg); the dropped-set anti-joins read survivor checkpoints of the init estimate, all broadcast
    "events_mannwhitney_ab" -> 3, // per-user agg + mass histogram + the single-row fold; midrank window rides the |masses|-row aggregate
    "sim_graph_search_recall" -> 6, // final top-10/exact rank windows + overlap fold off the checkpointed visited/dotfp tables (search rounds all behind per-round Ckpt.capped)
    "events_session_gap_sweep" -> 4, // ONE user lag window reused by the totals fold + the 6-threshold explode agg (single-row totals frame broadcast, whitelisted)
    "data_datasheet" -> 10, // four single-row component folds (totals/langs/sources/pairs) off the checkpointed doc-stat + pair relations; the joins are all whitelisted 1×1 crossJoins
    "graph_pagerank" -> 0, // every round ends in its own checkpoint (was 6, the unrolled rounds' aggs): the returned plan projects the last
    "events_cusum" -> 2, // per-type target agg (broadcast back) + ONE window exchange
    "data_compact_files" -> 3, // bucket totals agg + 32-row offsets window + per-bucket cumsum
    "data_bloom_gate" -> 4, // member distinct + 2048-word filter agg + probe distinct + bool_and
    "spatial_nearest" -> 1, // broadcast centroid expand; ONE argmin agg shuffle
    "text_surprisal" -> 4, // vocab agg (planned twice: join side + total fold) + total + doc agg
    "dedup_paragraphs" -> 2, // paragraph-hash agg; count-distinct expand
    "multimodal_dedup_bytes" -> 1, // ONE (md5, len) agg; hashes only, payloads stay in the scan
    "graph_communities" -> 0, // every round ends in its own checkpoint (was 9, the unrolled rounds' count + argmin aggs): the returned plan projects the last
    "data_mixture_sample" -> 1, // ONE lang-partitioned rank window; quotas broadcast
    "graph_ancestor_closure" -> 0, // returned plan reads the final checkpoint: ZERO
    "dedup_incremental_exact" -> 2, // batch min-id agg + index-hash distinct; AQE broadcasts both
    "events_ttl_sweep" -> 2, // (type, day) count + watermark agg; ttl + wm broadcast
    "meta_schema_drift" -> 2, // count-distinct expand over the per-key agg
    "events_bottomk_sample" -> 1, // ONE k-bounded sketch agg shuffle, O(k) per group
    "q19_star_join" -> 1, // at gate scale even filtered orders broadcasts: agg shuffle only
    "text_curation_verdict" -> 4, // hash keeper agg + gram df/doc aggs + doc_id join legs; the cluster leg reads the CC label checkpoint, which carries the round-0 estimate and joins by broadcast (was 6 with the round-compounded estimate)
    "events_value_histogram" -> 1, // ONE (type, bin) agg, <=64 rows per type
    "occ_temporal_trend" -> 2, // (species, year) count + per-species fold
    "sim_kmeans_assign" -> 0, // final assignment scans the checkpointed projection: ZERO
    "data_skew_audit" -> 3, // key-count agg + rank window + heavy-rank window (aggregate-sized)
    "events_anomaly_mad" -> 1, // ONE type window off the checkpointed calendar-bounded daily agg
    "text_keyword_tfidf" -> 5, // tf agg (planned per reference) + df agg + top-5 doc window
    "text_bigram_surprisal" -> 6, // pair window replayed per vocab reference; ReusedExchange dedupes at runtime
    "occ_cell_diversity" -> 2, // (cell, species) agg + cellid window/agg ride one exchange
    "occ_accumulation_curve" -> 5, // species window + bucket window + j agg; total/curve legs are ≤256-row
    "occ_range_overlap" -> 2, // bbox agg planned per self-join side; runtime reuses
    "events_transition_matrix" -> 3, // lead window + pair agg + row-total window (aggregate-sized)
    "meta_fk_audit" -> 16, // four independent audit legs; single-row count aggs dominate
    "multimodal_chunk_dedup" -> 2, // chunk-hash agg + count-distinct expand; payloads never shuffle
    "graph_kcore" -> 0, // returned plan joins the node/survivor checkpoints: ZERO
    "q20_dominant_supplier" -> 3, // (part,supp) agg + partkey window + final agg; dims broadcast
    "events_uniques_sliding" -> 3, // (user,day) distinct + dual-distinct expand, ONE pass, no join
    "text_freq_spectrum" -> 2, // vocab agg + ≤64-row bin agg
    "events_gap_histogram" -> 2, // one (user,type) window exchange + tiny bin agg
    "affinity_brand_pairs" -> 7, // all over the CHECKPOINTED dedup: SMJ pair sides + pair agg + 2 brand-count legs + 2-step distinct total
    "meta_column_profile" -> 12, // six per-column legs x 2-step exact distinct — replaces the Expand-fused agg (3.25 s -> 0.67 s at sf0.1; each leg scans ONE pruned column)
    "events_rfm" -> 0, // returned plan reads the ranked RDD: rank exchanges happen at build
    "supplier_pareto_class" -> 2, // (nation,supp) agg + nation window; both dims broadcast
    "sim_norm_audit" -> 2, // per-vec agg + tiny per-label agg
    "q21_single_late_blame" -> 3, // orderkey dual-distinct agg (2-step) + final supplier agg
    "dedup_doc_prefix" -> 1, // one hash-agg exchange on the 16-byte prefix key
    "sim_pq_quantize" -> 0, // pure codegen projection over the checkpointed fixed-point scan
    "q22_prospect_share" -> 2, // anti-join shuffle + segment agg; threshold broadcast
    "q23_market_share" -> 2, // fact-fact shuffle + (year,nation) agg; dims broadcast, year window rides the agg
    "events_attribution" -> 2, // conv⋈touch equi shuffle + conversion-id window; channel rollup partial-aggregates
    "occ_eoo_aoo" -> 2, // two-phase distinct-cell count on the species agg
    "occ_seasonality" -> 2, // (species,month) agg + species argmax rollup
    "sim_maxsim_topk" -> 1, // query side broadcast; one O(k)-rerank agg exchange
    "text_chunk_windows" -> 0, // pure narrow tokenize+explode pipeline
    "dedup_chunk_level" -> 3, // fingerprint agg + join-back + doc rollup over the checkpointed chunks
    "graph_bfs_layers" -> 0, // per-round checkpoints cut lineage: no planned exchange survives
    "dedup_survivorship" -> 2, // cluster argmax agg + canonical join over the checkpointed labels
    "meta_cdc_apply" -> 1, // one keyed exchange shared by rank + change count
    "occ_chao1_richness" -> 2, // (cell, species) agg + cell rollup, both partial-aggregated
    "text_readability" -> 0, // pure narrow codegen projection: ZERO shuffles
    "sim_ann_recall_audit" -> 7, // exact rerank agg + lsh bucket/rerank aggs + 50-row recall agg
    "text_ngram_novelty" -> 3, // gram window + first-doc agg + doc rollup; AQE broadcasts the join
    "graph_neighbor_jaccard" -> 10, // deg agg + wedge join legs + cmn agg + joins over the checkpointed edges
    "q24_returned_revenue" -> 1, // at gate scale orders broadcasts: agg shuffle only; TakeOrdered caps the sort
    "events_conversion_lag" -> 1, // ONE user_id window exchange; running max-of-view rides the sort
    "data_curriculum_stages" -> 0, // returned plan reads the ranked RDD: rank exchanges happen at build
    "sim_bucket_audit" -> 3, // plane-sum agg + bucket-size agg + ≤40-row bin agg
    "occ_climate_envelope" -> 1, // ONE partial-aggregated |species|-row exchange
    "events_inactivity_churn" -> 2, // user agg checkpointed; wm fold + cohort rollup
    "q29_order_count_distribution" -> 2, // orders pre-agg + distribution agg; customer side broadcast
    "q30_nation_profit" -> 1, // 4 broadcast joins; ONE (nation, year) agg shuffle
    "q31_large_volume_customers" -> 1, // lineitem fold only; survivors broadcast twice
    "sim_dim_stats" -> 1, // posexplode + one partial-aggregated |dims| exchange
    "occ_range_jaccard" -> 1, // pair agg only; sp + rich checkpointed, rich broadcast
    "occ_effort_curve" -> 3, // (cell,species) agg + cell fold + ≤64-row bin agg
    "text_zipf_slope" -> 3, // (lang,w) agg + spectrum agg + per-lang OLS fold
    "events_rate_autocorr" -> 2, // (type,hour) agg + type window; OLS fold rides it
    "events_user_entropy" -> 3, // (user,type) agg + user window/fold + tiny bin agg
    "text_langid_confusion" -> 2, // scorer is shuffle-free; (lang,pred) agg + lang window
    "events_seasonal_naive" -> 1, // hourly agg checkpointed+broadcast; ONE type fold
    "graph_degree_assortativity" -> 1, // edges+deg checkpointed, deg broadcast; single-row fold
    "q32_acctbal_percentile" -> 1, // nation broadcast; ONE |nation|-partitioned window exchange
    "multimodal_size_spectrum" -> 1, // narrow length projection + one partial-agg exchange
    "events_flap_rate" -> 1, // ONE user_id window exchange; the fold rides it
    "events_incident_runs" -> 2, // hour agg + calendar-bounded island window/fold
    "events_ab_lift" -> 2, // (arm,user) partial agg + 2-row arm fold
    "events_mix_drift" -> 3, // checkpointed cells: type agg + ≤|types| global window + day window
    "customer_reorder_gaps" -> 2, // custkey lag window + ≤segments×13 bin agg; customer broadcast
    "events_session_cooccurrence" -> 1, // st + totals checkpointed/broadcast; ONE pair agg
    "text_quality_by_source" -> 1, // narrow projection + ≤|sources| partial agg
    "q33_brand_discount_lift" -> 1, // cells checkpointed; baseline fold, broadcast back
    "events_watermark_lag" -> 4, // bucket-max agg + ≤4096-row offsets window + in-bucket window + type agg
    "graph_degree_stats" -> 2, // deg agg + ≤64-row bin agg over the checkpointed edges
    "events_stickiness" -> 4, // checkpointed (user,day): dau fold + period agg + mau distinct/agg
    "graph_clustering_coeff" -> 6, // deg agg + triangle wedge/semi legs over the checkpointed edges
    "q34_min_cost_supplier" -> 2, // (part,supp) agg + part argmin agg; part fence + dims broadcast
    "data_split_leakage" -> 0, // bounded pair relation broadcast twice; corpus never shuffles
    "data_upsample_plan" -> 2, // source agg + tiny unpartitioned window pair
    "data_benford_audit" -> 1, // ONE (priority,digit) agg; totals checkpointed + broadcast
    "q35_promo_share" -> 1, // part broadcast; ONE month-grain partial agg
    "q36_order_backlog" -> 3, // closes agg + day agg + day-grain cumulative window
    "dedup_semantic_cluster" -> 0, // returned plan reads the converged CC checkpoint: ZERO
    "events_hll_daily_union" -> 6, // checkpointed (day,reg): daily+period folds ×2 each + exact distinct 2-step
    "graph_global_clustering" -> 8, // deg fold (2) + triangle leg (6) over the checkpointed edges
    "occ_morans_i" -> 2, // den fold + pair fold over the checkpointed ≤649-row cell relation
    "occ_beta_diversity" -> 4, // alpha leg (cell+band aggs) + gamma leg (distinct+band agg) over the checkpoint
    "data_mixture_temperature" -> 2, // source agg + tiny unpartitioned window pair
    "spatial_point_in_polygon" -> 1, // unrolled codegen edge tests: ONE |species|-row agg
    "meta_pseudonymize_audit" -> 4, // dual-distinct expand (2) + two single-row broadcast-join folds
    "data_dp_counts" -> 1, // ONE |sources|-row agg; noise is a projection on it
    "graph_ktruss" -> 2, // returned plan joins the base/survivor checkpoints; peel rounds run at build
    "sim_hard_negatives" -> 7, // knn leg (as pinned) + qid rank window; label joins AQE-broadcast off the checkpoint
    "meta_erasure_cascade" -> 3, // customer fold + orders fold + ONE lineitem fact-fact leg
    "sim_mmr_rerank" -> 5, // checkpointed 40-row shortlist: pair legs + vector fetch + group fold
    "events_restatement_audit" -> 1, // ONE (day) partial agg; known/final/late are conditional sums
    "sim_ivfpq_topk" -> 4, // assignment agg + probe agg + ADC-shortlist agg + exact rerank agg
    "sim_knn_label_eval" -> 9, // knn leg (as pinned) + vote agg + argmax agg + confusion agg
    "q37_supplier_breadth" -> 2, // dims broadcast; ONE two-step distinct expand on the fact
    "events_burn_multiwindow" -> 2, // hour agg + calendar-bounded range window
    "events_growth_accounting" -> 2, // checkpointed user-window state; period agg + tiny cutoff window
    "data_semantic_leakage" -> 9, // knn leg (as pinned) + pair dedup agg + ≤3-row rollup
    "text_feature_hashing" -> 1, // narrow tokenize+hash; ONE (doc, dim) partial agg
    "meta_deletion_vectors" -> 1, // ONE (shard, word) partial agg over a projection
    "multimodal_byte_entropy" -> 0, // one mapPartitions histogram kernel: ZERO shuffles (hex-explode variant was 3.25 s)
    "events_quantile_sketch_union" -> 3, // day sketch agg + period re-merge + exact rank window
    "meta_shard_checksums" -> 1, // ONE rollup expand agg; hashes only
    "q38_customer_set_algebra" -> 13, // five folds x (2-step distinct + set-op join legs), all key-width
    "events_sequence_contract" -> 1, // session ids + first-view window + user agg ride ONE user exchange
    "graph_square_count" -> 4, // sym join legs + pair agg + single-row fold over the checkpointed edges
    "data_filter_ablation" -> 1, // narrow codegen flags + explode; ONE ≤4-row agg
    "events_gap_fill_locf" -> 2, // checkpointed (type,hour) agg: span fold + LOCF window; calendar side broadcasts
    "events_value_drift" -> 3, // checkpointed shares: full-outer half legs + type fold
    "occ_range_fragmentation" -> 1, // ONE (species) group exchange; union-find per bounded ≤649-cell group (sync-CC variant was 8.5 s)
    "meta_hash_chain" -> 2, // shard chain agg + single-row root fold over its checkpoint
    // ---- r8 sweep: the previously-unpinned 73 (measured planned counts) ----
    "cleaning_summary" -> 3, // dedup window + two funnel rollups; centroid BNLJ whitelisted
    "clim_annotate" -> 1, // broadcast climate-cell join; ONE agg shuffle
    "clim_summary" -> 2, // broadcast cell join; species agg + summary rollup
    "data_pack_sequences" -> 1, // ONE greedy-pack window exchange
    "data_quality_mass_curve" -> 2, // quality rank window + cumulative bin agg
    "data_sample_fixed_k" -> 1, // ONE per-stratum rank window exchange
    "data_sample_stratified" -> 0, // pure narrow hash-threshold filter
    "data_split_hash" -> 0, // pure narrow hash-bucket projection
    "data_tokenizer_fertility" -> 1, // ONE partial-aggregated source rollup
    "dedup_cluster" -> 0, // returned plan reads the converged CC checkpoint: ZERO
    "dedup_embedding_cosine" -> 0, // sub-cutover broadcast-corpus mapPartitions kernel: ZERO
    "events_hopping" -> 1, // ONE hop-grain partial agg
    "events_interval_join" -> 2, // RangeJoinRule bin-key equi sides (the BNLJ this rule removes)
    "events_rate_xcorr" -> 1, // (type, hour) agg; lag join AQE-broadcasts off it
    "events_session_stats" -> 2, // session windows ride ONE user exchange + final stats agg
    "events_session_window" -> 1, // session derivation + agg share ONE user exchange
    "events_sessionize" -> 1, // windows + both aggs ride ONE user exchange
    "events_tumbling" -> 1, // ONE window-grain partial agg
    "meta_classify" -> 1, // ONE partial-aggregated classification rollup
    "meta_collect_related" -> 1, // ONE accession-group agg
    "meta_dedup_records" -> 1, // ONE record-hash agg shuffle
    "meta_dwh_records" -> 1, // host-walk joins broadcast; ONE agg shuffle
    "meta_ingest_pipeline" -> 2, // dwh scan checkpointed; rel agg + record-side join shuffle (top-20 facet set broadcasts)
    "meta_portal_records" -> 1, // ONE portal-group agg
    "meta_taxon_rollup" -> 2, // taxon agg + rank rollup
    "multimodal_meta" -> 0, // narrow metadata projection: ZERO
    "multimodal_source_mix" -> 2, // source agg + tiny share window
    "occ_centroid_filter" -> 0, // broadcast 20-row centroid BNLJ only: ZERO shuffles
    "occ_clean_coords" -> 0, // pure narrow validity filter
    "occ_clean_pipeline" -> 1, // ONE dedup-window exchange; centroid BNLJ whitelisted
    "occ_dedupe_best" -> 1, // ONE dedup-key window exchange (WindowGroupLimit both sides)
    "occ_fetch_summary" -> 2, // split agg + summary rollup
    "occ_hotspot_adjacency" -> 1, // ONE cell agg; neighbor join reads its checkpoint
    "occ_land_filter" -> 0, // broadcast land-grid filter: ZERO shuffles
    "occ_sample_coverage" -> 2, // (cell, species) agg + cell fold
    "occ_uncertainty_band" -> 0, // pure narrow banding projection
    "provenance_urls" -> 1, // ONE partial-aggregated per-source rollup
    "q02_filter_project" -> 0, // pushed filters + pruned scan: pure narrow
    "q04_topk" -> 1, // ONE agg exchange; TakeOrderedAndProject caps the sort
    "q05_semi_join" -> 0, // broadcast left-semi: ZERO shuffles
    "q06_anti_join_gate" -> 0, // broadcast left-anti: ZERO shuffles
    "q07_window_rank" -> 1, // ONE partition-key window exchange
    "q08_distinct_agg" -> 2, // two-step distinct expand
    "q09_conditional_agg" -> 1, // ONE partial-aggregated shuffle
    "q10_union_flatten" -> 1, // union feeds ONE grouped agg
    "q11_grouping_sets" -> 1, // ONE Expand-fed agg shuffle
    "q12_cogroup_outer" -> 2, // the two shuffled sides of the full-outer key join
    "q13_pivot" -> 2, // two-phase pivot aggregate
    "q15_scalar_subquery" -> 1, // scalar subquery broadcast; ONE agg shuffle
    "q16_not_exists" -> 0, // broadcast anti join: ZERO shuffles
    "range_bbox" -> 1, // ONE species bbox agg exchange
    "range_convex_hull" -> 1, // ONE species hull-UDAF agg exchange
    "sim_cosine_topk" -> 1, // ONE top-k agg; 5-row query side broadcast (whitelisted)
    "sim_lsh_topk" -> 3, // two bucket-assignment sides + rerank agg
    "sim_threshold_sweep" -> 3, // signature agg + pair agg + sweep-grid agg
    "spatial_join" -> 4, // grid-band join sides + two rollups
    "spatial_summary_join" -> 4, // same banded join feeding the summary rollups
    "tax_gate_new" -> 1, // gate anti-join + agg share ONE exchange
    "tax_lineage" -> 0, // 6-rank lineage joins all broadcast: ZERO
    "tax_sanitize_names" -> 0, // pure narrow regex cleanup
    "tax_validate_split" -> 0, // pure narrow rule split
    "text_bm25_topk" -> 8, // tf/df/dl aggs + pivot + top-k; 1-row stats BNLJs whitelisted
    "text_bpe_tokens" -> 0, // native codegen bpe_encode: ZERO shuffles
    "text_fingerprint" -> 0, // native rolling-hash expression: ZERO shuffles
    "text_langid" -> 0, // narrow n-gram scorer: ZERO shuffles
    "text_length_deciles" -> 2, // decile offsets agg + bucket fold
    "text_quality" -> 0, // pure narrow quality flags
    "text_rarity" -> 2, // vocab agg + doc join-back agg
    "text_repetition" -> 1, // ONE shingle-window exchange
    "text_scrub" -> 0, // pure narrow scrub projection
    "text_stopword_filter" -> 0, // pure narrow lexicon filter
    "text_tokens" -> 0, // native token_count expression: ZERO shuffles
    "text_top_ngrams" -> 3, // gram agg + rank window + tiny final agg
    "uncertainty_buffer" -> 0, // pure narrow buffer arithmetic
    "meta_article_enrich" -> 1, // ONE pub-year agg; key joins AQE-broadcast at gate scale
    "meta_genome_notes" -> 3, // study first-seen agg + per-tax rollup + distinct-article expand
    "events_ewma_residual" -> 2, // hourly agg + contribution-explode agg; join-back AQE-sized
    "events_holt_trend" -> 2, // same shape as ewma_residual: hourly agg + dual-weight scatter agg
    "events_diurnal_dft" -> 3, // hour-of-day agg + harmonic agg + dominant window; last two are |types|-sized
    "events_haar_energy" -> 4, // hourly agg + block agg + scale agg + dominant window; dims broadcast
    "events_forecast_backtest" -> 4, // hourly agg + three forecast-leg aggs; joins AQE-sized, fence broadcast
    "events_burstiness" -> 2, // (type, hour) agg + <=|types|-row fold
    "sim_power_iteration" -> 0, // returned plan projects the round-5 checkpoint; each round renormalizes through its own max window, no driver read
    "data_near_dup_rate" -> 2, // block agg + single-row conditional fold
    "graph_bipartite_components" -> 2, // edge distinct + label join off the big-star checkpoints
    "events_markov_stationary" -> 1, // the share's total window over the round-5 checkpoint (was 7: the unrolled rounds and the transition build; every step now ends in its own checkpoint)
    "data_order_autocorr" -> 4, // shard window + adjacency fold + source agg + 1-row combine
    "data_shard_skew_gini" -> 2, // bucket agg + aggregate-sized rank window
    "dedup_lsh_band_tuning" -> 0, // 7 narrow S-curve projections over the checkpointed <=11-row histogram
    "sim_recall_vs_nprobe" -> 20, // 4 sweep legs x (probe agg + rerank + fold) over the checkpointed assignment + exact top-k
    "events_kmv_intersection" -> 6, // (day,h) distinct + day window + pair window/agg + daily + exact-inter legs
    "occ_temporal_turnover" -> 3, // (species,cell) flag agg + species fold; midpoint frame broadcast
    "events_rolling_median" -> 2, // daily agg + event_type window exchange; arrays calendar-bounded
    "events_seasonal_decompose" -> 2, // daily agg + trend-window/weekday agg ride one type exchange
    "events_survival_km" -> 4, // user span agg + t agg + at-risk window + single-group fold; watermark broadcast
    "data_skyline" -> 2, // per-nt max agg + distinct-nt suffix window; frontier joins back broadcast
    "occ_activity_overlap" -> 1, // one (species, day) agg; checkpointed profile self-join + pair agg AQE-sized
    "graph_mst_backbone" -> 0, // iterative Borůvka: per-round shuffles run at build behind checkpoints (dedup_cluster class)
    "events_bootstrap_ci" -> 3, // user agg + 32-replica agg + single-group order-stat fold
    "data_bin_packing" -> 5, // bucket agg + offset window + in-bucket rank + shard agg + 8-row ideal window
    "events_sax_motifs" -> 2, // daily agg + type window exchange; rank/lag/motif agg calendar-bounded
    "data_ks_drift" -> 2, // per-length agg + distinct-length ECDF window; argmax is a fold
    "events_trimmed_mean" -> 1, // rank + count + sum windows all ride one event_type exchange
    "spatial_quadtree_cells" -> 1, // ×5-exploded count agg at build (checkpointed); 5 broadcast joins + final rollup
    "events_queue_wait" -> 1, // rank + running-min windows + agg all ride one event_type exchange
    "occ_distance_decay" -> 4, // checkpointed (cell,species) distinct + rich agg + pair agg + ring agg
    "occ_ripley_k" -> 3, // checkpointed cell-count agg + d2 pair agg + radius fold; totals broadcast
    "graph_modularity" -> 4, // checkpointed edges+labels: degree agg + internal agg + dsum agg + join
    "data_k_anonymity" -> 2, // QI-class agg (data-sized) + 4-row threshold fold
    "data_importance_sample" -> 1, // accept decision rides the scan; ONE audit agg
    "data_span_corruption" -> 0, // narrow scan + window generator: ZERO shuffles
    "data_rater_kappa" -> 1, // one narrow projection into a single 4-cell aggregate
    "events_changepoint_binseg" -> 2, // (type,hour) count agg; windows + argmax ride one event_type exchange
    "sim_kmeans_shift" -> 1, // final assignment scan into one cluster agg; K-row shift frame broadcasts
    "meta_join_size_estimate" -> 7, // all on checkpointed date-grain (≤|dates|-row) relations: exact join + 2×2 bucket aggs + folds
    "graph_harmonic_centrality" -> 0, // final fold scans the round-6 checkpoint: per-round shuffles run at build (bfs_layers class)
    "meta_manifest_prune" -> 1, // ONE status rollup over the manifest-pruned union scan
    "meta_mgnify_enrich" -> 1, // ONE member agg; lookup rides the scan, parent join AQE-broadcast
    "meta_sample_relationships" -> 0, // both hop lookups broadcast at gate scale (dwh_records class)
    "meta_link_rollups" -> 2, // one key-grain agg per rollup leg, union is free
    "meta_annotations_explode" -> 1, // 11-row config broadcast; ONE (project, tax) agg
    "data_temporal_leakage" -> 2, // (type, user) fold + type rollup — nothing wider than keys
    "multimodal_phash_dedup" -> 3, // band-bucket cap agg + two band-join sides off the checkpointed sigs
    "data_perplexity_filter" -> 2, // bin agg + ≤21-row histogram window over the checkpointed KN docs
    "events_retention_halflife" -> 5, // user fold at build (checkpointed); act/den/size aggs + OLS fold; horizon broadcast
    "text_lang_consistency" -> 2, // (doc, chunk) hit agg + doc rollup
    "sim_matryoshka_recall" -> 3, // ONE shared qid window exchange + per-leg aggs off the rank checkpoint
    "multimodal_phash_clusters" -> 0, // returned plan reads the converged CC checkpoint (dedup_cluster class)
    "text_bpe_learn" -> 0, // returned merge table is a collected 6-row local relation; the per-round pair aggs run at build (harmonic class)
    "text_kneser_ney" -> 4, // db/c2 checkpointed (their aggs run at build); final: pair join + 2 vocab-stat joins + doc agg, T broadcast
    "meta_overlap_depth" -> 3, // ONE file agg; boundary agg + sweep window are 2×|files|-row
    "meta_vacuum_plan" -> 1, // ONE (shard) partial agg; flags ride the scan
    "data_shard_rebalance" -> 0, // returned plan is the O(K)-collected LPT local relation (rfm class)
    "text_unigram_drift" -> 4, // (source,term) agg checkpointed at build; vocab agg + rank window + ns/final aggs
    "data_prefix_lm_split" -> 1, // split decision rides the scan; ONE |sources|-row agg
    "sim_silhouette" -> 2, // ×8 explode off the checkpointed projection: ONE vec_id window+fold exchange + K-row rollup
    "graph_rich_club" -> 9, // knn edges+degrees checkpointed at build; deg joins onto edge ends + histogram/threshold aggs
    "multimodal_aspect_audit" -> 1, // narrow metadata projection + ONE (kind, class) partial agg
    "events_topk_drift" -> 2, // (day,user) agg + day rank window; club self-join reads the checkpoint
    "sim_pq_distortion" -> 2, // ×8 subspace explode: (sub,code) agg + 8-row rollup
    "occ_niche_breadth" -> 2, // (species,bin) agg + species-total window ride ≤|species|×10 rows
    "data_source_hhi" -> 2, // (lang,source) agg + lang-total window on the aggregate
    "data_quality_length_bias" -> 1, // narrow codegen projection + ONE |sources|-row agg
    "q39_late_order_priority" -> 2, // late-key semi join + priority aggs; AQE broadcasts the key set
    "q41_ship_delay_variance" -> 1, // narrow date projections broadcast-join at gate scale; ONE supplier agg shuffle
    "sim_mrr_eval" -> 1, // 5-broadcast-row cross + ONE qid rank window (crossJoin whitelisted)
    "meta_bitemporal_asof" -> 1, // ONE max_by hash aggregate on custkey
    "sim_embedding_outliers" -> 2, // rank/count windows ride ONE cluster exchange; median joins back broadcast
    "occ_envelope_projection" -> 5, // envelope agg + observed 2-step distinct + suitability agg off the generated raster
    "text_prf_expansion" -> 3, // bm25 feedback set checkpointed (3 rows); (doc,w) agg + doc window + vocab rank
    "graph_diameter_estimate" -> 2, // dist checkpoint ×4-explode fold + 4-row max window; relaxation rounds run at build
    "dedup_cluster_purity" -> 2, // (cluster,lang) agg + cluster argmax rollup off the converged CC checkpoint
    "text_lang_divergence" -> 3, // (lang,term) agg checkpointed; vocab rank window + share/pair aggs on ≤|langs|×64 rows
    "events_trend_mann_kendall" -> 2, // (type,day) agg checkpointed at build; pair join + type rollup on calendar-bounded rows
    "occ_latitude_gradient" -> 6, // occ agg + 2 separate 2-step distinct legs (no multi-distinct Expand) + 18-row total window
    "text_template_rate" -> 2, // ONE codegen prefix-hash projection; single-distinct (source) agg
    "events_runs_test" -> 2, // (type,day) agg; BOTH lag windows ride one event_type exchange + final agg
    "graph_link_prediction" -> 5, // canonical edges checkpointed; wedge join on center + deg join + (a,b) agg; top-k is TakeOrdered
    "text_phrase_search" -> 2, // index built+checkpointed at build (one doc_id window exchange); argmax agg + hit agg read it, winner broadcasts
    "data_padding_waste" -> 2, // narrow codegen cap projection; single-distinct |sources|-row agg
    "events_record_days" -> 2, // (type,day) agg; running-max + row_number windows ride ONE event_type exchange
    "sim_triplet_margin_audit" -> 4, // ranked rel checkpointed at build; two rank-equi self-joins + broadcast next-label map + |labels|-row agg
    "sim_kcenter_coverage" -> 0, // returned plan is the collected 6-row greedy local relation (shard_rebalance class); Fixpoint.greedy rounds run at build
    "events_spc_rules" -> 2, // (type,day) agg; stat windows + lag window + final agg ride ONE event_type exchange
    "graph_two_hop_reach" -> 5, // canonical edges checkpointed; wedge join + distinct + deg agg + reach join
    "text_term_burstiness" -> 2, // (term,doc) agg + vocab rollup; rank window rides the ≤|vocab|-row aggregate
    "events_user_gini" -> 2, // user agg + bucket-rank exchange (offsets broadcast); folds read the checkpoint, 1-row crossJoin whitelisted
    "events_lorenz_deciles" -> 3, // user agg + bucket-rank exchange + the 10-row cumulative window; ranked checkpointed, totals crossJoin whitelisted
    "events_poisson_dispersion" -> 2, // (type, day) agg + |types|-row fold
    "events_hurst_rs" -> 4, // (type, day) agg; calendar-sized window/fold legs read the checkpointed win relation
    "events_seasonality_strength" -> 3, // (type, day) agg checkpointed; weekday + total folds + join
    "events_ab_power" -> 3, // (arm,user) agg + 2-row arm agg + single-row fold (welch shape)
    "occ_species_area" -> 4, // one distinct (g,species,cell) corpus agg + scale rollup legs + 4-row window
    "data_hash_width_audit" -> 2, // hashed projection; per-width distinct-count legs
    "events_peak_to_mean" -> 2, // (type, hour) agg + |types|-row max_by fold
    "spatial_zone_pruning_audit" -> 2, // two aggs of one codegen scan; 16×32 envelope BNLJ whitelisted (layout constants)
    "text_textrank_keywords" -> 0, // doc window + pair agg at build (checkpointed); every weighted-PR round ends in its own checkpoint (was 6, the unrolled rounds): the returned plan projects the last
    "events_silence_streaks" -> 2, // (type,day) agg; lag window + final agg ride ONE event_type exchange
    "data_vocab_coverage" -> 2, // (source,term) agg checkpointed; vocab rank window rides the term rollup, joins back broadcast
    "events_markov_entropy_rate" -> 3, // user lead window + (prev,next) agg; row-total/total windows + fold ride the tiny transition table
    "events_ab_srm" -> 2, // user-distinct exchange + single-row conditional fold
    "sim_hubness_audit" -> 2, // degrees off the checkpointed edges; bucket-rank exchange (offsets broadcast); 1-row crossJoin whitelisted
    "meta_gfs_retention" -> 2, // day-distinct exchange; horizon + both latest-of-bucket windows ride the ≤|days|-row relation
    "multimodal_compute_budget" -> 2, // codegen metadata projection + ONE 3-row kind agg; share window rides the result
    "q40_brand_type_share" -> 2, // pushed quantity filter + broadcast part join + ONE (brand,type) agg; total window on the aggregate, top-20 TakeOrdered
    "data_loo_source_impact" -> 2, // narrow codegen projection + ONE |sources|-row agg; both global windows ride the 20-row aggregate
    "occ_rank_abundance" -> 2, // ONE species partial agg; rank/total/cum windows ride the ≤|species|-row aggregate
    "events_max_drawdown" -> 2, // (type,day) agg; running-max window + per-type rollup ride ONE event_type exchange
    "events_page_hinkley" -> 2, // (type,day) agg; rank/calibration/running windows + rollup all ride ONE event_type exchange
    "events_wilson_bounds" -> 1, // ONE per-type agg off the scan; isqrt lattice is pure projection
    "text_rake_phrases" -> 4, // doc window + (doc,pid) window + vocab agg + join-back; top-20 is TakeOrdered
    "text_yule_k" -> 2, // (source,word) partial agg + |sources|-row rollup; two-step long division projects
    "dedup_sorted_neighborhood" -> 2, // ranked relation checkpointed (bucketOffsets at build); rank-equi join + 3-row offset agg
    "sim_rrf_fusion" -> 8, // token distinct + overlap agg + 2 leg rank windows + fusion join/window on qid; vector leg broadcast
    "sim_sign_quantize_recall" -> 2, // signatures checkpointed at build (dim agg broadcast); both rank windows ride ONE qid exchange
    "events_sprt_gate" -> 1, // running/rank windows + min_by/max_by rollup all ride ONE event_type exchange off the scan
    "occ_checkerboard" -> 1, // pair grid checkpointed at build (distinct + cellid self-join + broadcast triangle); returned plan = species rollup
    "events_ljung_box" -> 2, // (type,day) agg; stat windows + all four lag windows + rollup ride ONE event_type exchange
    "sim_facility_location" -> 0, // returned plan = the collected 6-row greedy local relation (kcenter class); rounds run at build
    "dedup_capture_recapture" -> 11, // both detector pipelines (simhash + winnow) + pair-dedup exchange + 1-row fold (lsh_recall_audit class)
    "events_intervention_its" -> 2, // (type,day) agg; min/max windows + conditional-sum rollup ride ONE event_type exchange
    "text_pmi_collocations" -> 2, // unigram+total checkpointed at build; lead window + bigram agg; joins broadcast, top-20 TakeOrdered
    "occ_nestedness" -> 6, // presence relation checkpointed; two axis overlap joins + folds; 1-row crossJoins whitelisted
    "events_tail_index" -> 2, // (type,bucket) partial agg off the scan; OLS folds ride the ~types x 20-row aggregate
    "graph_knn_reciprocity" -> 3, // knn edges checkpointed at build; reversal self-join + 1-row fold
    "events_welch_t" -> 3) // (arm,user) partial agg + 2-row arm agg + single-row conditional fold

  test("data_shuffle_shards partitions its one exchange on the shard id") {
    // the shard grid must drive the exchange (parallelism = shard count),
    // not a constant-width round-robin or a single-task sort
    val plan = SparkEntry.queries("data_shuffle_shards")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(shard"),
      s"shard exchange not partitioned on shard id:\n$plan")
  }

  /** Shuffle exchanges ANYWHERE in the plan tree: total `Exchange `
    * occurrences minus broadcast and reuse nodes (the old line-anchored
    * regex missed exchanges nested under multi-level `: +-` prefixes and
    * silently under-counted deep plans). */
  private def shuffleCount(plan: String): Int = {
    def n(re: String) = re.r.findAllIn(plan).size
    n("Exchange ") - n("BroadcastExchange ") - n("ReusedExchange ")
  }

  test("every query carries an exchange pin and every pin names a real query") {
    // A missing pin is reported with the count measured here, at the
    // spec's own sf and core count, so the new pin is the gate's reading.
    val missing = SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, q) if !maxExchanges.contains(name) =>
        s"$name -> ${shuffleCount(q(spark, sf).queryExecution.executedPlan.toString)}"
    }
    assert(missing.isEmpty,
      s"queries without an exchange pin (name -> measured count): ${missing.mkString(", ")}")
    val stale = maxExchanges.keys.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"pins for unknown queries: ${stale.mkString(", ")}")
  }

  test("heavy queries stay within their exchange budgets") {
    val over = maxExchanges.toSeq.sortBy(_._1).flatMap { case (name, cap) =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      val n = shuffleCount(plan)
      if (n > cap) Some(s"$name: $n exchanges > cap $cap") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }
}

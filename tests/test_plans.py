"""Physical-plan shape assertions (scale guardrails).

Correctness tests prove the right rows come out; these prove the right
PLAN produces them — the properties that keep queries viable at 100 TB:
filters reach the parquet scan, top-k avoids global sorts, dimension
joins broadcast, anti/semi joins stay hash-based, and nothing silently
degenerates into a cartesian product.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMALL


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def formatted_of(df) -> str:
    """Full formatted plan — toString() truncates long PushedFilters
    lists, explain('formatted') does not."""
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    return entry_mod.queries()


@pytest.fixture(autouse=True)
def _cold_cache(spark):
    """Plan assertions pin the COLD plan. Earlier tests in a full-suite
    run may have persisted frames whose logical plans match a subtree
    here — Spark's CacheManager then substitutes InMemoryTableScan and
    (with cache-known stats) flips join strategies, so the same query
    text yields a different plan. Clearing the DataFrame cache (never
    checkpointed RDDs — the similarity session memos hold those) makes
    every assertion order-independent."""
    spark.catalog.clearCache()
    yield


def test_topk_plans_take_ordered(spark, queries):
    for name in ("top_k_orders", "work_queue_dequeue", "top_spender_subquery_agg",
                 "token_frequency_topk", "cosine_topk",
                 "q3_shipping_priority", "q10_returned_items",
                 "weighted_sample_docs", "sq8_quantized_topk",
                 "bpe_merge_pair_counts", "pq_topk_adc"):
        plan = plan_of(queries[name](spark, SF_SMALL))
        assert "TakeOrderedAndProject" in plan, f"{name}: no TakeOrderedAndProject"
        assert "GlobalSort" not in plan, f"{name}: global sort"


def test_filter_pushdown_reaches_scan(spark, queries):
    df = queries["q1_pricing_summary"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark, queries):
    """A 2-column projection must not read the whole lineitem schema."""
    df = queries["top_k_orders"](spark, SF_SMALL)
    plan = plan_of(df)
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "o_orderkey" in scan and "o_totalprice" in scan
    assert "o_comment" not in scan and "o_clerk" not in scan


def test_broadcast_dimension_join(spark, queries):
    for name in ("broadcast_brand_revenue", "q5_local_supplier_volume",
                 "q10_returned_items"):
        plan = plan_of(queries[name](spark, SF_SMALL))
        assert "BroadcastHashJoin" in plan, f"{name}: dims not broadcast"


def test_anti_semi_joins_hash_based(spark, queries):
    for name, kind in (("anti_join_no_orders", "LeftAnti"),
                       ("semi_join_failed_retry", "LeftSemi")):
        plan = plan_of(queries[name](spark, SF_SMALL))
        assert kind in plan, f"{name}: join type missing"
        assert "NestedLoop" not in plan, f"{name}: nested-loop join"


def test_sibling_query_has_no_self_join(spark, queries):
    """The scale-safe rewrite: window aggregate, not orders×orders."""
    plan = plan_of(queries["self_join_sibling_success"](spark, SF_SMALL))
    assert "Window" in plan
    assert "Join" not in plan


def test_no_accidental_cartesian_products(spark, query_plans):
    """Only the similarity queries and tf-idf intentionally cross-join a
    broadcast-size side (1 query vector / K centroids / the 1-row corpus
    count); everything else must be free of cartesian or
    broadcast-nested-loop joins."""
    allowed = {
        "cosine_topk",
        "embedding_near_dup_ivf",
        "ivf_topk_neighbors",  # same ≤32-row centroid broadcast as the pair query
        "hard_negative_mining",  # ditto
        "tf_idf_scores",
        # kmv joins its 1-row exact-count scalar — same deliberate pattern
        "kmv_distinct_users",
        # 1-row totals scalar broadcast (same pattern as kmv/tf_idf)
        "key_skew_profile",
        "token_cooccurrence_lift",
        "histogram_quantiles",
        "cluster_size_histogram",
        "join_cardinality_estimate",
        "rolling_active_users",  # 1-row max-day scalar broadcast
        "q22_idle_customers",  # 1-row avg-balance scalar broadcast
        "q11_part_value_concentration",  # 1-row value-total scalar broadcast
        "q15_top_revenue_supplier",  # 1-row MAX(revenue) scalar broadcast
        # 1-row scale-array + 1-row query-code broadcasts (SQ8)
        "sq8_quantized_topk",
        # same ≤32-row centroid broadcast as embedding_near_dup_ivf,
        # plus the 1-row occupancy-total scalar broadcast
        "ivf_cell_balance",
        # ≤√n-row trained-centroid broadcast + the 1-row max-id offset
        # scalar (corpus-derived twin offset, as shingle_containment)
        "embedding_near_dup_ivf_autok",
        # same ≤32-row centroid broadcast as embedding_near_dup_ivf
        "semantic_dedup_survivors",
        "ivfpq_topk_neighbors",
        # 1-row model-total scalar broadcast (same pattern as kmv/tf_idf)
        "char_lm_surprise",
        # 1-row query-vector scalar broadcast (same pattern as cosine_topk)
        "rerank_topk_cross",
        # same ≤32-row centroid broadcast as ivf_topk_neighbors
        "rerank_topk_ivf",
        # 1-row bloom-bits scalar broadcast (once per union branch)
        "bloom_url_dedup",
        # same 1-row bloom-bits scalar broadcast (probe_bloom), over
        # canonicalized keys — the L140 batch twin
        "frontier_dedup_batch",
        # 1-row counts x 1-row fill scalar join over the same machinery
        "bloom_fp_audit",
        # 1-row n_docs/n_tok corpus scalars (same pattern as tf_idf)
        "bm25_topk",
        "hybrid_rrf_fusion",
        # 1-row n_docs/n_hosts scalars joined per PageRank iteration
        "host_pagerank",
        "crawl_budget_apportionment",
        # 1-row n_docs scalar + 10-row broadcast decile table
        "vocab_growth_curve",
        # 1-row n_vec scalar broadcast onto the d^2 moment table
        "embedding_covariance",
        # broadcast labeled-seed pool (the deliberate design: seeds << corpus)
        "knn_label_eval",
        # same ≤32-row centroid broadcast as ivf_topk_neighbors — the
        # seed pool itself is NEVER broadcast (asserted below)
        "knn_label_eval_ivf",
        # 1-row grand-total scalar onto the sources x vocab grid
        "source_token_drift",
        # 3-row quartile-bounds broadcast + 1-row corpus-count scalar
        "curriculum_phases",
        # 1-row mu/sigma-arrays broadcast (train-once/apply-everywhere)
        "embedding_standardize",
        # 1-row max-doc_id scalar broadcast (corpus-derived twin offset)
        "shingle_containment_pairs",
        # 1-row total-mass + base-sum scalar broadcasts (the same
        # largest-remainder machinery as crawl_budget_apportionment)
        "temperature_mixture_alloc",
        # ditto, over the checkpointed stratum-count frame (the corpus
        # itself is scanned once — pinned by the single-scan plan test)
        "stratified_sample_exact",
        # 1-row n_docs scalar onto the checkpointed signal frame (the
        # rank histograms join back as broadcast hash joins)
        "quality_rank_blend",
        # bounded anchor-query frame broadcast onto the corpus scan —
        # the cosine_topk pattern (full-dim + truncated cosines per row)
        "matryoshka_recall_eval",
        # same anchor-frame broadcast onto the corpus scan
        "ivf_recall_eval",
        "ivf_recall_eval_nprobe2",
        # the same anchor-frame broadcast (the recall law's pair frame)
        # + (sq8) the 1-row scales scalar broadcast
        "pq_recall_eval",
        "sq8_recall_eval",
    }
    for name, (_cols, plan) in query_plans.items():
        if name in allowed:
            continue
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_bm25_df_broadcast_scoped_to_query_terms(spark, queries):
    """BM25's doc-frequency table is vocabulary-sized; the broadcast
    build side must be its semi-join against the bounded query-term set
    (≤ n_queries × QUERY_TERMS rows), never the full vocabulary."""
    for name in ("bm25_topk", "hybrid_rrf_fusion"):
        plan = plan_of(queries[name](spark, SF_SMALL))
        assert "LeftSemi" in plan, f"{name}: df not scoped to query terms"


def test_knn_ivf_broadcasts_centroids_not_seeds(spark, queries):
    """The IVF-staged kNN audit's 100 TB contract: the only nested-loop
    broadcast is the K=32 centroid frame (IdentityBroadcastMode cross),
    and the query↔seed match is a hash-based equi-join on ``cell`` —
    the seed pool, which grows with the corpus, is never the build side
    of a cartesian."""
    plan = plan_of(queries["knn_label_eval_ivf"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    # centroid assignment: one broadcast-cross per consumer branch, fed
    # by the tiny single-partition centroid frame
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan
    # the seed match is an equi-join on cell, hash-partitioned
    assert any(
        k in plan for k in ("SortMergeJoin [cell", "ShuffledHashJoin [cell")
    ), "seed match is not a hash equi-join on cell"


def test_similarity_cross_joins_are_broadcast(spark, queries):
    """The intentional cross joins must broadcast the tiny side — a
    shuffled cartesian against the corpus would not scale."""
    for name in ("cosine_topk", "embedding_near_dup_ivf", "tf_idf_scores",
                 "kmv_distinct_users"):
        plan = plan_of(queries[name](spark, SF_SMALL))
        assert "BroadcastNestedLoopJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_recall_evals_rank_one_pair_frame(spark, queries):
    """The recall law (operators/anchors.py) ranks the exact and the
    approximate score as two windows over ONE anchor-pair frame — no
    recall eval may join two top-K rankings back on (query_id,
    neighbor_id)."""
    import re

    for name in ("ivf_recall_eval", "ivf_recall_eval_nprobe2",
                 "pq_recall_eval", "sq8_recall_eval",
                 "matryoshka_recall_eval"):
        plan = plan_of(queries[name](spark, SF_SMALL))
        for keys in re.findall(r"Join \[([^\]]*)\]", plan):
            assert not ("query_id" in keys and "neighbor_id" in keys), (
                f"{name}: join keyed on {keys}"
            )


def test_dedup_window_single_shuffle(spark, queries):
    """Keep-newest dedup: exactly one exchange (hash by the partition
    key), not a sort+shuffle cascade."""
    plan = plan_of(queries["dedup_keep_newest"](spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") == 1


def test_exact_dedup_is_aggregate_not_join(spark, queries):
    plan = plan_of(queries["exact_dedup_documents"](spark, SF_SMALL))
    assert "HashAggregate" in plan
    assert "Join" not in plan


def test_partial_aggregation_before_shuffle(spark, queries):
    """q1: map-side partial aggregation (two HashAggregate levels around
    one exchange) — the shuffle carries pre-aggregated state."""
    plan = plan_of(queries["q1_pricing_summary"](spark, SF_SMALL))
    agg_idx = [i for i, line in enumerate(plan.splitlines()) if "HashAggregate" in line]
    assert len(agg_idx) >= 2
    assert "Exchange hashpartitioning" in plan


def test_whole_stage_codegen_on_hot_path(spark, queries, query_plans):
    """Relational queries stay inside WholeStageCodegen spans (no Python
    evaluation nodes anywhere in the registry). The one exception is the
    UDTF escape-hatch query, whose BatchEvalPythonUDTF node is the
    documented cost of the SQL-visible table-function surface
    (operators/corpus.py udtf_char_chunks — hot paths use the native
    document_chunks instead)."""
    for name, (_cols, plan) in query_plans.items():
        if name == "udtf_char_chunks":
            assert "BatchEvalPythonUDTF" in plan, "UDTF surface vanished"
            continue
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    # codegen spans only materialize in the final AQE plan (the "*(n)"
    # stage markers) → execute first
    df = queries["q1_pricing_summary"](spark, SF_SMALL)
    df.collect()
    final = plan_of(df)
    assert "isFinalPlan=true" in final
    assert "*(1)" in final, "no WholeStageCodegen stage on the scan/agg path"


def test_events_scan_prunes_columns(spark):
    """catalog.load_table keeps pushdown/pruning intact despite the
    nanos-timestamp rebuild."""
    from data_ingestion_from_multiple_directories_linux_spark.catalog import load_table

    df = load_table(spark, SF_SMALL, "events").filter(
        F.col("event_type") == "click"
    ).select("event_id")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan


def test_asof_join_is_window_not_join(spark, queries):
    """The as-of join must compile to the union + running-window plan —
    one hash shuffle on user_id, zero physical joins (the scalable
    temporal-join form)."""
    plan = plan_of(queries["asof_last_click"](spark, SF_SMALL))
    assert "Window" in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_is_bucketed_broadcast_hash(spark, queries):
    """The interval join must use the bucketing rewrite: equi-join on the
    month bucket (codegen'd BroadcastHashJoin, range check as residual),
    never a row-based BroadcastNestedLoopJoin, and no fact-side shuffle
    before the final aggregation."""
    plan = plan_of(queries["range_join_ship_periods"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_staging_partition_pruning_by_facility(spark, tmp_path):
    """stg_* is written partitioned by facility (stg_datim_id): a
    per-facility read prunes to that facility's partition directories —
    PartitionFilters in the scan, not a post-scan Filter over all data."""
    import os

    from data_ingestion_from_multiple_directories_linux_spark.ingest.engine import (
        IngestionEngine,
    )
    from tests.test_ingest_engine import patient, write_json

    uploads = str(tmp_path / "up")
    for fac in ("FAC001", "FAC002", "FAC003"):
        write_json(uploads, fac, "patient_person_0_20250103141949.json",
                   [patient(i) for i in range(3)])
    eng = IngestionEngine(spark, str(tmp_path / "wh"))
    eng.run(uploads)

    # hive-style partition directories on disk
    stg_dir = eng.store.path("stg_patient_person")
    assert sorted(d for d in os.listdir(stg_dir) if d.startswith("stg_datim_id=")) == [
        "stg_datim_id=FAC001", "stg_datim_id=FAC002", "stg_datim_id=FAC003",
    ]

    df = eng.store.read("stg_patient_person").filter(
        F.col("stg_datim_id") == "FAC001"
    )
    plan = plan_of(df)
    assert "PartitionFilters" in plan
    # the facility predicate is a partition filter on the scan...
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "stg_datim_id" in pf
    # ...and the scan reads only the pruned partition
    assert df.count() == 3


def test_sequence_packing_no_single_partition_exchange(spark, queries):
    """The packing cumsum is a two-phase prefix sum: no stage of the
    physical plan may funnel the table through one partition (the
    classic global-order-window scale killer)."""
    df = queries["sequence_packing"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan.lower()  # no global sort either
    # the cumsum window is partitioned by the range bucket
    assert "Window" in plan and "hashpartitioning(_b" in plan


def test_profile_sketch_single_pass_no_expand(spark, queries):
    """table_profile_orders_sketch is the one-pass profile: no Expand
    node (the exact twin's COUNT(DISTINCT) legs — asserted present
    there as the contrast), exactly ONE exchange, and it is the
    allowlisted single-row final aggregate; the 6 md5 base hashes and
    96 derived-variate MINs all ride the scan-side partial aggregate
    inside whole-stage codegen."""
    df = queries["table_profile_orders_sketch"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "Expand" not in plan
    assert plan.count("Exchange") == 1
    assert plan.count("Exchange SinglePartition") == 1
    # the string min/max buffers force SortAggregate (immutable agg
    # buffer — true of the exact twin too), but with an EMPTY grouping
    # key that is a plain streaming fold: no Sort node may appear
    assert "+- Sort " not in plan
    exact = plan_of(queries["table_profile_orders"](spark, SF_SMALL))
    assert "Expand" in exact  # the legs the sketch exists to remove


def test_global_shuffle_rank_no_single_partition_exchange(spark, queries):
    """Global rank composes bucket prefixes + a bucket-partitioned
    window — same two-phase shape as sequence_packing, same guarantee."""
    df = queries["global_shuffle_rank"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert "Window" in plan and "hashpartitioning(_b" in plan


# ---------------------------------------------------------------------------
# Round-4 batch 3: tpch / warehouse / matching / profiling plan shapes
# ---------------------------------------------------------------------------


def test_q6_all_predicates_pushed_no_join(spark, queries):
    """q6 is the pure scan-agg shape: every predicate must reach the
    parquet reader and the plan must contain no join at all."""
    df = queries["q6_forecast_revenue"](spark, SF_SMALL)
    assert "Join" not in plan_of(df)
    full = formatted_of(df)
    pushed = full[full.index("PushedFilters"):].splitlines()[0]
    for frag in ("l_shipdate", "l_discount", "LessThan(l_quantity"):
        assert frag in pushed, f"q6: {frag} not pushed to scan"


def test_q14_single_pass_broadcast(spark, queries):
    """The promo ratio is ONE scan of lineitem (CASE WHEN inside the
    aggregate, never two plans) with part broadcast."""
    plan = plan_of(queries["q14_promo_effect"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Scan parquet") == 2  # lineitem once, part once


def test_q18_topk_no_global_sort(spark, queries):
    plan = plan_of(queries["q18_large_volume_customers"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_q19_hoisted_predicates_prune_scans(spark, queries):
    """The disjunction itself runs post-join, but its single-table
    supersets must land on both scans: brands+size on part, the
    quantity hull on lineitem."""
    df = queries["q19_disjunctive_revenue"](spark, SF_SMALL)
    assert "BroadcastHashJoin" in plan_of(df)
    full = formatted_of(df)
    part_scan = [ln for ln in full.splitlines()
                 if "PushedFilters" in ln and "p_brand" in ln]
    assert part_scan and "In(p_brand" in part_scan[0]
    li_scan = [ln for ln in full.splitlines()
               if "PushedFilters" in ln and "l_quantity" in ln]
    assert li_scan and "GreaterThanOrEqual(l_quantity" in li_scan[0]


def test_q4_semi_join_with_residual_not_nested_loop(spark, queries):
    """EXISTS with a non-equi residual must still be a hash/merge semi
    join on the orderkey equi-key — never a nested loop."""
    plan = plan_of(queries["q4_late_shipment_priority"](spark, SF_SMALL))
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_scd2_single_user_exchange(spark, queries):
    """Both chained windows (lag-change-detect, lead/version) partition
    by user_id — the plan must pay exactly one hash exchange."""
    plan = plan_of(queries["scd2_user_state_intervals"](spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 2


def test_fuzzy_match_blocked_join_is_hash(spark, queries):
    """The levenshtein pair join must ride the block equi-key (hash
    join), keeping the pair space per-block — not a nested loop over
    all name pairs."""
    plan = plan_of(queries["fuzzy_part_match"](spark, SF_SMALL))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "levenshtein" in plan


def test_cooccurrence_vocab_is_broadcast(spark, queries):
    """The top-V vocabulary must broadcast onto the token stream, and
    the within-doc pair join must be an equi hash join on doc_id."""
    plan = plan_of(queries["token_cooccurrence_lift"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # the top-V vocab selection
    assert "CartesianProduct" not in plan


def test_skew_profile_window_after_limit(spark, queries):
    """The rank/cumulative window may only run AFTER the top-k limit —
    over the bounded k rows — never over the full key histogram."""
    df = queries["key_skew_profile"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    # the single-partition exchange must sit above TakeOrderedAndProject
    # (bounded k rows), which itself bounds everything the window sees
    win_at = plan.index("Window")
    take_at = plan.index("TakeOrderedAndProject")
    assert win_at < take_at  # plan prints top-down: window consumes top-k


def test_stratified_sample_parallel_strata(spark, queries):
    """The per-stratum rank window partitions by lang — strata process
    in parallel; no single-partition exchange, no global sort."""
    plan = plan_of(queries["stratified_sample_docs"](spark, SF_SMALL))
    assert "hashpartitioning(lang" in plan
    assert "Exchange SinglePartition" not in plan


def test_time_weighted_avg_single_exchange(spark, queries):
    """lead-window and groupBy share the user_id partitioning — one
    exchange for the whole query."""
    plan = plan_of(queries["time_weighted_avg_value"](spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") == 1


def test_gap_fill_no_global_stage(spark, queries):
    """Spine generation and LOCF stay per-user: no single-partition
    exchange, no global sort anywhere in the gap-fill plan."""
    plan = plan_of(queries["gap_fill_hourly_locf"](spark, SF_SMALL))
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert "Generate explode" in plan  # the per-user sequence spine


def test_histogram_postagg_is_bounded(spark, queries):
    """The only wide stage is the bin groupBy; the spine join is a
    broadcast over the <=20-row aggregate."""
    plan = plan_of(queries["value_histogram_events"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_count_min_cells_broadcast(spark, queries):
    """The 128-cell sketch table broadcasts onto the 10-row audit frame
    — two BroadcastHashJoins, no shuffle of the cell table."""
    plan = plan_of(queries["count_min_heavy_hitters"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") == 2
    assert "CartesianProduct" not in plan


def test_histogram_quantiles_one_wide_stage(spark, queries):
    """The only full-data shuffle is the bin groupBy; the cum window
    runs over the bounded (<=1000-row) bin table."""
    plan = plan_of(queries["histogram_quantiles"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" not in plan  # no sort path at all
    assert "rangepartitioning" not in plan.lower()


def test_join_cardinality_counts_not_facts(spark, queries):
    """The estimator joins per-key COUNT frames, not the fact tables:
    both join inputs must be aggregates (the key-frame join), with the
    certification join's count the only full fact⋈fact stage."""
    plan = plan_of(queries["join_cardinality_estimate"](spark, SF_SMALL))
    # estimate side: HashAggregate above both probe inputs of the first
    # SortMergeJoin/ShuffledHashJoin — cheap proxy: >= 6 aggregates
    # (2 per-key counts with partials + the summary + the actual count)
    assert plan.count("HashAggregate") >= 6


def test_table_profile_single_scan(spark, queries):
    """All 24 statistics come from one scan of orders (Spark expands
    distinct aggregates into extra shuffle phases, never extra scans)."""
    plan = plan_of(queries["table_profile_orders"](spark, SF_SMALL))
    assert plan.count("Scan parquet") == 1


def test_grouped_quantiles_parallel_groups(spark, queries):
    """The per-group cum window partitions by event_type — never a
    single-partition stage anywhere in the grouped-quantile plan."""
    plan = plan_of(queries["quantiles_by_event_type"](spark, SF_SMALL))
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(event_type" in plan


def test_rolling_active_users_single_wide_reduction(spark, queries):
    """WAU contributions come from the distinct (user, day) reduction,
    never a per-day rescan: exactly one scan of events, and the window
    fan-out is a Generate (explode), not a range join."""
    plan = plan_of(queries["rolling_active_users"](spark, SF_SMALL))
    assert plan.count("Scan parquet") == 2  # events for pairs + max-day
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan


def test_q17_decorrelated_not_rescanned(spark, queries):
    """The per-part average joins back as a broadcast aggregate — the
    correlated subquery never re-executes per row: exactly two scans
    of lineitem (facts + the average frame, each semi-pruned by the
    broadcast part dim, which is scanned once per consumer), no
    nested loop."""
    plan = plan_of(queries["q17_small_quantity_revenue"](spark, SF_SMALL))
    assert plan.count("Scan parquet") == 4  # lineitem x2 + part x2
    assert "NestedLoop" not in plan


def test_q22_anti_join_hash_after_scalar_threshold(spark, queries):
    """The NOT EXISTS is a hash LeftAnti on custkey; the only nested
    loop is the deliberate 1-row threshold broadcast."""
    plan = plan_of(queries["q22_idle_customers"](spark, SF_SMALL))
    assert "LeftAnti" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the scalar only


def test_q21_decorrelation_avoids_self_joins(spark, queries):
    """The double-EXISTS shape runs as ONE orderkey join + ONE groupBy:
    lineitem is scanned once (the textbook correlated plan scans it
    three times), and no nested loop appears anywhere."""
    plan = plan_of(queries["q21_sole_late_suppliers"](spark, SF_SMALL))
    assert plan.count("Scan parquet") == 3  # lineitem + orders + supplier
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # the top-100, never a sort


def test_q2_window_not_global(spark, queries):
    """The per-part best-supplier window partitions by p_partkey — a
    single-partition window (empty PARTITION BY) would serialize the
    bridge at scale."""
    df = queries["q2_regional_best_supplier"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "partitionBy" not in plan or True  # textual form varies
    assert "Window" in plan
    # the give-away of an unpartitioned window is Exchange SinglePartition
    # feeding the Window node; q2's window input must be hash-partitioned
    import re

    window_idx = plan.index("Window")
    pre = plan[:window_idx]
    assert "Exchange SinglePartition" not in pre


def test_q16_exclusion_is_broadcast_anti(spark, queries):
    """The NOT IN supplier blacklist runs as a broadcast LeftAnti hash
    join, never a nested loop over the bridge."""
    plan = plan_of(queries["q16_supplier_part_variety"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "NestedLoop" not in plan


def test_q20_single_scoped_scan_feeds_both_granularities(spark, queries):
    """Both aggregates (pair volume + part total) read the same scoped
    lineitem⋈part projection; the date filter reaches the scan."""
    df = queries["q20_dominant_share_suppliers"](spark, SF_SMALL)
    plan = formatted_of(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan
    assert "CartesianProduct" not in plan


def test_q15_max_is_broadcast_scalar(spark, queries):
    """The 1-row MAX(total_revenue) scalar broadcasts; Catalyst even
    rewrites the equality filter over the cross join into a broadcast
    HASH join keyed on the revenue value. Nothing shuffles a cartesian;
    the supplier name join is a broadcast hash join too."""
    plan = plan_of(queries["q15_top_revenue_supplier"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_image_ahash_bands_are_equi_joins(spark, queries):
    """The aHash pair search must be the union-of-equi-joins banding
    shape — an OR band condition would plan as a nested loop over the
    fingerprint frame."""
    plan = plan_of(queries["image_near_dup_ahash"](spark, SF_SMALL))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_triangle_joins_are_hash(spark, queries):
    """Triangle enumeration: wedge join + closing semi-join are hash
    equi-joins; no nested loop anywhere."""
    plan = plan_of(queries["near_dup_triangles"](spark, SF_SMALL))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan  # the closing membership check


def test_q9_dims_broadcast(spark, queries):
    """q9's widest join tree: part/supplier/nation broadcast; the only
    shuffled join is lineitem⋈orders."""
    plan = plan_of(queries["q9_nation_year_profit"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_pq_adc_joins_are_hash_not_nested_loop(spark, queries):
    """PQ's encode and ADC joins are equi-joins on (m[, cell]) — they
    must plan as broadcast HASH joins of the tiny codebook/table sides,
    and the final ranking must be a TakeOrderedAndProject."""
    plan = plan_of(queries["pq_topk_adc"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_is_scan_plus_heap(spark, queries):
    """Sequential-Poisson sampling must be one scan with zero joins and
    zero aggregate shuffles — priorities are a projection, the top-k a
    per-partition heap."""
    plan = plan_of(queries["weighted_sample_docs"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    for op in ("Join", "HashAggregate", "Window"):
        assert op not in plan, f"unexpected {op}"


def test_m4_is_single_aggregate_not_four_windows(spark, queries):
    """M4 must plan as ONE bucket aggregation (struct extremums) — the
    naive formulation sorts the series four times in four windows."""
    plan = plan_of(queries["m4_downsample_events"](spark, SF_SMALL))
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # agg (+AQE reuse)


def test_peak_concurrency_single_partition_is_day_bounded(spark, queries):
    """The sweep line's only unpartitioned window is the day-prefix sum
    over ONE ROW PER DAY — exactly one Exchange SinglePartition in the
    plan, feeding from the per-day totals aggregate (bounded by
    calendar days at any corpus size); the per-instant cumulative sums
    are day-partitioned."""
    plan = plan_of(queries["peak_concurrency_daily"](spark, SF_SMALL))
    assert plan.count("Exchange SinglePartition") == 1
    assert "Exchange hashpartitioning(day" in plan


def test_asof_nearest_zero_joins(spark, queries):
    """The nearest as-of must keep the zero-physical-join plan of the
    backward form: window passes over one union, no Join operator."""
    plan = plan_of(queries["asof_nearest_click"](spark, SF_SMALL))
    assert "Window" in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_language_id_score_is_unconditional(spark, queries):
    """The 4-bigram marker sum must stay OUT of any CASE branch: codegen
    subexpression elimination skips conditionally-evaluated expressions,
    and wrapping the score in `WHEN length(text) > 0` made the whole sum
    run twice per row — once for en_score, once inside predicted — 2.4x
    the runtime (r07 finding). The en_score output expression must be the
    bare guarded division (coalesce leaf + greatest denominator), with
    CASE appearing only in the cheap `predicted` label."""
    plan = optimized_of(queries["language_id_ngram"](spark, SF_SMALL))
    seg = plan[: plan.index("AS en_score")]
    assert "CASE WHEN" not in seg, "en_score regressed to a conditional"
    assert "greatest(length(coalesce(text" in seg
    assert "coalesce(text" in seg


def test_stratified_sample_single_scan_broadcast_quota(spark, queries):
    """stratified_sample_exact reads the corpus ONCE (the stratum-count
    aggregate is checkpointed before the apportionment fans out over
    it), joins the quota table by broadcast, and every Exchange
    SinglePartition in the plan sits over the checkpointed stratum-
    count frame (bounded by the language domain), never the corpus —
    no corpus-wide sort or single-partition window."""
    df = queries["stratified_sample_exact"](spark, SF_SMALL)
    plan = plan_of(df)
    assert plan.count("FileScan") == 1  # one corpus scan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # the per-stratum ranking window is hash-partitioned by stratum
    assert "hashpartitioning(stratum" in plan


def test_cluster_weights_reuses_checkpointed_labels(spark, queries):
    """cluster_sampling_weights' final plan reads the checkpointed
    labels frame (the CC labeling ran once, eagerly) — zero parquet
    rescans, no single-partition funnel; the size join keys on
    cluster_id (hash-shuffled, cluster-count-sized build side)."""
    df = queries["cluster_sampling_weights"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "FileScan" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_frontier_dispatch_tick_bounded_state_plan(spark, queries):
    """frontier_dispatch_tick's final plan unions four checkpointed
    host/dispatch-sized frames — the cross-tick state a crawler
    persists; zero parquet rescans and no single-partition funnel at
    the top level."""
    df = queries["frontier_dispatch_tick"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "FileScan" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_calibration_signature_width_is_pinned(spark, queries):
    """The 64 md5 MINs — the calibration query's dominant CPU — run in
    the map stage reading the cached shingle frame, so that frame's
    exchange must be REPARTITION_BY_NUM (explicit count, never touched
    by AQE cached-plan re-planning), not the coalescible
    REPARTITION_BY_COL the other _shingle_sets callers keep."""
    df = queries["minhash_estimate_calibration"](spark, SF_SMALL)
    plan = plan_of(df)
    assert "REPARTITION_BY_NUM" in plan
    # the default (coalescible) shape elsewhere is untouched
    jac = queries["minhash_lsh_near_dup"](spark, SF_SMALL)
    assert "REPARTITION_BY_NUM" not in plan_of(jac)

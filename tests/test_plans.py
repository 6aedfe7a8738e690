"""Plan-shape gates (SURVEY.md §4): the scale posture, asserted.

Correct results with a degenerate plan pass the oracle gate but fail at
100 TB. These tests pin the physical-plan properties each flagship query
relies on — pushdown, pruning, broadcast, group-limit, no cartesian blowup
— so a plan regression fails even while answers stay right.
"""

from __future__ import annotations

import re
import pytest

from aws_lambda_stream_processing_spark.plans import (
    has_operator,
    plan_string,
    pushed_filters,
    read_schemas,
    scan_columns,
)

from tests.conftest import SF_DIR


def test_pruned_scan_pushes_filter_and_prunes_columns(spark, registry):
    df = registry["q_scan_pruned"].fn(spark, SF_DIR)
    assert pushed_filters(df), "shipdate filter did not reach the scan"
    cols = scan_columns(df)
    assert cols, "no parquet scan found"
    # projection must prune: nothing close to the full 16-column lineitem
    assert all(len(c) <= 5 for c in cols), f"scan reads too much: {cols}"


def test_broadcast_join_broadcasts_the_dim(spark, registry):
    df = registry["q_join_broadcast"].fn(spark, SF_DIR)
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "CartesianProduct")


def test_multiway_join_no_cartesian(spark, registry):
    df = registry["q_join_multiway"].fn(spark, SF_DIR)
    assert not has_operator(df, "CartesianProduct")
    # dims should broadcast rather than shuffle
    assert has_operator(df, "BroadcastHashJoin")


def test_topk_group_uses_window_group_limit(spark, registry):
    df = registry["q_win_topk_group"].fn(spark, SF_DIR)
    assert has_operator(df, "WindowGroupLimit"), (
        "top-k per group must pre-filter before the exchange"
    )


def test_topk_global_uses_ordered_limit(spark, registry):
    df = registry["q_topk_global"].fn(spark, SF_DIR)
    assert has_operator(df, "TakeOrderedAndProject")


def test_agg_has_partial_aggregation(spark, registry):
    plan = plan_string(registry["q_agg_groupby"].fn(spark, SF_DIR))
    assert "partial" in plan.lower(), "map-side combine missing"


def test_filters_push_down_across_inventory(spark, registry):
    # every query that filters lineitem by shipdate should push it down
    for name in ("q_filter_between", "q_filter_cmp"):
        df = registry[name].fn(spark, SF_DIR)
        assert pushed_filters(df), f"{name}: no pushed filters"


def test_partitioned_read_prunes_partitions(spark, registry):
    df = registry["q_sink_partitioned"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert "PartitionFilters: [" in plan
    # the event_type predicate must be a partition filter, not a data filter
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "event_type" in pf.group(1), plan[:2000]


def test_bucketed_join_has_no_exchange(spark, registry):
    df = registry["q_join_bucketed"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join must not shuffle"
    assert "Bucketed: true" in plan


def test_salted_join_distributes_and_matches_plain(spark, registry):
    df = registry["q_join_salted"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, (
        "salt demo must run as a shuffle join"
    )


def test_binned_interval_join_is_equi_not_nested_loop(spark, registry):
    df = registry["q_join_interval_binned"].fn(spark, SF_DIR)
    assert not has_operator(df, "BroadcastNestedLoopJoin")
    assert not has_operator(df, "CartesianProduct")


# --- round-2 operators -----------------------------------------------------


def test_stratified_sample_broadcasts_rates_no_agg_exchange(spark, registry):
    # the sampler is a pure scan + broadcast of a 5-row rate table: the
    # only acceptable join is a broadcast, and there must be no shuffle.
    df = registry["q_llm_stratified_sample"].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")  # formatted never inlines the string
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan, (
        "stratified sample must not shuffle the corpus"
    )


def test_seq_pack_offsets_are_broadcast(spark, registry):
    # the two-phase prefix sum re-attaches per-partition offsets with a
    # broadcast join; a shuffled join would defeat the design.
    df = registry["q_llm_seq_pack"].fn(spark, SF_DIR)
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "CartesianProduct")


def test_contamination_joins_are_hash_not_nested_loop(spark, registry):
    df = registry["q_llm_contamination"].fn(spark, SF_DIR)
    assert not has_operator(df, "BroadcastNestedLoopJoin")
    assert not has_operator(df, "CartesianProduct")


def test_funnel_broadcasts_stage_frontiers(spark, registry):
    # each stage frontier (one row per converted user) must broadcast
    # into the next stage's join, never shuffle the events side twice.
    df = registry["q_funnel_conversion"].fn(spark, SF_DIR)
    assert has_operator(df, "BroadcastHashJoin")


def test_tpch_q10_pushes_date_filter_and_broadcasts_dims(spark, registry):
    df = registry["q_sql_tpch_q10"].fn(spark, SF_DIR)
    assert pushed_filters(df), "o_orderdate/returnflag must reach the scans"
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "CartesianProduct")


def test_tpch_q18_semi_join_rewrite(spark, registry):
    # the IN-subquery must decorrelate to a semi join, not a nested loop
    df = registry["q_sql_tpch_q18"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert "LeftSemi" in plan or "SemiJoin" in plan, plan[:1500]
    assert not has_operator(df, "CartesianProduct")


def test_contamination_matrix_hash_joins_only(spark, registry):
    df = registry["q_llm_contamination_matrix"].fn(spark, SF_DIR)
    assert not has_operator(df, "BroadcastNestedLoopJoin")
    assert not has_operator(df, "CartesianProduct")


def test_cross_corr_broadcasts_lag_table(spark, registry):
    df = registry["q_ts_cross_corr"].fn(spark, SF_DIR)
    assert has_operator(df, "BroadcastHashJoin") or has_operator(
        df, "BroadcastNestedLoopJoin"
    )
    # the hour-shift equi-condition must not degrade to a cartesian
    assert not has_operator(df, "CartesianProduct")


def test_m4_and_ewma_windows_no_extra_exchange(spark, registry):
    # window + agg share the (event_type, bucket)/(user_id) key: exactly
    # one hash-partitioning exchange family may appear
    from aws_lambda_stream_processing_spark.plans import plan_string

    for name in ("q_ts_downsample_m4", "q_ts_ewma16"):
        # simple mode: formatted plans print "Exchange (n)" in the tree
        # and never the inline "Exchange hashpartitioning" string, which
        # made this count vacuously 0 (r4 fix).
        plan = plan_string(registry[name].fn(spark, SF_DIR), "simple")
        n_exchanges = plan.count("Exchange hashpartitioning")
        assert n_exchanges <= 1, f"{name}: {n_exchanges} exchanges"


def test_systematic_sample_pushes_predicate(spark, registry):
    df = registry["q_sample_systematic"].fn(spark, SF_DIR)
    assert pushed_filters(df), "modulo predicate must reach the scan"


def test_tpch_q21_decorrelates_to_hash_joins(spark, registry):
    # EXISTS + doubly-correlated NOT EXISTS must become semi/anti hash
    # joins; a BroadcastNestedLoopJoin or CartesianProduct here would be
    # O(n^2) over the fact table at scale.
    df = registry["q_sql_tpch_q21"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_tpch_q6_pushes_all_range_predicates(spark, registry):
    # Q6 is the canonical pushdown benchmark: shipdate/discount/quantity
    # ranges must reach the parquet scan, and the scan must prune to the
    # four referenced columns.
    df = registry["q_sql_tpch_q6"].fn(spark, SF_DIR)
    pf = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pf, f"{col} not pushed: {pf}"
    cols = scan_columns(df)
    assert cols and all(len(c) <= 4 for c in cols), cols


def test_tpch_q2_decorrelates_min_subquery(spark, registry):
    # The correlated MIN-cost subquery must become an aggregate + equi
    # join, not a per-row re-execution (BNLJ/cartesian) over partsupp.
    df = registry["q_sql_tpch_q2"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_tpch_q20_nested_in_stays_hash_joins(spark, registry):
    # IN -> IN -> correlated scalar: all three levels must plan as
    # semi/equi hash joins with the scalar decorrelated on the pair key.
    df = registry["q_sql_tpch_q20"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_assoc_rules_broadcasts_item_counts(spark, registry):
    df = registry["q_assoc_rules"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert not has_operator(df, "CartesianProduct"), plan
    # item-count and n_orders attaches must broadcast, not shuffle
    assert has_operator(df, "BroadcastHashJoin") or has_operator(
        df, "BroadcastNestedLoopJoin"
    ), plan
    assert has_operator(df, "TakeOrderedAndProject"), (
        "top-100 must be a TakeOrdered, not a global sort materialization"
    )


def test_ann_pq_candidate_join_is_hash_and_probe_side_broadcast(
    spark, registry
):
    df = registry["q_llm_ann_pq"].fn(spark, SF_DIR)
    assert not has_operator(df, "CartesianProduct")
    assert has_operator(df, "BroadcastHashJoin"), (
        "probe code table must broadcast into the candidate join"
    )
    assert has_operator(df, "WindowGroupLimit") or has_operator(
        df, "Window"
    ), "per-probe top-5 must stay a window, not a collect"


def test_semdedup_is_single_shuffle_per_cluster_kernel(spark, registry):
    df = registry["q_llm_semdedup"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert not has_operator(df, "CartesianProduct"), plan
    import re

    # formatted plans list each node twice (tree + detail); count nodes
    n_exchanges = len(re.findall(r"\n\(\d+\) Exchange", plan))
    assert n_exchanges <= 2, (
        "SemDedup should shuffle once on label (+presentation sort), "
        f"plan has {n_exchanges} exchanges:\n{plan}"
    )
    assert "FlatMapGroupsInPandas" in plan or "ApplyInPandas" in plan, plan


def test_asof_nearest_single_user_exchange(spark, registry):
    df = registry["q_join_asof_nearest"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert not has_operator(df, "SortMergeJoin"), (
        "nearest as-of must be the union+window pattern, not a join"
    )
    assert not has_operator(df, "CartesianProduct"), plan
    # one hash-partitioning exchange on user_id (AQE may append a
    # coalesce read, but no second shuffle key should appear)
    assert plan.count("hashpartitioning(user_id") >= 1, plan


def test_no_single_task_global_sort_windows(spark, registry):
    """The five order-statistic queries the round-2 audit flagged must
    run ZERO partition-less Window nodes: each ranks/cumsums a relation
    that scales with the data (customers, parts, users, docs, raw
    events), so a global-sort window is a one-task stage at 100 TB.
    All five now go through operators/dprefix.py (two-phase rank /
    prefix sum) or a domain-bounded histogram fold."""
    from aws_lambda_stream_processing_spark.plans import global_windows

    for q in (
        "q_rfm_segmentation",
        "q_pareto_abc",
        "q_agg_gini",
        "q_agg_winsorize",
        "q_llm_perplexity_band",
    ):
        df = registry[q].fn(spark, SF_DIR)
        gw = global_windows(df)
        assert not gw, f"{q} still has partition-less windows: {gw}"


# Queries allowed a partition-less Window because its input is provably
# BOUNDED (does not scale with data volume) — each with the reason:
_GLOBAL_WINDOW_OK = {
    # cumulative CDF grid over DISTINCT cents values: bounded by the
    # value domain, not the row count (docstring argues the bound).
    "q_agg_ks_test",
    # cumulative deviation over the DAILY series: calendar-bounded.
    "q_ts_changepoint_cusum",
    # ln(rank) over the top-100 cut (TakeOrderedAndProject first): 100 rows.
    "q_llm_zipf_slope",
    # final rank over the fused top-20 cut (TakeOrderedAndProject
    # first): 20 rows — the zipf_slope class; both global RANKINGS run
    # through dprefix, only the bounded post-limit numbering windows.
    "q_llm_rrf_fusion",
    # running rank over the DISTINCT-cents grid: bounded by the value
    # domain (<= 56k rows), same argument as q_agg_ks_test.
    "q_agg_mann_whitney",
    # two midrank windows over the cents grid (<= 56k) and hour grid (24).
    "q_agg_spearman",
    # global cumulative over the acctbal-cents support grid: bounded by
    # the value domain (~15k distinct cents), same argument as ks_test.
    "q_anon_tcloseness",
    # pooled-rank window + LOCF merge stream: both bounded by the cents
    # domain (blocks + lookups <= 6x distinct cents).
    "q_agg_quantile_normalization",
    # cumulative at-risk / log-survival over the lifetime-days grid:
    # calendar-bounded (<= observed days).
    "q_agg_survival_km",
    # cumulative share over the 10-row decile output: constant-bounded.
    "q_events_lorenz_curve",
    # dense token ids over the DISTINCT-token dictionary. The REAL bound
    # (r8 verdict item 5) is the contracted token-SET count feeding the
    # deliberate all-pairs popcount stage, which the builder now ASSERTS
    # (<= _JS_MAX_CONTRACTED_SETS = 65536, llm/dedup.py) — and the
    # dictionary this window ranks is itself <= n_sets * max set length,
    # so the whitelist survives a real-vocabulary corpus: past the gate
    # the window input is bounded; at the gate the query refuses and
    # tells the caller to sample.
    "q_llm_jaccard_spectrum",
    # trailing 7-day window over the DAILY series: calendar-bounded
    # (same class as q_ts_changepoint_cusum).
    "q_ts_anomaly_ensemble",
    # gaps-and-islands over the MINUTE calendar scaffold:
    # calendar-bounded (~43k rows at any SF), never event-grain.
    "q_ts_outage_report",
    # BH rank + reverse-cummin over the k=20 HYPOTHESIS panel: bounded
    # by the number of tests, never the data (docstring argues it).
    "q_agg_fdr_bh",
    # radius/diameter MIN/MAX over the 64-node quotient panel:
    # panel-bounded by construction.
    "q_graph_eccentricity",
    # first-qualifying-level pick over the generalization LADDER:
    # |levels| = 3 rows by construction, never data-scaled.
    "q_anon_suppression",
}

# Builders that execute side effects (write/stream/collect) during plan
# construction — introspecting them here would re-run real work.
_PLAN_AUDIT_SKIP_PREFIXES = ("q_stream_", "q_sink_")


def test_global_window_audit_full_surface(spark, registry):
    """Repo-wide scale gate (round 3): NO query may introduce a
    partition-less Window over anything except the whitelisted
    bounded-input cases above. This is the regression fence that keeps
    the next operator from quietly re-adding a one-task global sort."""
    from aws_lambda_stream_processing_spark.plans import global_windows

    offenders = {}
    for name, spec in sorted(registry.items()):
        if name.startswith(_PLAN_AUDIT_SKIP_PREFIXES):
            continue
        if name in _GLOBAL_WINDOW_OK:
            continue
        gw = global_windows(spec.fn(spark, SF_DIR))
        if gw:
            offenders[name] = gw
    assert not offenders, (
        "new partition-less windows (add to whitelist ONLY with a "
        f"boundedness argument): {offenders}"
    )


def test_range_frame_window_is_bucket_partitioned(spark, registry):
    """q_win_range_frame (r3 verdict #4): the RANGE-frame window must be
    partitioned by (event_type, value-bucket), NOT event_type alone — a
    5-value partition key serializes the O(n·|frame|) sliding
    re-aggregation into 5 fat tasks at 100 TB. The bucket width equals
    the frame extent, so owner+donor replication makes the fine
    partitioning exact; this gate pins (a) the window partition spec
    includes the bucket, and (b) the realized parallelism of the heavy
    stage exceeds the 5 event types."""
    df = registry["q_win_range_frame"].fn(spark, SF_DIR)
    plan = plan_string(df)
    win = [
        ln for ln in plan.splitlines()
        if "Window" in ln or "windowspecdefinition" in ln
    ]
    assert any("bucket" in ln for ln in win), (
        f"range-frame window lost its bucket partition key:\n{plan}"
    )
    # Every event_type-partitioned windowspecdefinition must carry the
    # bucket as its SECOND partition column. (The r5 vacuity audit
    # killed the old `"partitionBy=[event_type], " not in plan` form:
    # physical Window nodes print windowspecdefinition argument lists,
    # never `partitionBy=[...]`, so that string could never match. If
    # the window degraded to event_type-only partitioning, the arg
    # after event_type would be the ASC/DESC order column — caught
    # below; tests/test_plan_gate_vacuity.py proves both directions.)
    import re

    next_args = re.findall(r"windowspecdefinition\(event_type#\d+\w*, (\w+)#", plan)
    assert next_args, f"no event_type-partitioned window found:\n{plan}"
    assert all(a == "bucket" for a in next_args), (
        f"window partitioned by event_type alone: {next_args}\n{plan}"
    )
    # realized parallelism: distinct (event_type, bucket) groups >> 5
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_groups = (
        e.select(
            "event_type",
            F.floor(F.round(F.col("value") * 100).cast("long") / 1000)
            .alias("bucket"),
        )
        .distinct()
        .count()
    )
    assert n_groups > 5, n_groups


def test_salted_agg_has_two_level_exchange(spark, registry):
    """q_agg_salted_skew must actually run the two-level shape: a first
    exchange keyed on (event_type, salt) and a second on event_type
    alone — if Catalyst collapsed the salt away, the demo is a lie."""
    df = registry["q_agg_salted_skew"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert "hashpartitioning(event_type" in plan, plan
    import re

    salted = re.search(r"hashpartitioning\(event_type#\d+, salt#\d+", plan)
    assert salted, f"salted exchange missing:\n{plan}"


def test_link_prediction_broadcasts_probes_no_cartesian(spark, registry):
    """q_graph_common_neighbors: the probe set must broadcast into the
    adjacency (the 2-hop expansion is probe-bounded, never adj x adj)
    and the anti-join must stay a hash join."""
    df = registry["q_graph_common_neighbors"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ohlc_bars_is_one_agg_exchange(spark, registry):
    """q_ts_ohlc_bars: one partial+final agg exchange plus the output
    range sort — a second hash exchange would mean the min_by/max_by
    keys broke map-side combine. (Formatted plans put the partitioning
    on an Arguments: line, so count the expression, not the node.)"""
    plan = plan_string(registry["q_ts_ohlc_bars"].fn(spark, SF_DIR))
    assert plan.count("hashpartitioning(") == 1, plan
    assert "partial" in plan.lower()


def test_spearman_rank_tables_broadcast(spark, registry):
    """q_agg_spearman: both midrank tables are value-domain-bounded and
    must re-attach by BROADCAST joins — a shuffle join on the raw rows
    would dominate at 100x."""
    plan = plan_string(registry["q_agg_spearman"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_rsi_bollinger_single_user_exchange(spark, registry):
    """q_ts_rsi / q_ts_bollinger: the lag pass and the frame sums share
    ONE user_id exchange (same partition+order spec) — a second
    hashpartitioning(user_id) exchange means the window specs diverged."""
    for name in ["q_ts_rsi", "q_ts_bollinger"]:
        plan = plan_string(registry[name].fn(spark, SF_DIR))
        import re

        n = len(re.findall(r"hashpartitioning\(user_id", plan))
        assert n == 1, f"{name}: {n} user_id exchanges\n{plan}"


def test_quality_calibration_offsets_broadcast(spark, registry):
    """q_llm_quality_calibration: decile assignment goes through the
    dprefix two-phase rank — its offsets and the dup-count table must
    broadcast; no partition-less window (covered by the audit) and no
    nested-loop join."""
    plan = plan_string(registry["q_llm_quality_calibration"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_star_except_prunes_scan(spark, registry):
    """q_sql_star_except: `SELECT * EXCEPT (ts, props)` must resolve at
    analysis time — the parquet scan reads ONLY the 4 kept columns and
    the WHERE predicates still push down (the docstring's
    convenience-costs-nothing claim)."""
    df = registry["q_sql_star_except"].fn(spark, SF_DIR)
    schemas = read_schemas(df)
    assert schemas and all(
        "props" not in s and "ts" not in s for s in schemas
    ), schemas
    pf = pushed_filters(df)
    assert any("event_type" in f for f in pf), pf


def test_skyline_is_two_phase(spark, registry):
    """q_sort_skyline: the Pareto frontier must run as the two-phase
    cummax — ONE range exchange over the distinct points, prefix maxima
    broadcast back, no O(n^2) dominance join (cartesian / non-equi
    nested loop over the data-scaled relation) and no partition-less
    window (the full-surface audit also covers that)."""
    plan = plan_string(registry["q_sort_skyline"].fn(spark, SF_DIR))
    import re

    assert "CartesianProduct" not in plan, plan
    n_range = len(re.findall(r"rangepartitioning\(price", plan))
    assert n_range >= 1, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        plan
    )


def test_sort_within_partitions_has_no_exchange(spark, registry):
    """q_sort_within_partitions: the local sort must not shuffle — an
    Exchange before the Sort means Catalyst promoted it to a global
    sort and the demo is a lie."""
    plan = plan_string(registry["q_sort_within_partitions"].fn(spark, SF_DIR))
    import re

    assert re.search(r"\bSort\b", plan), plan
    head = plan.split("== Physical Plan ==")[-1]
    assert "rangepartitioning" not in head, head


def test_bloom_sink_point_lookup_pushes_down(spark):
    """q_sink_parquet_bloom: the point predicate must reach the parquet
    scan of the bloom-indexed write as an EqualTo PushedFilter — that is
    the precondition for footer-level row-group skipping; a filter
    evaluated post-scan reads every group and the rung's 100 TB story
    is a lie. (The write options and equal-aggregate pair are exercised
    by the oracle; this gate pins the read path's plan shape.)"""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    from aws_lambda_stream_processing_spark.tables import load_table

    e = load_table(spark, SF_DIR, "events").select("user_id")
    out = _tempfile.mkdtemp(prefix="alsp_bloom_gate_")
    try:
        (
            e.write.mode("overwrite")
            .option("parquet.bloom.filter.enabled#user_id", "true")
            .parquet(_os.path.join(out, "b"))
        )
        df = spark.read.parquet(_os.path.join(out, "b")).where(
            F.col("user_id") == 42
        )
        pf = pushed_filters(df)
        assert pf and any(
            "EqualTo(user_id" in f or ("user_id" in f and "42" in f)
            for f in pf
        ), pf
    finally:
        _shutil.rmtree(out, ignore_errors=True)


def test_ts_filter_reaches_parquet_scan(spark, registry):
    """q_filter_ts_pushdown: the timestamp range must appear in the
    scan's PushedFilters — if the NTZ/LTZ cast wraps the column, the
    predicate silently stops pushing and every row-group is read."""
    df = registry["q_filter_ts_pushdown"].fn(spark, SF_DIR)
    pf = pushed_filters(df)
    assert pf and any("ts" in f for f in pf), pf


# --- action-count audit (r3 stretch #9) -----------------------------------

# Queries whose builders run eager actions BY DESIGN (convergence reads,
# bounded-guard collects, localCheckpoint pins, broadcast fills). Each
# ceiling is its measured steady-state job count (sf0.001, AQE sub-jobs
# included) plus ~50% headroom: an action-fan-out regression of the r3
# class (bfs 5 eager counts -> 2x wall time) blows straight through it.
_BUILDER_JOB_BUDGET = {
    "q_graph_bfs_3hop": 30,     # measured 18
    "q_graph_harmonic_centrality": 32,  # measured 21
    "q_llm_dedup_cc": 65,       # measured 45
}

# One representative per family that must stay FULLY LAZY: 0 jobs until
# the driver collects. A builder that grows an eager action regresses
# every caller that only wanted the plan.
_MUST_BE_LAZY = (
    "q_sql_tpch_q3",
    "q_join_asof",
    "q_agg_rollup",
    "q_win_range_frame",
    "q_graph_pagerank",
    "q_graph_lpa_communities",
    "q_llm_tfidf",
    "q_llm_minhash_lsh",
    "q_llm_cosine_topk",
    "q_ts_anomaly_zscore",
    "q_events_dau_wau",
)


def test_eager_builders_within_action_budget(spark, registry):
    from aws_lambda_stream_processing_spark.plans import jobs_run

    for name, budget in _BUILDER_JOB_BUDGET.items():
        registry[name].fn(spark, SF_DIR)  # warm run: fills shared memos
        _, n = jobs_run(spark, lambda: registry[name].fn(spark, SF_DIR))
        assert n <= budget, (
            f"{name} builder now triggers {n} Spark jobs "
            f"(budget {budget}) — action fan-out regression"
        )


def test_lazy_builders_run_zero_jobs(spark, registry):
    from aws_lambda_stream_processing_spark.plans import jobs_run

    eager = {}
    for name in _MUST_BE_LAZY:
        registry[name].fn(spark, SF_DIR)  # warm shared memos (edge cache)
        _, n = jobs_run(spark, lambda: registry[name].fn(spark, SF_DIR))
        if n:
            eager[name] = n
    assert not eager, f"lazy builders now run eager jobs: {eager}"


# --- round-4 plan gates ----------------------------------------------------


def test_embed_covariance_shuffles_only_partials(spark, registry):
    """q_llm_embed_covariance: the only exchange may carry the 2080-row
    per-partition Gram partials — if the embedding rows themselves ever
    shuffle, the one-pass tree-aggregation contract is broken."""
    df = registry["q_llm_embed_covariance"].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "FlatMapGroupsInPandas" not in plan  # mapInPandas, not grouped


def test_forget_cascade_broadcasts_deletion_set(spark, registry):
    """q_llm_forget_cascade: the request-sized deletion set must
    broadcast into every semi-join — a shuffled join would move the
    corpus for a request-sized probe."""
    df = registry["q_llm_forget_cascade"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_skew_report_uses_take_ordered(spark, registry):
    """q_scale_skew_report: the global top-10 must run as
    TakeOrderedAndProject (10 rows per partition cross the wire), never
    a full sort."""
    df = registry["q_scale_skew_report"].fn(spark, SF_DIR)
    assert has_operator(df, "TakeOrderedAndProject")


def test_oov_rate_vocab_broadcasts(spark, registry):
    """q_llm_oov_rate: the top-K vocabulary must broadcast into the
    token join — shuffling exploded tokens against a 20-row dict would
    be the hot-key shape this query exists to avoid."""
    df = registry["q_llm_oov_rate"].fn(spark, SF_DIR)
    assert has_operator(df, "BroadcastHashJoin")
    assert has_operator(df, "TakeOrderedAndProject")


def test_kpl_deaggregate_single_exchange(spark, registry):
    """q_source_kpl_deaggregate: pack = one dense-key hash-agg exchange;
    de-aggregation is per-record explode with no further shuffle."""
    df = registry["q_source_kpl_deaggregate"].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


# --- round-6 plan gates ----------------------------------------------------


def test_aqe_skew_join_splits_hot_partition(spark, registry):
    """q_join_skew_aqe: under the conf ladder the executed adaptive plan
    must mark the hot side of the sort-merge join `skew=true` (AQE
    OptimizeSkewedJoin split the key-0 partition); without the ladder
    the same frame must carry no skew mark — the two directions prove
    the gate pattern is matchable AND meaningful. Results must equal
    the plain (broadcast) execution exactly."""
    from aws_lambda_stream_processing_spark.operators.scale import (
        _AQE_SKEW_CONFS,
        _skewed_join_frame,
    )
    from aws_lambda_stream_processing_spark.session import conf_scope

    with conf_scope(spark, _AQE_SKEW_CONFS):
        df = _skewed_join_frame(spark, SF_DIR)
        skewed_rows = sorted(map(tuple, df.collect()))
        plan = plan_string(df)
    assert "skew=true" in plan, plan[:3000]
    df2 = _skewed_join_frame(spark, SF_DIR)
    plain_rows = sorted(map(tuple, df2.collect()))
    assert "skew=true" not in plan_string(df2)
    assert skewed_rows == plain_rows


def test_aqe_runtime_broadcast_converts_smj(spark, registry):
    """q_scale_aqe_runtime_broadcast: with static broadcast off and the
    adaptive threshold on, the EXECUTED plan must have converted the
    sort-merge join to BroadcastHashJoin; with BOTH thresholds off the
    same frame must stay SortMergeJoin — two directions, identical
    results (the q_join_skew_aqe gate discipline)."""
    from aws_lambda_stream_processing_spark.operators.scale import (
        _AQE_RUNTIME_BHJ_CONFS,
        _runtime_bhj_frame,
    )
    from aws_lambda_stream_processing_spark.session import conf_scope

    def final_plan(df):
        # adaptive explain prints Final Plan then Initial Plan; the
        # conversion claim is about what actually EXECUTED
        return plan_string(df).split("== Initial Plan ==")[0]

    with conf_scope(spark, _AQE_RUNTIME_BHJ_CONFS):
        df = _runtime_bhj_frame(spark, SF_DIR)
        converted_rows = sorted(map(tuple, df.collect()))
        plan = final_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    off = dict(_AQE_RUNTIME_BHJ_CONFS)
    off["spark.sql.adaptive.autoBroadcastJoinThreshold"] = "-1"
    with conf_scope(spark, off):
        df2 = _runtime_bhj_frame(spark, SF_DIR)
        static_rows = sorted(map(tuple, df2.collect()))
        plan2 = final_plan(df2)
    assert "SortMergeJoin" in plan2, plan2[:3000]
    assert converted_rows == static_rows


def test_runtime_bloom_filter_injected(spark, registry):
    """q_scale_runtime_bloom_filter: under the ladder the optimized plan
    must carry the injected bloom_filter_agg build and a might_contain
    pre-filter on the events side; with the flag off (same broadcast
    suppression) neither appears — two directions, identical results."""
    from aws_lambda_stream_processing_spark.operators.scale import (
        _RUNTIME_BLOOM_CONFS,
        _runtime_bloom_frame,
    )
    from aws_lambda_stream_processing_spark.session import conf_scope

    with conf_scope(spark, _RUNTIME_BLOOM_CONFS):
        df = _runtime_bloom_frame(spark, SF_DIR)
        on_rows = sorted(map(tuple, df.collect()))
        plan = df._jdf.queryExecution().toString()
    assert "bloom_filter_agg" in plan, plan[:3000]
    assert "might_contain" in plan, plan[:3000]
    off = dict(_RUNTIME_BLOOM_CONFS)
    off["spark.sql.optimizer.runtime.bloomFilter.enabled"] = "false"
    with conf_scope(spark, off):
        df2 = _runtime_bloom_frame(spark, SF_DIR)
        off_rows = sorted(map(tuple, df2.collect()))
        plan2 = df2._jdf.queryExecution().toString()
    assert "bloom_filter_agg" not in plan2
    assert on_rows == off_rows


def test_join_hints_steer_both_strategies(spark, registry):
    """q_sql_join_hints: the hints must actually steer the planner.
    SHUFFLE_MERGE(c) forces the customer|>orders side to sort-merge —
    customer is far under autoBroadcastJoinThreshold at test SF, so a
    SortMergeJoin in the plan is PROOF the hint took effect (the
    default plan broadcasts it: asserted as the negative control) —
    while BROADCAST(n) keeps the 25-row nation dim on the
    broadcast-hash path."""
    df = registry["q_sql_join_hints"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert "SortMergeJoin" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # negative control: without hints both joins broadcast at this SF
    from aws_lambda_stream_processing_spark.tables import load_table

    for t in ("orders", "customer", "nation"):
        load_table(spark, SF_DIR, t).createOrReplaceTempView(f"jhx_{t}")
    unhinted = spark.sql(
        """
        SELECT n.n_name, COUNT(*) AS n_orders
        FROM jhx_orders o
        JOIN jhx_customer c ON c.c_custkey = o.o_custkey
        JOIN jhx_nation n   ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
        """
    )
    assert "SortMergeJoin" not in plan_string(unhinted)


def test_cume_dist_single_window_single_exchange(spark, registry):
    """q_win_cume_dist: cume_dist and percent_rank share one ORDER BY,
    so Spark must evaluate both in ONE Window node over ONE exchange —
    a second Window or exchange means the shared sort was broken."""
    df = registry["q_win_cume_dist"].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")
    assert plan.count("Window") == 1, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_compaction_plan_final_agg_reuses_window_partitioning(
    spark, registry
):
    """q_scale_compaction_plan: the final (part_key, target_file) agg
    must satisfy its clustering from the window's part_key
    partitioning (subset rule) — exactly 2 hash exchanges end to end:
    the inventory agg's and the window's. A third means the planner
    re-shuffled the manifest."""
    df = registry["q_scale_compaction_plan"].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 2, plan[:2000]
    assert plan.count("Window") == 1


def test_theil_sen_pair_join_broadcasts_daily(spark, registry):
    """q_ts_theil_sen: the pairwise-slope self-join runs on the
    calendar-bounded daily rollup, which must BROADCAST (150 rows) —
    a SortMergeJoin or cartesian here means the join ran before the
    daily collapse."""
    df = registry["q_ts_theil_sen"].fn(spark, SF_DIR)
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "CartesianProduct")
    assert not has_operator(df, "SortMergeJoin")


def test_kcore_levels_are_pinned_once(spark, registry):
    """q_graph_kcore: each peel level is localCheckpoint-pinned, so the
    final plan must be a 4-way Union whose branches aggregate SCANS of
    the pinned level RDDs — not re-derivations of the join chain (which
    would make per-level stats recompute O(levels²) work). Semi-join
    peeling is asserted on the pre-checkpoint level-1 chain."""
    df = registry["q_graph_kcore"].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")
    assert plan.count("Scan ExistingRDD") == 4, plan[:2000]
    assert "Union" in plan
    assert "SortMergeJoin" not in plan

    from pyspark.sql import functions as F

    from aws_lambda_stream_processing_spark.operators.graphs import (
        _LPA_EDGE_PRED,
        _part_edges,
    )

    half = _part_edges(spark, SF_DIR).where(F.expr(_LPA_EDGE_PRED))
    edges = half.union(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    keep = deg.where(F.col("d") >= 8).select("u")
    level1 = edges.join(keep, "u", "semi").join(
        keep.select(F.col("u").alias("v")), "v", "semi"
    )
    assert "LeftSemi" in plan_string(level1, "simple")


def test_window_clause_single_window_node(spark, registry):
    """q_sql_window_clause: three functions over ONE named spec must
    plan as a single Window node over a single exchange — a second
    Window means the shared named spec was split."""
    df = registry["q_sql_window_clause"].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")
    assert plan.count("Window") == 1, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_ndcg_probes_broadcast_topk_group_limited(spark, registry):
    """q_llm_ndcg_eval: probes must broadcast to the corpus scan (the
    q_llm_knn layout) and the per-probe top-5 must pre-filter with
    WindowGroupLimit before the exchange."""
    df = registry["q_llm_ndcg_eval"].fn(spark, SF_DIR)
    assert has_operator(df, "BroadcastNestedLoopJoin") or has_operator(
        df, "BroadcastHashJoin"
    )
    assert has_operator(df, "WindowGroupLimit")
    assert not has_operator(df, "SortMergeJoin")


def test_dpp_injects_dynamic_pruning_into_fact_scan(spark, registry):
    """q_join_dpp: the fact scan's PartitionFilters must carry a
    dynamicpruningexpression fed by the broadcast weekend dim —
    runtime pruning, not a static filter. Negative control: the same
    fact scanned without the dim join has no dynamic pruning."""
    df = registry["q_join_dpp"].fn(spark, SF_DIR)
    plan = plan_string(df).lower()
    assert "dynamicpruning" in plan, plan[:3000]

    import os
    import tempfile

    out = os.path.join(
        tempfile.gettempdir(),
        f"alsp_dpp_sink_{spark.sparkContext.applicationId}",
    )
    plain = spark.read.parquet(out).groupBy().count()
    assert "dynamicpruning" not in plan_string(plain).lower()


def test_aqe_coalesce_merges_shuffle_partitions(spark, registry):
    """q_scale_aqe_coalesce: under the conf ladder the executed
    adaptive plan must carry an AQEShuffleRead with `coalesced`;
    with coalescing disabled the same frame must not — both
    directions, so the gate is matchable AND meaningful. Results
    identical either way."""
    from aws_lambda_stream_processing_spark.operators.scale import (
        _AQE_COALESCE_CONFS,
    )
    from aws_lambda_stream_processing_spark.session import conf_scope
    from aws_lambda_stream_processing_spark.tables import load_table

    from pyspark.sql import functions as F

    def frame():
        per_user = (
            load_table(spark, SF_DIR, "events")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
        )
        return per_user.agg(F.sum("n").alias("n_events"))

    with conf_scope(spark, _AQE_COALESCE_CONFS):
        df = frame()
        on_rows = df.collect()
        assert "coalesced" in plan_string(df), plan_string(df)[:2000]

    off_confs = dict(_AQE_COALESCE_CONFS)
    off_confs["spark.sql.adaptive.coalescePartitions.enabled"] = "false"
    with conf_scope(spark, off_confs):
        df2 = frame()
        off_rows = df2.collect()
        assert "coalesced" not in plan_string(df2)
    assert on_rows == off_rows


def test_lpa_lineage_guard(spark, registry):
    """q_graph_lpa_communities's lineage guard (_lpa_labels): at the
    shipped 3-round depth NO pin fires — the plan keeps its full lazy
    join chain, bit-identical to pre-guard (under AQE even eager=False
    checkpointing runs every upstream shuffle stage at build time, so a
    pin here would break the zero-jobs contract _MUST_BE_LAZY asserts).
    Past _LPA_PIN_EVERY rounds the pin MUST engage: the deep chain's
    plan aggregates a Scan of a pinned RDD instead of re-analyzing all
    rounds."""
    from pyspark.sql import functions as F

    from aws_lambda_stream_processing_spark.operators.graphs import (
        _LPA_EDGE_PRED,
        _LPA_PIN_EVERY,
        _lpa_labels,
        _part_edges,
    )

    df = registry["q_graph_lpa_communities"].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")
    assert "Scan ExistingRDD" not in plan, plan[:2000]

    half = _part_edges(spark, SF_DIR).where(F.expr(_LPA_EDGE_PRED))
    edges = half.union(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).coalesce(8)
    deep = _lpa_labels(edges, _LPA_PIN_EVERY + 2)
    deep_plan = plan_string(deep, "simple")
    assert "Scan ExistingRDD" in deep_plan, deep_plan[:2000]
    # everything before the pin is hidden behind the RDD scan: only the
    # post-pin rounds' joins remain (2 rounds x (neigh + merge), plus
    # plan-string re-prints of the pinned branch) — an unpinned 6-round
    # chain would carry 12+.
    assert deep_plan.count("Join") <= 8, deep_plan[:2000]


def test_keyset_pages_are_offset_free(spark, registry):
    """q_limit_keyset: pages 2-3 must execute as plain
    TakeOrderedAndProject(limit=20) with a seek DataFilter — NO offset
    in the plan (offset cost grows with page depth; seek cost doesn't).
    Positive control: the OFFSET formulation of the same page DOES
    plan with offset=, proving the assertion can fire."""
    from pyspark.sql import functions as F

    from aws_lambda_stream_processing_spark.operators.sorts import (
        _keyset_page,
    )
    from aws_lambda_stream_processing_spark.tables import load_table

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    page2 = _keyset_page(o, (123456, 789), 20)
    plan = plan_string(page2, "simple")
    assert "TakeOrderedAndProject(limit=20," in plan, plan[:1500]
    assert "offset=" not in plan, plan[:1500]
    # the seek predicate must reach the scan as a DataFilter
    assert "DataFilters: []" not in plan, plan[:1500]
    assert "DataFilters: [((" in plan, plan[:1500]

    control = (
        o.orderBy(F.desc("cents"), "o_orderkey").offset(20).limit(20)
    )
    assert "offset=20" in plan_string(control, "simple")

def test_distribute_by_is_local_sort(spark, registry):
    """q_sql_distribute_by: DISTRIBUTE BY must lower to exactly one
    hashpartitioning exchange on user_id and SORT BY to an
    intra-partition (global=false) sort — no rangepartitioning, which
    would mean Catalyst promoted it to a global ORDER BY. Positive
    control: the ORDER BY spelling of the same query DOES
    rangepartition, proving the detector can fire."""
    import re

    plan = plan_string(registry["q_sql_distribute_by"].fn(spark, SF_DIR))
    head = plan.split("== Physical Plan ==")[-1]
    n = len(re.findall(r"hashpartitioning\(user_id", head))
    assert n == 1, f"{n} user_id hash exchanges\n{head}"
    assert "rangepartitioning" not in head, head
    assert re.search(
        r"\[user_id#\d+\w* ASC NULLS FIRST, cents#\d+\w* ASC NULLS FIRST\],"
        r" false, 0",
        head,
    ), head

    ctl = plan_string(
        spark.sql(
            """
            SELECT user_id, event_type,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM db_events
            WHERE event_type IN ('view', 'click')
            ORDER BY user_id, cents
            """
        )
    )
    assert "rangepartitioning" in ctl.split("== Physical Plan ==")[-1], ctl

def test_exists_subquery_decorrelates(spark, registry):
    """q_sql_exists_subquery: EXISTS must lower to a LEFT SEMI hash
    join and NOT EXISTS to a LEFT ANTI — no nested loop over the
    correlated predicate."""
    plan = plan_string(registry["q_sql_exists_subquery"].fn(spark, SF_DIR))
    head = plan.split("== Physical Plan ==")[-1]
    assert "LeftSemi" in head, head
    assert "LeftAnti" in head, head
    assert "BroadcastNestedLoopJoin" not in head, head
    assert "CartesianProduct" not in head, head


def test_geo_radius_probe_is_broadcast_hash_only(spark, registry):
    """q_join_geo_radius: the customer–supplier probe must be ONE
    broadcast hash join on the grid-cell key — no nested-loop or
    cartesian fallback anywhere (the brute-force shape the blocking
    exists to eliminate). Positive control: the unblocked spelling
    (join on the distance predicate alone) IS a nested-loop join,
    proving the detectors can fire."""
    plan = plan_string(registry["q_join_geo_radius"].fn(spark, SF_DIR))
    head = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in head, head
    assert "BroadcastNestedLoopJoin" not in head, head
    assert "CartesianProduct" not in head, head

    from pyspark.sql import functions as F

    cust = spark.range(100).select(
        (F.col("id") % 60).cast("double").alias("lat"),
        (F.col("id") % 180).cast("double").alias("lon"),
    )
    supp = spark.range(10).select(
        (F.col("id") % 60).cast("double").alias("s_lat"),
        (F.col("id") % 180).cast("double").alias("s_lon"),
    )
    ctl = plan_string(
        cust.join(
            supp,
            (F.abs(F.col("lat") - F.col("s_lat")) < 1.5)
            & (F.abs(F.col("lon") - F.col("s_lon")) < 3.0),
        )
    ).split("== Physical Plan ==")[-1]
    assert (
        "BroadcastNestedLoopJoin" in ctl or "CartesianProduct" in ctl
    ), ctl


def test_sql_function_library_inlines_no_python(spark, registry):
    """q_sql_function_library: SQL-defined functions must inline into
    the plan — NO Python evaluation node of any kind (that transparency
    is the rung's whole scale claim). Positive control: a real Python
    UDF in the same shape DOES plant a Python eval node."""
    plan = plan_string(registry["q_sql_function_library"].fn(spark, SF_DIR))
    head = plan.split("== Physical Plan ==")[-1]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in head, f"{marker} in plan:\n{head}"

    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    py_tier = F.udf(lambda p: "small" if p < 50000 else "big", StringType())
    ctl = plan_string(
        spark.range(100).select(py_tier(F.col("id").cast("double")))
    ).split("== Physical Plan ==")[-1]
    assert "BatchEvalPython" in ctl or "ArrowEvalPython" in ctl, ctl


def test_cbo_stats_feed_the_optimizer(spark, registry):
    """q_scale_cbo_stats' premise: ANALYZE'd catalog stats must reach
    Catalyst — the optimized plan of a scan over the analyzed table
    reports the EXACT analyzed rowCount (not a size-based guess) once
    CBO is enabled. This is the wiring between the stats the rung
    certifies and the costs the optimizer plans from."""
    import shutil
    import tempfile

    from aws_lambda_stream_processing_spark.tables import load_table

    out = tempfile.mkdtemp(prefix="alsp_cbo_gate_")
    tbl = "alsp_cbo_gate_orders"
    try:
        load_table(spark, SF_DIR, "orders").select("o_orderkey").write.mode(
            "overwrite"
        ).parquet(out)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"CREATE TABLE {tbl} USING PARQUET LOCATION '{out}'")
        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
        n = spark.table(tbl).count()
        old = spark.conf.get("spark.sql.cbo.enabled")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            stats = (
                spark.table(tbl)
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
            )
            assert (
                stats.rowCount().isDefined()
            ), "no rowCount despite ANALYZE + CBO"
            assert int(str(stats.rowCount().get())) == n
        finally:
            spark.conf.set("spark.sql.cbo.enabled", old)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(out, ignore_errors=True)


def test_udtf_arrow_eval_node_engages(spark, registry):
    """q_udtf_arrow's premise: a UDTF declared useArrow=True must plan
    as ArrowEvalPythonUDTF. Positive control: the same class without
    the flag plans the pickle node (also pins that the session conf
    default stays off, i.e. the per-function flag is what engages)."""
    from pyspark.sql.functions import udtf

    def mk(use_arrow):
        @udtf(returnType="x int", useArrow=use_arrow)
        class Gate:
            def eval(self, n: int):
                yield (n,)

        return Gate

    spark.range(3).createOrReplaceTempView("gate_udtf_in")
    q = (
        "SELECT t.x FROM gate_udtf_in, "
        "LATERAL gate_udtf_arrow(CAST(id AS INT)) t"
    )
    spark.udtf.register("gate_udtf_arrow", mk(True))
    on = plan_string(spark.sql(q)).split("== Physical Plan ==")[-1]
    assert "ArrowEvalPythonUDTF" in on, on
    spark.udtf.register("gate_udtf_arrow", mk(False))
    off = plan_string(spark.sql(q)).split("== Physical Plan ==")[-1]
    assert "BatchEvalPythonUDTF" in off, off


def test_cache_table_uses_inmemory_scan_and_releases(spark, registry):
    """q_scale_cache_table: while cached, a reader over the cached name
    must plan an InMemoryTableScan (the columnar cache path, not a
    parquet re-scan); the catalog must report it cached; and after the
    rung completes nothing stays cached (the finally-UNCACHE
    discipline)."""
    from aws_lambda_stream_processing_spark.tables import load_table

    load_table(spark, SF_DIR, "events").createOrReplaceTempView(
        "ct_gate_events"
    )
    spark.sql("DROP VIEW IF EXISTS ct_gate_hot")
    spark.sql(
        "CACHE TABLE ct_gate_hot AS "
        "SELECT event_type, value FROM ct_gate_events WHERE value > 100.0"
    )
    try:
        assert spark.catalog.isCached("ct_gate_hot")
        plan = plan_string(spark.table("ct_gate_hot")).split(
            "== Physical Plan =="
        )[-1]
        assert ("InMemoryTableScan" in plan
                or "Scan In-memory table" in plan), plan
    finally:
        spark.sql("UNCACHE TABLE IF EXISTS ct_gate_hot")
        spark.sql("DROP VIEW IF EXISTS ct_gate_hot")

    # the rung itself must leave no cached entry behind
    registry["q_scale_cache_table"].fn(spark, SF_DIR).collect()
    import py4j

    try:
        leaked = spark.catalog.isCached("ct_hot")
    except py4j.protocol.Py4JJavaError:
        leaked = False  # view dropped — nothing to be cached
    except Exception:
        leaked = False
    assert not leaked


def test_repartition_hints_pin_exchange_and_coalesce(spark, registry):
    """q_sql_hint_repartition: exactly one hash exchange on user_id at
    width 8, a Coalesce 2 ABOVE it, and no second shuffle. Positive
    control: without hints the filtered projection plans NO exchange at
    all, proving both detectors fire only because of the hints."""
    import re

    # simple mode: "Exchange hashpartitioning" / "Coalesce 2" print
    # inline there (formatted mode splits args onto Arguments: lines)
    plan = plan_string(
        registry["q_sql_hint_repartition"].fn(spark, SF_DIR), "simple"
    ).split("== Physical Plan ==")[-1]
    assert re.search(r"hashpartitioning\(user_id#\d+\w*, 8\)", plan), plan
    assert "Coalesce 2" in plan, plan
    assert plan.count("Exchange") == 1, plan
    # coalesce must sit above the exchange (narrowing the shuffle output)
    assert plan.index("Coalesce 2") < plan.index("Exchange"), plan

    ctl = plan_string(
        spark.sql(
            """
            SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
            FROM rh_events WHERE event_type = 'purchase'
            """
        ),
        "simple",
    ).split("== Physical Plan ==")[-1]
    assert "Exchange" not in ctl and "Coalesce" not in ctl, ctl


def test_exchange_reuse_fires_and_knows_its_limits(spark, registry):
    """q_scale_exchange_reuse: the EXECUTED adaptive plan must contain a
    ReusedExchange (the daily aggregate's shuffle computed once, wired
    twice). Negative control: the shifted-key self-join variant infers
    DIFFERENT not-null pushdown filters into each branch — canonical
    equality breaks and reuse must NOT fire (the fragility the rung's
    docstring documents; if Spark ever starts reusing there too, the
    docstring claim is stale and this gate says so)."""
    from pyspark.sql import functions as F

    from aws_lambda_stream_processing_spark.tables import load_table

    df = registry["q_scale_exchange_reuse"].fn(spark, SF_DIR)
    df.collect()  # AQE: reuse shows in the executed plan
    plan = plan_string(df, "simple").split("== Physical Plan ==")[-1]
    assert "ReusedExchange" in plan, plan

    e = load_table(spark, SF_DIR, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    )
    a = daily.alias("a")
    # shift as a PROJECTION on branch b: the join's not-null condition
    # pushes into b as isnotnull(date_add(day, 1)) — unsimplified, so
    # the branches' canonical forms diverge (shift inside the join
    # CONDITION would simplify to isnotnull(day) and still reuse)
    b = daily.select(
        F.date_add(F.col("day"), 1).alias("day"),
        F.col("cents").alias("prev_cents"),
    )
    ctl = a.join(b, "day")
    ctl.collect()
    ctl_plan = plan_string(ctl, "simple").split("== Physical Plan ==")[-1]
    assert "ReusedExchange" not in ctl_plan, ctl_plan


def test_modified_after_filters_at_listing(spark, registry):
    """q_source_modified_after: the option must filter FILES at listing
    time — the filtered read's inputFiles are exactly the appended
    batch's part files, and the unfiltered read sees all of them
    (negative control). Asserted on the file LIST, not just row
    counts, because a row-level filter would produce the same rows
    while scanning everything — the opposite of the rung's point."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from aws_lambda_stream_processing_spark.tables import load_table

    tmp = tempfile.mkdtemp(prefix="alsp_modified_after_gate_")
    try:
        e = load_table(spark, SF_DIR, "events").select(
            "event_id", "event_type"
        )
        land = os.path.join(tmp, "landing")
        e.where(F.col("event_id") % 3 != 0).coalesce(2).write.mode(
            "overwrite"
        ).parquet(land)
        past = 1577836800  # 2020-01-01T00:00:00Z
        old_files = set()
        for fn in os.listdir(land):
            if fn.startswith("part-"):
                os.utime(os.path.join(land, fn), (past, past))
                old_files.add(fn)
        e.where(F.col("event_id") % 3 == 0).coalesce(2).write.mode(
            "append"
        ).parquet(land)
        new_files = {
            fn for fn in os.listdir(land)
            if fn.startswith("part-") and fn not in old_files
        }
        assert old_files and new_files

        filtered = spark.read.option(
            "modifiedAfter", "2022-01-01T00:00:00"
        ).parquet(land)
        got = {os.path.basename(p) for p in filtered.inputFiles()}
        assert got == new_files, (got, new_files)

        unfiltered = spark.read.parquet(land)
        all_got = {os.path.basename(p) for p in unfiltered.inputFiles()}
        assert all_got == old_files | new_files, all_got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stress_centrality_unroll_depth_holds(spark, registry):
    """q_graph_stress_centrality: the 6-level unroll is an ASSERTED
    bound — the level-7 frontier must be empty at this SF (the oracle
    enforces the same with error(); this gate covers the Spark side),
    and the BFS must actually have multi-level structure (some node
    pairs at distance >= 2, else stress is vacuously zero)."""
    from pyspark.sql import functions as F

    from aws_lambda_stream_processing_spark.operators.graphs import (
        _STRESS_BUCKETS,
    )
    from aws_lambda_stream_processing_spark.tables import load_table

    li = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("o"),
        (F.col("l_partkey") % _STRESS_BUCKETS).alias("p"),
    )
    a, b = li.alias("a"), li.alias("b")
    e0 = (
        a.join(
            b,
            (F.col("a.o") == F.col("b.o"))
            & (F.col("a.p") < F.col("b.p")),
        )
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
        .where((F.col("u") * 31 + F.col("v") * 17) % 9 == 3)
    )
    es = e0.union(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    nodes = es.select(F.col("u").alias("n")).distinct()
    r = nodes.select(
        F.col("n").alias("s"), F.col("n").alias("v"),
        F.lit(0).alias("d"),
    )
    frontier = r
    sizes = []
    for lvl in range(1, 8):
        nxt = (
            frontier.alias("r")
            .join(F.broadcast(es).alias("e"),
                  F.col("r.v") == F.col("e.u"))
            .select(F.col("r.s").alias("s"), F.col("e.v").alias("v"))
            .distinct()
            .join(
                r.select(F.col("s").alias("ss"),
                         F.col("v").alias("vv")),
                (F.col("s") == F.col("ss"))
                & (F.col("v") == F.col("vv")),
                "left_anti",
            )
            .select("s", "v", F.lit(lvl).alias("d"))
        )
        frontier = nxt.localCheckpoint()
        sizes.append(frontier.count())
        r = r.union(frontier)
    assert sizes[6] == 0, f"level-7 frontier nonempty: {sizes}"
    assert sizes[1] > 0, f"no distance-2 pairs, stress vacuous: {sizes}"


def test_lateral_join_df_decorrelates_to_group_limit(spark, registry):
    """DataFrame.lateralJoin with ORDER BY + LIMIT must decorrelate to
    a windowed group limit + hash/broadcast join — never a per-outer-
    row nested-loop re-execution (the r8 plan read: one c_nationkey
    exchange, WindowGroupLimit partial+final, BroadcastHashJoin)."""
    df = registry["q_join_lateral_df"].fn(spark, SF_DIR)
    assert has_operator(df, "WindowGroupLimit"), (
        "lateral limit did not decorrelate to a group limit"
    )
    assert not has_operator(df, "CartesianProduct")
    assert not has_operator(df, "BroadcastNestedLoopJoin")


def test_apply_in_arrow_single_exchange(spark, registry):
    """applyInArrow is one hash exchange on the group key feeding the
    Arrow eval — no extra shuffle, no sort-based fallback around it."""
    df = registry["q_udf_apply_in_arrow"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert has_operator(df, "FlatMapGroupsInArrow"), plan
    assert plan.count("hashpartitioning(") == 1, plan


def test_python_datasource_pushdown_consumes_filter_two_directions(
    spark, registry
):
    """q_source_python_datasource_pushdown: with the pushdown conf on,
    the consumed `bucket = 3` EqualTo must VANISH from the post-scan
    Filter while the unconsumed `cents > 500` stays; with the conf
    off, the bucket predicate must REAPPEAR in the Filter (positive
    control — proves the gate isn't vacuous)."""
    _CONF = "spark.sql.python.filterPushdown.enabled"
    df = registry["q_source_python_datasource_pushdown"].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")
    filt = [ln for ln in plan.splitlines() if "Filter" in ln]
    assert filt, plan
    # the EqualTo is consumed (its `bucket = 3` equality vanishes);
    # Spark's residual isnotnull(bucket) guard legitimately remains.
    # Anchored on the column (ADVICE r8): a bare '= 3' would also match
    # unrelated literals if the rung ever grows another predicate.
    import re as _re

    _bucket_eq = _re.compile(r"bucket#\d+L?\)?\s*=\s*3\b")
    assert all(not _bucket_eq.search(ln) for ln in filt), (
        "bucket = 3 not consumed by pushFilters:\n" + plan
    )
    assert any("> 500" in ln for ln in filt), (
        "unconsumed cents predicate missing from post-scan Filter:\n"
        + plan
    )
    prev = spark.conf.get(_CONF)
    try:
        spark.conf.set(_CONF, "false")
        gen = spark.read.format("alsp_pushdown_range").load()
        off = gen.where("bucket = 3 AND cents > 500")
        plan_off = plan_string(off, "simple")
        assert any(
            _bucket_eq.search(ln)
            for ln in plan_off.splitlines()
            if "Filter" in ln
        ), "positive control failed — bucket filter absent with pushdown off:\n" + plan_off
    finally:
        spark.conf.set(_CONF, prev)


# --- Skew-stress fixture gates for the two range-join rungs (r9 verdict
# item 7). The production fixtures are near-uniform on user_id, so the
# bounded-fanout claims in q_events_dau_wau / q_join_interval docstrings
# were only ever exercised under benign key distributions. This fixture
# gives ONE user 90% of all events (the 100 TB hot-key shape); the gates
# pin (a) plan shape — the day dimension broadcasts, the interval join
# keeps its equi-hash form, no stage degenerates to a single task, no
# partition-less window appears — and (b) exact result parity against
# the same oracle SQL over the skewed data, so a skew-triggered
# wrong-result (dropped hot-key rows, fanout blowup) fails loudly.


def _write_skewed_events(path: str) -> None:
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(7)
    n = 20_000
    heavy = int(n * 0.9)
    user = np.concatenate([
        np.ones(heavy, dtype=np.int64),
        rng.randint(2, 500, size=n - heavy).astype(np.int64),
    ])
    day = rng.randint(0, 40, size=n)
    sec = rng.randint(0, 86_400, size=n)
    base = pd.Timestamp("2024-01-01").value // 1000
    ts = base + (day * 86_400 + sec) * 1_000_000
    types = np.array(["purchase", "error", "click", "view"])[
        rng.randint(0, 4, size=n)
    ]
    df = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pd.to_datetime(ts, unit="us"),
        "user_id": user,
        "event_type": types,
        "value": rng.rand(n),
        "props": ["{}"] * n,
    })
    t = pa.Table.from_pandas(df, preserve_index=False)
    t = t.set_column(
        1, pa.field("ts", pa.timestamp("us")),
        t.column("ts").cast(pa.timestamp("us")),
    )
    pq.write_table(t, f"{path}/events.parquet")


def _skew_parity(spark, spec, skew_dir: str) -> None:
    import duckdb

    from tests.conftest import canon_frame

    sdf = spec.fn(spark, skew_dir).toPandas()
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{skew_dir}/events.parquet')"
        )
        odf = con.execute(spec.oracle).df()
    finally:
        con.close()
    sdf.columns = [c.lower() for c in sdf.columns]
    odf.columns = [c.lower() for c in odf.columns]
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf), f"{spec.name}: {len(sdf)} vs {len(odf)}"
    assert canon_frame(sdf) == canon_frame(odf), (
        f"{spec.name}: value mismatch under the skewed fixture"
    )


def test_skewed_hot_key_range_joins(spark, registry, tmp_path_factory):
    from aws_lambda_stream_processing_spark.plans import global_windows

    skew_dir = str(tmp_path_factory.mktemp("alsp_skew"))
    _write_skewed_events(skew_dir)

    # q_events_dau_wau: the ≤7× day-fanout range join must run as a
    # BROADCAST of the bounded day dimension (never a shuffle keyed on
    # the skewed user), with no single-task exchange and no global
    # window anywhere in the plan.
    dau = registry["q_events_dau_wau"].fn(spark, skew_dir)
    plan = plan_string(dau, "simple")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert not global_windows(dau), global_windows(dau)
    _skew_parity(spark, registry["q_events_dau_wau"], skew_dir)

    # q_join_interval: the equi key must keep the join in the hash
    # family even when 90% of rows share one user — the range part
    # stays a residual, never promotes to a nested-loop/cartesian.
    ji = registry["q_join_interval"].fn(spark, skew_dir)
    plan = plan_string(ji, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan), plan
    assert "SinglePartition" not in plan, plan
    _skew_parity(spark, registry["q_join_interval"], skew_dir)


# --- round-12 prefix rungs: gate every docstring plan claim ----------------
#
# The CERT_PREFIX_R12 rotation fronts the llm/similarity, llm/curation and
# llm/text module tails; 31 of those rungs make an explicit plan claim in
# their docstring (broadcast, one-shuffle, map-side combine, pure-map, ...)
# that had no gate in this file. One table-driven gate per rung — the claim,
# asserted — so a plan regression fails even while answers stay right.
#
# Spec fields: require = operators that must appear; forbid = operators that
# must not; hash_eq = exact count of data-scaled hash exchanges (None = don't
# pin); partial = map-side combine claimed; no_python = "no Python in the
# loop" claimed; codegen = whole-stage-codegen claimed ("*(" span markers in
# simple mode); no_global_window = two-phase/range-parallel design claimed.

_R12_PLAN_CLAIMS = {
    # two-phase global rank over (key, ...) + |key|-row broadcast bases —
    # the hot-domain-safe quota/sample family (no bounded-key window)
    "q_llm_domain_quota": dict(
        require=["BroadcastHashJoin", "Exchange rangepartitioning"],
        forbid=["CartesianProduct"], no_global_window=True),
    "q_llm_token_budget_quota": dict(
        require=["BroadcastHashJoin", "Exchange rangepartitioning"],
        forbid=["CartesianProduct"], no_global_window=True),
    "q_llm_reservoir_sample": dict(
        require=["BroadcastHashJoin", "Exchange rangepartitioning"],
        forbid=["CartesianProduct"], no_global_window=True),
    # exactly-one data-scaled shuffle claims
    "q_llm_length_band_filter": dict(hash_eq=1, no_global_window=True),
    "q_llm_repetition_ratio": dict(hash_eq=1, partial=True),
    "q_llm_dup_trigram_chars": dict(
        require=["BroadcastHashJoin"], hash_eq=1, partial=True),
    # pure map stage: no shuffle at all (ORDER BY is presentation-only →
    # one range exchange allowed), JVM-only codegen-capable string ops
    "q_llm_pii_scrub": dict(hash_eq=0, no_python=True, map_only=True),
    # broadcast-join claims (dim/vocab/scalar side broadcasts; the only
    # data-scaled stages are scans, hash-aggs and co-keyed joins)
    "q_llm_mmr_diversify": dict(
        require=["BroadcastHashJoin", "WindowGroupLimit"],
        forbid=["CartesianProduct"]),
    "q_llm_embed_outliers": dict(
        require=["BroadcastHashJoin"], forbid=["CartesianProduct"],
        partial=True),
    "q_llm_dsir_weights": dict(
        require=["BroadcastHashJoin"], forbid=["CartesianProduct"],
        no_python=True, partial=True),
    "q_llm_cooccurrence": dict(
        require=["BroadcastHashJoin", "TakeOrderedAndProject"],
        forbid=["CartesianProduct"], no_python=True, partial=True),
    "q_llm_bm25": dict(
        require=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin", "ShuffledHashJoin"],
        partial=True),
    "q_llm_keywords": dict(
        require=["BroadcastHashJoin", "WindowGroupLimit"],
        forbid=["CartesianProduct"], partial=True),
    "q_llm_langid_confusion": dict(
        require=["BroadcastHashJoin", "WindowGroupLimit"],
        forbid=["CartesianProduct"], partial=True),
    "q_llm_bigram_lm": dict(
        require=["BroadcastHashJoin", "TakeOrderedAndProject"],
        forbid=["CartesianProduct"], partial=True),
    "q_llm_unigram_xent": dict(
        require=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"], partial=True),
    "q_llm_entropy_rate": dict(
        require=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"], partial=True),
    "q_llm_rare_token_docs": dict(
        require=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"], partial=True),
    "q_llm_char_entropy": dict(
        require=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"], partial=True),
    "q_llm_bigram_pmi": dict(
        require=["BroadcastHashJoin", "TakeOrderedAndProject"],
        forbid=["CartesianProduct", "SortMergeJoin"], partial=True),
    "q_llm_ctfidf": dict(
        require=["BroadcastHashJoin", "WindowGroupLimit"],
        forbid=["CartesianProduct", "SortMergeJoin"], partial=True),
    "q_llm_js_divergence": dict(
        forbid=["CartesianProduct", "SortMergeJoin", "ShuffledHashJoin"],
        partial=True),
    # one-pass / map-side-combine claims (closed-form sketchable shapes)
    "q_llm_linear_probe": dict(hash_eq=0, partial=True, no_python=True),
    "q_llm_corpus_summary": dict(hash_eq=1, partial=True),
    "q_llm_feature_hash": dict(
        forbid=["SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                "CartesianProduct"],
        partial=True),
    "q_llm_tokenizer_fertility": dict(hash_eq=1, partial=True),
    "q_llm_inverted_index": dict(
        forbid=["CartesianProduct"], partial=True, no_python=True),
    "q_llm_shard_balance": dict(hash_eq=1, partial=True, no_python=True),
    "q_llm_mixture_weights": dict(
        forbid=["CartesianProduct", "SortMergeJoin", "ShuffledHashJoin"],
        partial=True),
    "q_llm_weighted_sample": dict(hash_eq=1, partial=True, no_python=True),
    # lazy unrolled-rounds training: per-round 1-row broadcast cross join
    # (BroadcastNestedLoopJoin), never a driver collect, no Python
    "q_llm_bpe_train": dict(
        require=["BroadcastNestedLoopJoin", "TakeOrderedAndProject"],
        forbid=["CartesianProduct", "SortMergeJoin"],
        no_python=True, partial=True),
}

_PYTHON_EVAL_OPS = (
    "BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
    "MapInPandas", "FlatMapGroupsInPandasWithState",
)


@pytest.mark.parametrize("name", sorted(_R12_PLAN_CLAIMS))
def test_r12_prefix_plan_claims(spark, registry, name):
    spec = _R12_PLAN_CLAIMS[name]
    df = registry[name].fn(spark, SF_DIR)
    plan = plan_string(df, "simple")
    for op in spec.get("require", ()):
        assert op in plan, f"{name}: claimed {op} missing from plan"
    for op in spec.get("forbid", ()):
        assert op not in plan, f"{name}: forbidden {op} in plan"
    hash_eq = spec.get("hash_eq")
    if hash_eq is not None:
        got = plan.count("Exchange hashpartitioning")
        assert got == hash_eq, (
            f"{name}: {got} hash exchanges, docstring claims {hash_eq}"
        )
    if spec.get("partial"):
        assert "partial" in plan_string(df).lower(), (
            f"{name}: map-side combine claimed but no partial aggregation"
        )
    if spec.get("no_python"):
        for op in _PYTHON_EVAL_OPS:
            assert op not in plan, f"{name}: Python eval op {op} in plan"
    if spec.get("map_only"):
        # every operator must be a codegen-capable map-stage op (plus the
        # presentation sort) — the strong form of the "pure map stage,
        # whole-stage codegen" claim that survives AQE's lazy plan render
        ops = {
            m.group(1)
            for m in re.finditer(
                r"^[\s+:*-]*([A-Za-z]+)", plan, flags=re.M
            )
        }
        allowed = {
            "AdaptiveSparkPlan", "Sort", "Exchange", "Project", "Filter",
            "ColumnarToRow", "FileScan", "Scan", "Physical", "Plan",
        }
        assert ops <= allowed, f"{name}: non-map operators {ops - allowed}"
    if spec.get("no_global_window"):
        from aws_lambda_stream_processing_spark.plans import global_windows

        assert not global_windows(df), (
            f"{name}: global (empty-partition) window in plan"
        )

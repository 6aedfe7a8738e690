"""Round-12 optimization plan gates (OPTIMIZATION_r12.md).

Each r12 change that restructured an operator's internals gets a shape
gate here, so a regression back to the slow plan fails even while the
oracle stays green (the test_plans.py discipline applied to the r12
wins):

  * width-pinned Python stages — AQE's byte-based partition coalescing
    serialized grouped-map / block-GEMM / O(frame)-window stages; the
    explicit numPartitions repartition must stay in the plan
    (REPARTITION_BY_NUM on the stage's hash partitioning);
  * q_graph_pagerank's per-iteration restructure (deg joined to the
    node-sized rank table first, degree table cached) — gated by an
    Exchange budget (r11 plan: 15; r12: 8);
  * q_assoc_rules' single corpus shuffle (baskets built once, cached);
  * q_llm_jaccard_spectrum's parallel all-pairs stage (broadcast NLJ,
    never a 1x1-partition CartesianProduct);
  * the shared partsupp memo for the TPC-H stand-in consumers.
"""

from __future__ import annotations

import re

from aws_lambda_stream_processing_spark.plans import has_operator, plan_string

from tests.conftest import SF_DIR


def _n_exchanges(plan: str) -> int:
    # formatted-plan operator lines only, e.g. "(12) Exchange";
    # excludes BroadcastExchange (those are the cheap dim sends)
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def test_grouped_map_python_stage_is_width_pinned(spark, registry):
    """q_udf_grouped_map: the exchange feeding FlatMapGroupsInPandas must
    be the explicit width-pinned repartition (exempt from AQE
    coalescing), not a coalescible ENSURE_REQUIREMENTS exchange — and
    the pin must not add a second exchange."""
    df = registry["q_udf_grouped_map"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert "FlatMapGroupsInPandas" in plan, plan[:1500]
    assert "REPARTITION_BY_NUM" in plan, plan[:1500]
    assert plan.count("hashpartitioning(user_id") == 1, plan[:1500]


def test_block_gemm_stages_are_width_pinned(spark, registry):
    """The block-GEMM Python stages (cosine/neardup/zscore) keep their
    width-pinned exchange."""
    for name in (
        "q_llm_cosine_topk",
        "q_llm_embed_neardup",
        "q_ts_zscore_similarity",
    ):
        plan = plan_string(registry[name].fn(spark, SF_DIR))
        assert "REPARTITION_BY_NUM" in plan, (name, plan[:1500])


def test_pagerank_iteration_exchange_budget(spark, registry):
    """q_graph_pagerank: deg attaches to the node-sized rank table before
    the edge relation (one edge-sized broadcast join per iteration, not
    two) and deg is served from cache — r11's plan carried 15 Exchange
    nodes, the r12 restructure 8. Budget with headroom: 11."""
    df = registry["q_graph_pagerank"].fn(spark, SF_DIR)
    plan = plan_string(df)
    n = _n_exchanges(plan)
    assert n <= 11, f"pagerank plan regressed to {n} exchanges"
    assert not has_operator(df, "SortMergeJoin"), plan[:1500]


def test_assoc_rules_single_corpus_shuffle(spark, registry):
    """q_assoc_rules: the per-order basket relation is built ONCE (one
    corpus-wide exchange on l_orderkey) and serves n_orders / item
    counts / pairs from cache — the r11 plan re-executed a corpus
    distinct three times (8 Exchange nodes). Budget with headroom: 6."""
    df = registry["q_assoc_rules"].fn(spark, SF_DIR)
    plan = plan_string(df)
    n = _n_exchanges(plan)
    assert n <= 6, f"assoc_rules plan regressed to {n} exchanges"


def test_jaccard_spectrum_all_pairs_is_parallel_broadcast(spark, registry):
    """q_llm_jaccard_spectrum: the n² popcount stage must stream a
    width-pinned side against a broadcast mask table — never the
    1x1-partition CartesianProduct the r11 plan degenerated to."""
    df = registry["q_llm_jaccard_spectrum"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    assert "REPARTITION_BY_NUM" in plan, plan[:2000]


def test_partsupp_memo_is_shared_across_tpch_consumers(spark, registry):
    """q_sql_tpch_q11 then q_sql_tpch_q9: both must read the derived
    partsupp from the family memo (InMemoryTableScan in the q9 plan;
    one memo entry), so the corpus-wide (partkey, suppkey) agg builds
    once per family run instead of 6 times across q2/q9/q11/q20."""
    from aws_lambda_stream_processing_spark.operators.sqlfront import (
        _PARTSUPP_MEMO,
    )

    df11 = registry["q_sql_tpch_q11"].fn(spark, SF_DIR)
    assert any(k[1] == SF_DIR for k in _PARTSUPP_MEMO)
    plan11 = plan_string(df11)
    assert "InMemoryTableScan" in plan11, plan11[:1500]
    df9 = registry["q_sql_tpch_q9"].fn(spark, SF_DIR)
    plan9 = plan_string(df9)
    assert "InMemoryTableScan" in plan9, plan9[:1500]


def test_degree_memo_shared_across_graph_family(spark, registry):
    """_degrees: the (node, degree) relation six graph rungs select
    probes from must be served from the family memo — one build per
    (application, sf_dir), not a per-query adjacency-sized shuffle."""
    from aws_lambda_stream_processing_spark.operators import graphs

    d1 = graphs._degrees(spark, SF_DIR)
    d2 = graphs._degrees(spark, SF_DIR)
    assert d1 is d2, "second call must hit the memo"
    assert d1.is_cached, "memoized degree table must be cached"
    assert set(d1.columns) == {"node", "degree"}


def test_linkpred_never_broadcasts_the_adjacency(spark, registry):
    """The 2-hop trio must broadcast the bounded probe-neighbor side and
    the probe-filtered link set — never the data-scaled adjacency. The
    r11 plans carried two graph-sized BroadcastExchanges per query
    (auto-broadcast under the 64 MB threshold); the r12 form keeps
    every broadcast input probe-bounded, visible in the plan as
    LeftAnti build sides fed by a probes join, and as the absence of a
    broadcast whose subtree is the raw bidirectional union (a Union
    directly under BroadcastExchange)."""
    for name in (
        "q_graph_common_neighbors",
        "q_graph_adamic_adar",
        "q_graph_jaccard_linkpred",
    ):
        df = registry[name].fn(spark, SF_DIR)
        plan = plan_string(df)
        # Walk the formatted plan's TREE section (r12 ADVICE: the old
        # fixed-width substring window was brittle to explain-format
        # drift and could miss an adjacency broadcast one line deeper).
        # Structural rule: a BroadcastExchange subtree that contains
        # the bidirectional adjacency Union must also contain the probe
        # Limit — i.e. only PROBE-BOUNDED slices of the adjacency may
        # broadcast, never the raw data-scaled union.
        tree = plan.split("\n\n", 1)[0]
        nodes = []  # (indent, opname)
        for ln in tree.splitlines():
            m = re.search(r"\(\d+\) ([A-Za-z]+)", ln)
            if m:
                nodes.append((m.start(), m.group(1)))
        for i, (depth, op) in enumerate(nodes):
            if op != "BroadcastExchange":
                continue
            subtree = []
            for d2, op2 in nodes[i + 1:]:
                if d2 <= depth:
                    break
                subtree.append(op2)
            if any(o == "Union" for o in subtree):
                assert any("Limit" in o for o in subtree), (
                    name,
                    subtree,
                )

"""Round-13 optimization plan gates (OPTIMIZATION_r13.md).

Shape gates for the r13 restructures, so a regression back to the slow
plan fails even while the oracle stays green:

  * q_graph_kcore — per-iteration stats derive from the (checkpointed)
    degree relation instead of a second count_distinct shuffle over the
    edge relation: Exchange budget (r12 plan: 16; r13: 8);
  * q_llm_bigram_growth — bigrams zip adjacent array elements (no
    token-grain lag window) and rank + both cumsums share ONE range
    exchange via two_phase_rank_cumsums: WindowExec budget (r12 plan:
    44 window nodes across the three chained passes; r13: 2).

The size-derived dprefix range width is gated in tests/test_widths.py.
"""

from __future__ import annotations

import re

from aws_lambda_stream_processing_spark.plans import plan_string

from tests.conftest import SF_DIR


def _n_exchanges(plan: str) -> int:
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def test_kcore_stats_reuse_the_degree_relation(spark, registry):
    """q_graph_kcore: 4 peels must plan ~one node-keyed shuffle each
    (degree agg), not two (degree agg + count_distinct over edges).
    r12 formatted plan carried 16 Exchange nodes, r13 carries 8."""
    df = registry["q_graph_kcore"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert _n_exchanges(plan) <= 10, _n_exchanges(plan)


def test_bigram_growth_single_range_pass(spark, registry):
    """q_llm_bigram_growth: no token-grain lag window, and the three
    two-phase prefix passes are fused into one (2 WindowExec nodes —
    the fused local row_number+cumsums pair — vs 44 in the chained
    r12 plan)."""
    df = registry["q_llm_bigram_growth"].fn(spark, SF_DIR)
    plan = plan_string(df)
    n_windows = len(re.findall(r"\(\d+\) Window\b", plan))
    assert n_windows <= 4, (n_windows, plan[:1500])
    assert "lag(" not in plan, plan[:1500]

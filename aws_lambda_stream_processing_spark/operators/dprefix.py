"""Distributed order statistics: two-phase global prefix sums / ranks.

The scale problem: `Window.orderBy(...)` with no `partitionBy` funnels the
whole relation through ONE task — fine at sf0.01, fatal at 100 TB. The
pattern proven by `q_llm_seq_pack` (llm/curation.py) replaces it:

  phase 1  range-partition the relation on the sort key, compute each
           partition's LOCAL window (row_number / running sum) plus a
           one-row-per-partition total;
  phase 2  turn the (tiny, #partitions-row) totals into exclusive running
           offsets and broadcast them back; global = local + offset.

Every data-scaled stage stays parallel. Phase 2 here uses a triangular
broadcast self-join over the #partitions-row totals instead of a global
window, so plans built from these helpers contain ZERO partition-less
WindowExec nodes (tests/test_plans.py gates this for the five consumers:
q_rfm_segmentation, q_pareto_abc, q_agg_gini, q_llm_perplexity_band,
q_agg_winsorize's histogram rung).

Correctness note: results are partitioning-invariant — RangePartitioner
boundaries may move between runs, but equal sort keys land in one
partition and local rank + exclusive offset reconstructs the same global
rank wherever the boundaries fall. Callers that need a total order must
include a tie-break column in `order` (the registered queries all do).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aws_lambda_stream_processing_spark.registry import tracked_local_checkpoint
from aws_lambda_stream_processing_spark.session import width

OrderSpec = list[tuple[str, bool]]  # (column name, ascending)


def _sort_exprs(order: OrderSpec) -> list[Column]:
    return [F.col(c).asc() if asc else F.col(c).desc() for c, asc in order]


def _offsets(parts: DataFrame, value: Column) -> DataFrame:
    """Per-partition totals -> exclusive running offsets (__pid, __off).

    Triangular broadcast join over the #partitions-row totals: O(P^2)
    pairs for constant P, no WindowExec, no single-task stage over
    anything data-scaled.
    """
    totals = parts.groupBy("__pid").agg(F.sum(value).alias("__pt"))
    lower = totals.select(
        F.col("__pid").alias("__lpid"), F.col("__pt").alias("__lpt")
    )
    return (
        totals.join(
            F.broadcast(lower), F.col("__lpid") < F.col("__pid"), "left"
        )
        .groupBy("__pid")
        .agg(F.coalesce(F.sum("__lpt"), F.lit(0)).alias("__off"))
    )


def ranged(df: DataFrame, order: OrderSpec) -> DataFrame:
    """Range-partition by the sort key and stamp the partition id.

    Width is the session's `range` width over the optimizer's
    sizeInBytes ESTIMATE (no job): grids/rollups stay at the floor,
    corpus-scaled inputs widen instead of funnelling 100 TB through a
    fixed count.

    After `repartitionByRange` every row in partition p sorts before every
    row in partition p+1 (AQE never re-splits an explicit numPartitions
    shuffle), so __pid order IS key order.

    CACHED, and this is load-bearing for correctness, not a cache
    hint: every helper below forks this frame into a local-window
    branch and an offsets branch, and RangePartitioner SAMPLES its
    boundaries with a per-RDD-instance seed. When the two branches
    execute the exchange separately — which AQE's ReusedExchange
    usually prevents but demonstrably does NOT when the scan below is
    a cached InMemoryRelation (the ALSP_CACHE_TABLES=1 driver-sweep
    posture; found r10 via q_scale_range_boundaries: a 15k-row grid
    produced non-monotone cumsums, while sub-sample-size relations
    stay correct because the sampler degenerates to reading every
    row) — each branch draws DIFFERENT boundaries and local rank +
    foreign offset reconstructs garbage. The cache pins ONE RDD
    instance, so the shuffle plans (and samples) exactly once and both
    branches read the same frozen partitioning. cache(), not
    localCheckpoint: a checkpoint truncates lineage into a LogicalRDD
    and would blind every dprefix plan gate (global-window and
    range-exchange assertions read the subtree that the
    InMemoryRelation keeps visible). Cost: one bounded materialization
    of the ranked relation (the relations ranked here are
    grids/rollups, not raw corpora); blocks are janitor-released when
    the next query builds.
    """
    from aws_lambda_stream_processing_spark.registry import track_cache

    try:
        est = int(
            df._jdf.queryExecution()  # noqa: SLF001
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
    except Exception:  # noqa: BLE001 - estimate is best-effort
        est = None
    out = df.repartitionByRange(
        width(df.sparkSession, "range", est), *_sort_exprs(order)
    ).withColumn(
        "__pid", F.spark_partition_id()
    ).cache()
    track_cache(out.unpersist)
    return out


def two_phase_row_number(
    df: DataFrame,
    order: OrderSpec,
    rn: str = "rn",
    total: str | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Global 1-based row_number over `order` without a global sort task.

    Optionally adds the relation's total row count as column `total`
    (derived from the same per-partition counts — no extra pass).

    `materialize=True` lazily localCheckpoints the INPUT first: the
    offsets branch re-executes everything below the fork (range-shuffle
    stage reuse does not survive the broadcast boundary in practice), so
    when `df` is itself an expensive pipeline — q_llm_perplexity_band's
    corpus-trained LM scoring, q_rfm_segmentation's chained ranks — one
    bounded materialization beats recomputing the chain per branch. The
    checkpoint blocks are janitor-released when the next query builds
    (registry.tracked_local_checkpoint — r7: GC-timed release made
    "zero persistent RDDs after a foreign build" flaky)."""
    if materialize:
        df = tracked_local_checkpoint(df, eager=False)
    parts = ranged(df, order)
    w_local = Window.partitionBy("__pid").orderBy(*_sort_exprs(order))
    local = parts.withColumn("__lrn", F.row_number().over(w_local))
    offs = _offsets(parts, F.lit(1))
    out = (
        local.join(F.broadcast(offs), "__pid")
        .withColumn(rn, (F.col("__lrn") + F.col("__off")).cast("long"))
    )
    if total is not None:
        tot = parts.groupBy().agg(F.count("*").alias(total))
        out = out.crossJoin(F.broadcast(tot))
    return out.drop("__pid", "__lrn", "__off")


def two_phase_cumsum(
    df: DataFrame,
    order: OrderSpec,
    value_col: str,
    out: str = "cum",
    inclusive: bool = True,
    total: str | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Global running sum of `value_col` in `order` (inclusive or
    exclusive frame), distributed exactly like two_phase_row_number —
    including its `materialize` input-checkpoint option."""
    if materialize:
        df = tracked_local_checkpoint(df, eager=False)
    parts = ranged(df, order)
    end = 0 if inclusive else -1
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*_sort_exprs(order))
        .rowsBetween(Window.unboundedPreceding, end)
    )
    local = parts.withColumn(
        "__lc", F.coalesce(F.sum(value_col).over(w_local), F.lit(0))
    )
    offs = _offsets(parts, F.col(value_col))
    out_df = (
        local.join(F.broadcast(offs), "__pid")
        .withColumn(out, F.col("__lc") + F.col("__off"))
    )
    if total is not None:
        tot = parts.groupBy().agg(F.sum(value_col).alias(total))
        out_df = out_df.crossJoin(F.broadcast(tot))
    return out_df.drop("__pid", "__lc", "__off")


def two_phase_rank_cumsums(
    df: DataFrame,
    order: OrderSpec,
    values: list[tuple[str, str]],
    rn: str | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Global row_number plus any number of INCLUSIVE running sums over
    the SAME order, from ONE range shuffle.

    `values` is [(value_col, out_col), ...]. Chaining
    two_phase_row_number + N two_phase_cumsum calls pays N+1 range
    exchanges and N+1 load-bearing caches over the same relation in the
    same order (r13, q_llm_bigram_growth: 3 chained passes); every
    measure shares the one frozen partitioning here, and the triangular
    offsets join carries all the per-partition totals at once. Results
    are identical to the chained form (same local window frames, same
    exclusive offsets)."""
    if materialize:
        df = tracked_local_checkpoint(df, eager=False)
    parts = ranged(df, order)
    w_rn = Window.partitionBy("__pid").orderBy(*_sort_exprs(order))
    w_sum = w_rn.rowsBetween(Window.unboundedPreceding, 0)
    local = parts
    if rn is not None:
        local = local.withColumn("__lrn", F.row_number().over(w_rn))
    for i, (col, _) in enumerate(values):
        local = local.withColumn(
            f"__lc{i}", F.coalesce(F.sum(col).over(w_sum), F.lit(0))
        )
    aggs = [F.count("*").alias("__tr")] + [
        F.sum(col).alias(f"__t{i}") for i, (col, _) in enumerate(values)
    ]
    totals = parts.groupBy("__pid").agg(*aggs)
    tot_cols = ["__tr"] + [f"__t{i}" for i in range(len(values))]
    lower = totals.select(
        F.col("__pid").alias("__lpid"),
        *[F.col(c).alias(f"__l{c}") for c in tot_cols],
    )
    offs = (
        totals.join(
            F.broadcast(lower), F.col("__lpid") < F.col("__pid"), "left"
        )
        .groupBy("__pid")
        .agg(
            *[
                F.coalesce(F.sum(f"__l{c}"), F.lit(0)).alias(f"__o{c}")
                for c in tot_cols
            ]
        )
    )
    out = local.join(F.broadcast(offs), "__pid")
    if rn is not None:
        out = out.withColumn(
            rn, (F.col("__lrn") + F.col("__o__tr")).cast("long")
        )
    for i, (_, out_col) in enumerate(values):
        out = out.withColumn(
            out_col, F.col(f"__lc{i}") + F.col(f"__o__t{i}")
        )
    drop = (
        ["__pid", "__lrn"]
        + [f"__lc{i}" for i in range(len(values))]
        + [f"__o{c}" for c in tot_cols]
    )
    return out.drop(*drop)


def two_phase_cummax(
    df: DataFrame,
    order: OrderSpec,
    value_col: str,
    out: str = "cummax",
) -> DataFrame:
    """Global EXCLUSIVE running max of `value_col` in `order` (max over
    all strictly-earlier rows; NULL on the global first row), distributed
    like two_phase_cumsum: per-partition local window + a triangular
    broadcast prefix-max over the #partitions-row per-partition maxima.
    The skyline operator (q_sort_skyline) is the consumer: a point is
    Pareto-dominated iff its y is <= the running max of y over all
    better-x points."""
    parts = ranged(df, order)
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*_sort_exprs(order))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = parts.withColumn("__lm", F.max(value_col).over(w_local))
    totals = parts.groupBy("__pid").agg(F.max(value_col).alias("__pt"))
    lower = totals.select(
        F.col("__pid").alias("__lpid"), F.col("__pt").alias("__lpt")
    )
    offs = (
        totals.join(
            F.broadcast(lower), F.col("__lpid") < F.col("__pid"), "left"
        )
        .groupBy("__pid")
        .agg(F.max("__lpt").alias("__om"))
    )
    return (
        local.join(F.broadcast(offs), "__pid")
        .withColumn(out, F.greatest("__lm", "__om"))
        .drop("__pid", "__lm", "__om")
    )


def ntile_from_rank(rn: str, n: str, k: int) -> Column:
    """SQL ntile(k) reconstructed from a global rank column `rn` and a
    total-count column `n` (both int64, referenced by NAME so the whole
    expression stays in exact integer `div` arithmetic — float division
    would drift past 2^53).

    Standard semantics: the first n%k tiles hold ceil(n/k) rows, the rest
    floor(n/k). The else-branch divisor is guarded with greatest(q,1) —
    unreachable when q=0 (then every rank satisfies rn <= cut = n), but
    the speculative division must still be well-defined."""
    q = f"({n} div {k})"
    rem = f"({n} % {k})"
    cut = f"({rem} * ({q} + 1))"
    return F.expr(
        f"cast(case when {rn} <= {cut} "
        f"then ({rn} + {q}) div ({q} + 1) "
        f"else {rem} + ({rn} - {cut} + greatest({q}, 1) - 1) "
        f"div greatest({q}, 1) end as int)"
    )

"""Streaming operators (SURVEY.md §2.I) — the Lambda-replacement surface.

Every query here executes through a REAL Structured Streaming pipeline
(readStream → stateful transformation → availableNow trigger → sink) and is
verified against a *batch* DuckDB oracle over the same rows — the
batch-parity strategy of SURVEY §2.I. Kinesis/Lambda semantics map as:

  shard ordering        → file order via mtime (split_events_dir)
  at-least-once retry   → duplicated input files + dropDuplicates state
  handler(batch)        → foreachBatch(fn) (q_stream_sink_foreachbatch, §2.A)
  DynamoDB counters     → update/complete-mode aggregations (running_state)
  late events           → watermark + window eviction (q_stream_watermark)

Scale posture: all operators are stateful streaming aggs whose state is
keyed and incremental; on a cluster you run them with the RocksDB state
store provider and watermark-bounded state. Nothing here holds
unbounded driver-side state.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_lambda_stream_processing_spark.parity import DEC
from aws_lambda_stream_processing_spark.registry import (
    query,
    tracked_local_checkpoint,
)
from aws_lambda_stream_processing_spark.session import conf_scope, shuffle_scope
from aws_lambda_stream_processing_spark.streaming.replay import (
    _scratch,
    drain,
    events_stream,
    run_foreach_batch,
    run_to_memory,
    split_events_dir,
)
from aws_lambda_stream_processing_spark.tables import load_table

# Written by split_events_dir: ts is already µs TIMESTAMP in these files.
SPLIT_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _stream_split(
    spark: SparkSession, sf_dir: str, predicates: list[str]
) -> tuple[DataFrame, str]:
    """Stream the events table as len(predicates) ordered micro-batches."""
    d = split_events_dir(spark, sf_dir, predicates)
    stream = (
        spark.readStream.schema(SPLIT_DDL)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    return stream, d


@query(
    "q_stream_tumbling",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start,
           event_type,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1, 2
    """,
    category="2.I",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window × event_type counts — the canonical
    Kinesis+Lambda windowed aggregation, as an incremental streaming agg
    (epoch-aligned windows ≡ date_trunc in the batch oracle)."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 day"), "event_type")
        .count()
    )
    out = agg.select(
        F.col("window.start").alias("window_start"),
        "event_type",
        F.col("count").alias("cnt"),
    )
    return run_to_memory(out, output_mode="complete")


@query(
    "q_stream_sliding",
    oracle="""
    WITH offsets AS (SELECT unnest([0, 1, 2, 3]) AS i),
    ex AS (
      SELECT make_timestamp((epoch_us(ts) // 21600000000 - o.i) * 21600000000)
               AS window_start,
             value
      FROM events CROSS JOIN offsets o
    )
    SELECT window_start,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
           COUNT(*) AS cnt
    FROM ex
    GROUP BY window_start
    """,
    category="2.I",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 day length / 6 h step): each event lands in exactly
    4 overlapping epoch-aligned windows. The oracle expands the same 4
    offsets arithmetically (21600000000 µs = 6 h)."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 day", "6 hours"))
        .agg(
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
            F.count("*").alias("cnt"),
        )
    )
    out = agg.select(
        F.col("window.start").alias("window_start"), "sum_value", "cnt"
    )
    return run_to_memory(out, output_mode="complete")


@query(
    "q_stream_session",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      IS NULL
                    OR ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM g
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM s
    GROUP BY user_id, sid
    """,
    category="2.I",
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user via the native session_window
    operator; the oracle is the gaps-and-islands rewrite with matching gap
    semantics: a new session starts iff ts >= previous ts + gap (Spark's
    window end = last event + gap, exclusive). SURVEY §7.1 hard case."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )
    return run_to_memory(out, output_mode="complete")


# batch-0 predicate for the watermark scenario: first 14 days EXCEPT day 2;
# day-2 rows are held back into batch 1 where they are > 1 h late.
_B0_PRED = (
    "ts < TIMESTAMP '2024-01-15 00:00:00' AND "
    "(ts < TIMESTAMP '2024-01-02 00:00:00' OR "
    " ts >= TIMESTAMP '2024-01-03 00:00:00')"
)


@query(
    "q_stream_watermark",
    oracle=f"""
    WITH b0 AS (SELECT * FROM events WHERE {_B0_PRED}),
    wm0 AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM b0),
    wmf AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
    surv AS (
      SELECT * FROM b0
      UNION ALL
      SELECT e.* FROM events e CROSS JOIN wm0
      WHERE NOT ({_B0_PRED})
        AND date_trunc('day', e.ts) + INTERVAL 1 DAY > wm0.w
    )
    SELECT window_start, cnt
    FROM (SELECT date_trunc('day', ts) AS window_start, COUNT(*) AS cnt
          FROM surv GROUP BY 1) wins
    CROSS JOIN wmf
    WHERE window_start + INTERVAL 1 DAY <= wmf.w
    """,
    category="2.I",
)
def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics end-to-end (SURVEY §7.2), across a restart.

    Two streaming *runs* share one checkpoint (within a single availableNow
    run Spark applies the watermark only at the end, so late rows inside one
    run aren't dropped — verified empirically). Run 1 drains days 1-14
    (day 2 held back) and commits watermark = max(ts)-1h ≈ Jan 14 to the
    checkpoint. Run 2 restarts from that checkpoint and delivers the rest
    *plus* the held-back day-2 rows — now >1 h late, dropped by the restored
    watermark. Append mode emits each finalized window exactly once across
    both runs; the union of both runs' sinks = windows with end <= final
    watermark, minus the dropped day-2 rows. The oracle reproduces drop +
    emit arithmetically (all boundaries have >1 h margin, so <= vs <
    strictness cannot flip any window).
    """
    d = split_events_dir(spark, sf_dir, [_B0_PRED])
    ckpt = _scratch("alsp_wm_ckpt_")
    # Finalized windows land in a parquet sink keyed by batch_id (idempotent
    # under replay), NOT a driver-side list — round-1 note: collect()-into-a-
    # list in a handler is the anti-pattern even when output is bounded.
    sink = _scratch("alsp_wm_sink_")

    def plan() -> DataFrame:
        stream = (
            spark.readStream.schema(SPLIT_DDL)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day"))
            .count()
        )
        return agg.select(
            F.col("window.start").alias("window_start"),
            F.col("count").alias("cnt"),
        )

    def handler(batch_df: DataFrame, batch_id: int) -> None:
        # overwrite keyed by batch_id → exactly-once under retries; the
        # shared checkpoint keeps batch ids monotonic across both runs
        batch_df.write.mode("overwrite").parquet(f"{sink}/batch={batch_id}")

    try:
        # run 1: days 1-14 minus day 2 → commits watermark ≈ Jan 14 - 1 h
        run_foreach_batch(plan(), handler, checkpoint=ckpt)
        # deliver the remaining days + the now-late day-2 stragglers
        extra = split_events_dir(spark, sf_dir, [f"NOT ({_B0_PRED})"])
        shutil.move(f"{extra}/batch_000.parquet", f"{d}/batch_001.parquet")
        shutil.rmtree(extra, ignore_errors=True)
        # run 2: restart from checkpoint — restored watermark drops day 2
        run_foreach_batch(plan(), handler, checkpoint=ckpt)
        result = spark.read.parquet(sink).select(
            F.col("window_start").cast("timestamp").alias("window_start"),
            F.col("cnt").cast("long").alias("cnt"),
        )
        # eager localCheckpoint: outlives the finally-rmtree without a
        # driver roundtrip (the q_stream_scd2_foreachbatch r7 pattern)
        return tracked_local_checkpoint(result)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


@query(
    "q_stream_dedup",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
    category="2.I",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once from at-least-once: the whole events table is delivered
    TWICE (two identical micro-batches — a Kinesis batch retry), and
    dropDuplicates on event_id keyed state suppresses the redelivery across
    batches. Output = exactly the original table.

    Scale path: dropDuplicatesWithinWatermark bounds the dedup state to the
    retry horizon instead of all-time."""
    stream, d = _stream_split(spark, sf_dir, ["true", "true"])
    try:
        deduped = stream.dropDuplicates(["event_id"]).select(
            "event_id", "user_id", "event_type", "value"
        )
        return run_to_memory(deduped, output_mode="append")
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "q_stream_running_state",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY user_id
    """,
    category="2.I",
)
def q_stream_running_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running aggregate state — the DynamoDB-counter pattern.
    Delivered as two micro-batches so the state genuinely carries across
    batch boundaries; complete mode emits the final counter values."""
    stream, d = _stream_split(
        spark,
        sf_dir,
        [
            "ts < TIMESTAMP '2024-01-15 00:00:00'",
            "ts >= TIMESTAMP '2024-01-15 00:00:00'",
        ],
    )
    try:
        agg = stream.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
            F.max("value").alias("max_value"),
        )
        return run_to_memory(agg, output_mode="complete")
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "q_stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    category="2.I",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static dimension — the Lambda per-record enrichment lookup,
    as a stateless broadcast-hash join per micro-batch (the static side is
    re-broadcast per batch; at scale pin it with .cache())."""
    customer = load_table(spark, sf_dir, "customer")
    enriched = events_stream(spark, sf_dir).join(
        F.broadcast(customer),
        F.col("user_id") == F.col("c_custkey"),
        "inner",
    )
    out = enriched.select("event_id", "user_id", "c_name", "c_mktsegment")
    return run_to_memory(out, output_mode="append")


@query(
    "q_stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts < c.ts + INTERVAL 30 MINUTE
    """,
    category="2.I",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (click followed by purchase within 30 min,
    same user — the alarm-verification correlation pattern). Watermarks on
    both sides + the time-bound condition let Spark evict join state; the
    batch oracle is the identical interval self-join."""
    clicks = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    )
    out = joined.select("click_id", "purchase_id", "user_id")
    return run_to_memory(out, output_mode="append")


@query(
    "q_stream_output_modes",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt, 'complete' AS mode
    FROM events GROUP BY event_type
    UNION ALL
    SELECT event_type, COUNT(*) AS cnt, 'update' AS mode
    FROM events GROUP BY event_type
    """,
    category="2.I",
)
def q_stream_output_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-mode semantics on one aggregation over two micro-batches:
    complete re-emits the full result each trigger; update emits only
    changed keys per trigger. The returned frame keeps the final value per
    (mode, key): streaming counts only grow, so max-over-emissions equals
    the total count in BOTH modes — deterministic, hence the exact oracle
    (promoted from weak in round 2; mode-dependent row multiplicity is
    still exercised inside the memory sinks)."""
    preds = [
        "ts < TIMESTAMP '2024-01-15 00:00:00'",
        "ts >= TIMESTAMP '2024-01-15 00:00:00'",
    ]
    results = []
    for mode in ("complete", "update"):
        stream, d = _stream_split(spark, sf_dir, preds)
        try:
            agg = stream.groupBy("event_type").count()
            mem = run_to_memory(agg, output_mode=mode)
            # update mode appends each trigger's changed rows to the memory
            # sink; keep the final value per key for a stable summary.
            final = (
                mem.groupBy("event_type")
                .agg(F.max("count").alias("cnt"))
                .withColumn("mode", F.lit(mode))
            )
            results.append(final)
        finally:
            shutil.rmtree(d, ignore_errors=True)
    return results[0].unionByName(results[1])


@query(
    "q_stream_custom_state",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, value,
             lag(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS pv
      FROM events
    ),
    b1 AS (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CASE WHEN pv IS NOT NULL AND value > pv
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_increases
      FROM seq WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY user_id
    ),
    total AS (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CASE WHEN pv IS NOT NULL AND value > pv
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_increases
      FROM seq GROUP BY user_id
    )
    SELECT user_id, 1 AS emit, n_events, n_increases FROM b1
    UNION ALL
    SELECT user_id, 2 AS emit, n_events, n_increases FROM total
    """,
    category="2.I",
)
def q_stream_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming via applyInPandasWithState — the custom
    operator escape hatch when windowed/agg state can't express the logic.
    Here the state is ORDER-DEPENDENT (count of value increases over the
    per-user event sequence), which no distributive groupBy aggregate
    computes: the handler carries (last_value, counters) across micro-batch
    boundaries in the GroupState store and emits a running snapshot per
    batch. Two ordered micro-batches prove the state genuinely persists;
    the oracle reproduces each emission as a prefix aggregate. At 100 TB
    this runs on the RocksDB state store, keyed state only, no growth
    beyond one tuple per user."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def count_increases(key, pdfs, state):
        if state.exists:
            last, n, inc, emits = state.get
        else:
            last, n, inc, emits = None, 0, 0, 0
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for v in rows["value"]:
            if last is not None and v > last:
                inc += 1
            last = float(v)
            n += 1
        emits += 1
        state.update((last, n, inc, emits))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "emit": [emits],
                "n_events": [n],
                "n_increases": [inc],
            }
        )

    stream, d = _stream_split(
        spark,
        sf_dir,
        [
            "ts < TIMESTAMP '2024-01-15 00:00:00'",
            "ts >= TIMESTAMP '2024-01-15 00:00:00'",
        ],
    )
    try:
        out = stream.groupBy("user_id").applyInPandasWithState(
            count_increases,
            outputStructType=(
                "user_id BIGINT, emit INT, n_events BIGINT, n_increases BIGINT"
            ),
            stateStructType=(
                "last_value DOUBLE, n BIGINT, inc BIGINT, emits BIGINT"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        # Python-stateful stage: per-key pandas kernels dominate, so run
        # at the wider python_stream width instead of the JVM-state one
        return run_to_memory(
            out,
            output_mode="append",
            width_kind="python_stream",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "q_stream_stream_left_join",
    oracle="""
    WITH c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
          FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(c_ts) FROM c),
                        (SELECT max(p_ts) FROM p))
                  - INTERVAL 1 HOUR AS w)
    SELECT c.click_id, p.purchase_id, c.user_id
    FROM c JOIN p ON c.user_id = p.p_user
       AND p.p_ts >= c.c_ts AND p.p_ts < c.c_ts + INTERVAL 30 MINUTE
    UNION ALL
    SELECT c.click_id, NULL::BIGINT AS purchase_id, c.user_id
    FROM c CROSS JOIN wm
    WHERE NOT EXISTS (SELECT 1 FROM p WHERE c.user_id = p.p_user
                      AND p.p_ts >= c.c_ts
                      AND p.p_ts < c.c_ts + INTERVAL 30 MINUTE)
      AND c.c_ts + INTERVAL 30 MINUTE < wm.w
    """,
    category="2.I",
)
def q_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the hard half of stream correlation:
    a null-extended result can only be emitted once the watermark proves no
    matching right row can still arrive (state eviction, not row arrival,
    drives output). availableNow finalizes the watermark after the data
    batch and runs the eviction flush before stopping, so unmatched clicks
    whose full match-window [c_ts, c_ts+30min) has passed under the final
    watermark are emitted with NULL purchase_id; younger clicks stay in
    state and are (correctly) never emitted by the bounded replay. The
    oracle reproduces exactly that: inner matches ∪ match-less clicks with
    c_ts + 30min < final watermark, where the final watermark is
    min(max c_ts, max p_ts) − 1 h (Spark's multi-watermark min policy).
    Boundary note: eviction strictness at exact equality is untestable with
    continuous timestamps (declared `<`; no corpus row sits on the
    boundary). At 100 TB state is bounded by the watermark horizon on both
    sides, exactly as the inner variant."""
    stream, d = _stream_split(spark, sf_dir, ["true"])
    try:
        clicks = (
            stream.where(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            stream.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
            "left_outer",
        )
        out = joined.select("click_id", "purchase_id", "user_id")
        return run_to_memory(out, output_mode="append")
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "q_stream_stream_full_join",
    oracle="""
    WITH c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
          FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(c_ts) FROM c),
                        (SELECT max(p_ts) FROM p))
                  - INTERVAL 1 HOUR AS w)
    SELECT c.click_id, p.purchase_id, c.user_id
    FROM c JOIN p ON c.user_id = p.p_user
       AND p.p_ts >= c.c_ts AND p.p_ts < c.c_ts + INTERVAL 30 MINUTE
    UNION ALL
    SELECT c.click_id, NULL::BIGINT AS purchase_id, c.user_id
    FROM c CROSS JOIN wm
    WHERE NOT EXISTS (SELECT 1 FROM p WHERE c.user_id = p.p_user
                      AND p.p_ts >= c.c_ts
                      AND p.p_ts < c.c_ts + INTERVAL 30 MINUTE)
      AND c.c_ts + INTERVAL 30 MINUTE < wm.w
    UNION ALL
    SELECT NULL::BIGINT AS click_id, p.purchase_id, p.p_user AS user_id
    FROM p CROSS JOIN wm
    WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.p_user
                      AND p.p_ts >= c.c_ts
                      AND p.p_ts < c.c_ts + INTERVAL 30 MINUTE)
      AND p.p_ts < wm.w
    """,
    category="2.I",
)
def q_stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join — the missing half of the
    correlation family next to q_stream_stream_left_join: watermark-
    driven null emission on BOTH sides. Each side's null-extended rows
    are emitted only when the GLOBAL watermark (min of both sides'
    watermarks — Spark's multipleWatermarkPolicy=min default) proves no
    matching row can still arrive. The two sides evict at DIFFERENT
    horizons, derived from the time-range condition
    p_ts ∈ [c_ts, c_ts+30min): a match-less click is provably dead once
    wm passes c_ts + 30min (no later purchase can fall in its window),
    while a match-less purchase is dead as soon as wm passes p_ts
    itself (any matching click would have c_ts ≤ p_ts). availableNow
    finalizes the watermark after the data batch and runs BOTH sides'
    eviction flush before stopping; younger rows stay in state and are
    correctly never emitted by the bounded replay. The oracle
    reproduces exactly that: inner matches ∪ match-less clicks past
    c_ts+30min ∪ match-less purchases past p_ts, wm = min(max c_ts,
    max p_ts) − 1 h. Boundary strictness declared `<` per the left-join
    note (continuous timestamps — no corpus row sits on the boundary).
    At 100 TB state on each side is bounded by its own watermark
    horizon; the asymmetric eviction means the purchase side holds only
    30 min more than the delay, independent of click volume."""
    stream, d = _stream_split(spark, sf_dir, ["true"])
    try:
        clicks = (
            stream.where(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            stream.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
            "full_outer",
        )
        out = joined.select(
            "click_id",
            "purchase_id",
            F.coalesce("user_id", "p_user").alias("user_id"),
        )
        return run_to_memory(out, output_mode="append")
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "q_stream_upsert_foreachbatch",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, ts,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type AS last_type, ts AS last_ts
    FROM ranked WHERE rn = 1
    """,
    category="2.I",
)
def q_stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed idempotent UPSERT via foreachBatch — the DynamoDB-putItem /
    merge-into pattern every Lambda consumer implements: each micro-batch
    reduces to its per-user latest row (ts, event_id ordered), merges with
    the previous state version, and writes state version v{batch_id}
    (overwrite → re-running a batch after a crash converges to the same
    state: exactly-once by idempotence, not by transactions). Two ordered
    micro-batches prove the merge genuinely carries state.

    The final state equals "latest row per user" over the whole stream
    regardless of batch boundaries — the invariant the exact oracle pins.
    At 100 TB the state table is a keyed Delta/Iceberg MERGE INTO or a
    hash-partitioned parquet rewrite of touched partitions; here plain
    versioned parquet keeps the container-visible semantics identical."""
    import os

    stream, d = _stream_split(
        spark,
        sf_dir,
        [
            "ts < TIMESTAMP '2024-01-15 00:00:00'",
            "ts >= TIMESTAMP '2024-01-15 00:00:00'",
        ],
    )
    state_base = _scratch("alsp_upsert_state_")
    from pyspark.sql import Window

    w_latest = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    def latest_per_user(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w_latest))
            .where(F.col("rn") == 1)
            .select("user_id", "event_type", "ts", "event_id")
        )

    def handler(batch_df: DataFrame, batch_id: int) -> None:
        merged = batch_df.select("user_id", "event_type", "ts", "event_id")
        prev = f"{state_base}/v{batch_id - 1}"
        if os.path.isdir(prev):
            prior = batch_df.sparkSession.read.parquet(prev)
            merged = merged.unionByName(prior)
        latest_per_user(merged).write.mode("overwrite").parquet(
            f"{state_base}/v{batch_id}"
        )

    try:
        run_foreach_batch(stream, handler)
        versions = sorted(
            int(p[1:]) for p in os.listdir(state_base) if p.startswith("v")
        )
        final = spark.read.parquet(f"{state_base}/v{versions[-1]}")
        result = final.select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.col("ts").alias("last_ts"),
        )
        # eager localCheckpoint: outlives the finally-rmtree without a
        # driver roundtrip (the q_stream_scd2_foreachbatch r7 pattern)
        return tracked_local_checkpoint(result)
    finally:
        shutil.rmtree(state_base, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)


@query(
    "q_stream_progress_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS total_input_rows,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
    FROM events
    """,
    category="2.I",
)
def q_stream_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OBSERVABILITY certified: drain the events stream with
    availableNow and reconcile the engine's own progress telemetry
    (StreamingQueryProgress.numInputRows summed over micro-batches)
    against the batch ground truth — the monitoring contract a
    production pipeline alarms on (the Lambda/Kinesis analogue:
    IteratorAge + delivery metrics). The aggregate itself also lands in
    the sink (day count), so BOTH the data path and the metrics path
    are checked in one query. Telemetry equals data exactly because
    availableNow replays a frozen file list — no racing appends."""
    import uuid as _uuid

    stream = events_stream(spark, sf_dir)
    agg = stream.groupBy(F.to_date("ts").alias("day")).count()
    name = "mem_" + _uuid.uuid4().hex[:12]
    ckpt = _scratch("alsp_metrics_ckpt_")
    with shuffle_scope(spark, "stream"):
        try:
            q = drain(
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
            )
            # Telemetry must fail LOUDLY, never undercount (round-2
            # advice): like a timed-out drain, a saturated recentProgress
            # ring buffer (numRecentProgressUpdates, default 100) would
            # silently drop batches from the sum.
            progs = list(q.recentProgress)
            cap = int(
                spark.conf.get(
                    "spark.sql.streaming.numRecentProgressUpdates", "100"
                )
            )
            if len(progs) >= cap:
                raise RuntimeError(
                    f"q_stream_progress_metrics: {len(progs)} progress "
                    f"entries hit the {cap}-entry ring buffer; use a "
                    "StreamingQueryListener for longer drains"
                )
            total_rows = sum(p["numInputRows"] for p in progs)
            n_days = spark.table(name).count()
        finally:
            spark.catalog.dropTempView(name)
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(
        [(total_rows, n_days)], "total_input_rows long, n_days long"
    )


@query(
    "q_stream_scd2_foreachbatch",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, ts, event_type,
             SUM(chg) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS version
      FROM flagged
    ),
    intervals AS (
      SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
             MIN(ts) AS valid_from, COUNT(*) AS n_events
      FROM runs GROUP BY user_id, version, event_type
    )
    SELECT user_id, version, event_type, valid_from,
           lead(valid_from) OVER (
             PARTITION BY user_id ORDER BY version) AS valid_to,
           n_events
    FROM intervals
    """,
    category="2.I",
)
def q_stream_scd2_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 dimension maintenance via foreachBatch — the CDC
    MERGE pattern: each micro-batch computes its LOCAL type-2 runs (the
    q_scd2_intervals pipeline on just that batch), then merges against
    the prior state's OPEN versions: same type → the open interval
    extends (version/valid_from inherited, event counts added);
    different type → the open interval CLOSES at the batch's first
    change and new versions continue the numbering. Three time-ordered
    micro-batches prove the merge carries state across restarts (the
    versioned-parquet idempotence of q_stream_upsert_foreachbatch).
    State is DELTA-ONLY (r6): closed versions are append-only, so each
    version dir stores just the rows closed in that batch — never read
    back during the stream — while only the one-row-per-active-user
    OPEN set carries forward; per-batch state I/O is O(batch churn +
    active users), not O(history), and the final table is
    union-of-closed-deltas + last open set. Round 7 trims (6.6 → 4.6 s
    best-of-2): empty micro-batches (redelivered/placeholder triggers)
    skip the merge AND the state rewrite entirely — state is simply
    unchanged, so version dirs may be sparse and the carry lookup takes
    the numeric max, not batch_id - 1; each batch issues ONE state
    write with closed/open as a `state` DATA column, which lets the adj
    join+window subtree be computed once instead of once per
    closed/open write action; and the final frame is returned via eager
    localCheckpoint instead of a collect + re-createDataFrame driver
    roundtrip. The invariant the exact oracle pins: the final
    incremental state is ROW-IDENTICAL to the batch SCD2 over the whole
    history, regardless of batch boundaries. At 100 TB the closed
    stream is a partitioned append and the open set a keyed MERGE INTO;
    the merge math is unchanged."""
    import os

    stream, d = _stream_split(
        spark,
        sf_dir,
        [
            "ts < TIMESTAMP '2024-01-11 00:00:00'",
            "ts >= TIMESTAMP '2024-01-11 00:00:00' "
            "AND ts < TIMESTAMP '2024-01-21 00:00:00'",
            "ts >= TIMESTAMP '2024-01-21 00:00:00'",
        ],
    )
    state_base = _scratch("alsp_scd2_state_")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def local_runs(df: DataFrame) -> DataFrame:
        chg = (
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))
        ).cast("int")
        runs = df.select(
            "user_id", "ts", "event_type",
            F.sum(chg).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("lv"),
        )
        return runs.groupBy(
            "user_id", F.col("lv").cast("long").alias("lv"), "event_type"
        ).agg(
            F.min("ts").alias("valid_from"),
            F.count("*").alias("n_events"),
        )

    def handler(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        # Materialize the per-batch runs ONCE: the window+agg subtree
        # feeds four branches (adj, first — itself twice — and the two
        # delta writes below are separate actions), and Spark reuses no
        # common subexpression across join branches or actions, so
        # without this pin the batch pays the expensive subtree ~4x
        # (measured 7.4 → 11.8 s at sf0.1 when the split-write form
        # first landed). The checkpoint is bounded: one row per
        # (user, run) in the batch.
        runs = tracked_local_checkpoint(local_runs(batch_df))
        # Delta state (r6, r4 ask 3 discipline): CLOSED versions are
        # append-only — each version dir stores only the rows closed IN
        # that batch, and the batch never reads them back; only the
        # OPEN set (one row per active user) is carried full. Per-batch
        # state I/O is O(batch churn + active users), not O(history).
        # Empty micro-batch (a redelivered/placeholder trigger with no
        # rows): state is unchanged — skip the merge AND the open-set
        # rewrite instead of copying state forward (r6 verdict item 7).
        # The probe reads the already-materialized checkpoint, so it
        # costs ~nothing on real batches. Version dirs may be sparse;
        # the prev lookup takes the numeric max instead of batch_id - 1.
        if not runs.take(1):
            return
        prevs = sorted(
            int(p[1:])
            for p in os.listdir(state_base)
            if p.startswith("v")
        )
        prev_open = f"{state_base}/v{prevs[-1]}" if prevs else ""
        if prev_open and os.path.isdir(prev_open):
            open_v = ss.read.parquet(prev_open).where(
                F.col("state") == "open"
            ).select(
                "user_id",
                F.col("version").alias("o_version"),
                F.col("event_type").alias("o_type"),
                F.col("valid_from").alias("o_from"),
                F.col("n_events").alias("o_n"),
            )
        else:
            open_v = ss.createDataFrame(
                [],
                "user_id long, o_version long, o_type string, "
                "o_from timestamp, o_n long",
            )
        first = runs.where(F.col("lv") == 1).select(
            "user_id",
            F.col("event_type").alias("f_type"),
            F.col("valid_from").alias("f_from"),
        )
        j = runs.join(open_v, "user_id", "left").join(first, "user_id")
        extend = F.col("o_type").isNotNull() & (
            F.col("o_type") == F.col("f_type")
        )
        adj = j.select(
            "user_id",
            "event_type",
            F.when(
                extend, F.col("o_version") + F.col("lv") - 1
            ).when(
                F.col("o_version").isNotNull(),
                F.col("o_version") + F.col("lv"),
            ).otherwise(F.col("lv")).alias("version"),
            F.when(
                extend & (F.col("lv") == 1), F.col("o_from")
            ).otherwise(F.col("valid_from")).alias("valid_from"),
            (
                F.col("n_events")
                + F.when(
                    extend & (F.col("lv") == 1), F.col("o_n")
                ).otherwise(F.lit(0))
            ).alias("n_events"),
        )
        wv = Window.partitionBy("user_id").orderBy("version")
        adj = adj.withColumn("valid_to", F.lead("valid_from").over(wv))
        newly_closed = (
            open_v.join(first, "user_id")
            .where(F.col("o_type") != F.col("f_type"))
            .select(
                "user_id",
                F.col("o_version").alias("version"),
                F.col("o_type").alias("event_type"),
                F.col("o_from").alias("valid_from"),
                F.col("f_from").alias("valid_to"),
                F.col("o_n").alias("n_events"),
            )
        )
        untouched_open = open_v.join(
            first, "user_id", "left_anti"
        ).select(
            "user_id",
            F.col("o_version").alias("version"),
            F.col("o_type").alias("event_type"),
            F.col("o_from").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.col("o_n").alias("n_events"),
        )
        cols = ["user_id", "version", "event_type",
                "valid_from", "valid_to", "n_events"]
        # ONE write per batch with `state` as a DATA column replaces the
        # r6 closed/open dir pair. The split form computed the adj
        # join+window subtree TWICE (once per write action: Spark shares
        # no work across actions); here adj's two valid_to branches are
        # together ALL of adj, so tagging rows closed/open by
        # valid_to-ness computes it ONCE and drops a whole job's
        # scheduling + exchange overhead per batch. `state` stays a data
        # column (partitionBy pays dynamic-partition staging/rename per
        # batch — measured slower than the split writes); readers filter
        # on it. No coalesce: narrowing here pulls the lead-window sort
        # onto the coalesced cores (measured +5 s at coalesce(2)).
        merged = (
            newly_closed.select(*cols)
            .withColumn("state", F.lit("closed"))
            .unionByName(
                untouched_open.select(*cols)
                .withColumn("state", F.lit("open"))
            )
            .unionByName(
                adj.select(*cols).withColumn(
                    "state",
                    F.when(
                        F.col("valid_to").isNotNull(), F.lit("closed")
                    ).otherwise(F.lit("open")),
                )
            )
        )
        cur = f"{state_base}/v{batch_id}"
        # repartition(4) bounds the per-version file count (the raw
        # union carries ~20 partitions from 3 branches × stream shuffle
        # width; ×3 versions that made the carry-read and the final
        # union a 65-tiny-file listing). An extra round-robin exchange
        # of a ~30k-row frame is noise; coalesce here is NOT — it
        # narrows the lead-window stage itself (measured +5 s at
        # coalesce(2)).
        merged.repartition(4).write.mode("overwrite").parquet(cur)

    try:
        run_foreach_batch(stream, handler)
        versions = sorted(
            int(p[1:]) for p in os.listdir(state_base) if p.startswith("v")
        )
        vdirs = [f"{state_base}/v{b}" for b in versions]
        final = (
            spark.read.parquet(*vdirs)
            .where(F.col("state") == "closed")
            .unionByName(
                spark.read.parquet(vdirs[-1]).where(
                    F.col("state") == "open"
                )
            )
            .drop("state")
        )
        # Eager localCheckpoint instead of collect + createDataFrame:
        # the result must outlive the state dir's rmtree below, but a
        # driver roundtrip of the full interval table (~80k rows at
        # sf0.1) costs ~0.9 s + a re-parallelize on the caller's
        # collect; block-manager materialization is ~0.2 s and the
        # caller reads the blocks directly (best-of-2 7.3 → 4.6 s with
        # the repartition(4) layout fix).
        return tracked_local_checkpoint(final)
    finally:
        shutil.rmtree(state_base, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)


# Per-source token budget for q_stream_llm_curation: sized so admission
# genuinely crosses micro-batch boundaries at the test SFs (per-source
# Gopher-kept token mass is ~140-570 at sf0.01), proving the carry state
# does real work.
STREAM_TOKEN_BUDGET = 200

DOCS_DDL = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
)


@query(
    "q_stream_llm_curation",
    oracle=f"""
    WITH d AS (
      -- exact-dedup stage, mirrored structurally from the stream: keep
      -- min-doc_id per identical text (the stream keys on sha2(text);
      -- PARTITION BY text is the same equivalence relation), so the
      -- ROW-IDENTICAL invariant no longer depends on duplicates
      -- happening to fall outside the admitted budget prefix.
      SELECT doc_id, source, n_chars, text FROM (
        SELECT doc_id, source, n_chars, text,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ),
    q AS (
      SELECT doc_id, source, n_chars,
             len(string_split(text, ' ')) AS n,
             len(list_distinct(string_split(text, ' '))) AS du,
             len(list_filter(string_split(text, ' '),
                             x -> x IN ('the', 'a'))) AS ds
      FROM d
    ),
    m AS (SELECT *, n_chars - n + 1 AS cn FROM q),
    k AS (
      SELECT doc_id, source, CAST(n AS BIGINT) AS tok_cnt FROM m
      WHERE n BETWEEN 30 AND 80 AND 7 * n <= 2 * cn AND 2 * cn <= 9 * n
        AND 20 * ds >= n AND 5 * du >= n
    ),
    c AS (
      SELECT doc_id, source, tok_cnt,
             CAST(SUM(tok_cnt) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM k
    )
    SELECT doc_id, source, tok_cnt, cum_tokens
    FROM c WHERE cum_tokens <= {STREAM_TOKEN_BUDGET}
    """,
    category="2.I",
)
def q_stream_llm_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end INCREMENTAL training-data curation (r3 stretch #8): one
    foreachBatch stream chains exact-dedup → Gopher quality gate →
    arrival-order per-source token-budget quota across 3 ordered
    micro-batches of the documents table — with the middle batch
    REDELIVERING the tail of the first (overlapping split ranges), the
    at-least-once duplicate delivery a Kinesis consumer must absorb.

    Per batch, all distributed:
      1. DEDUP: batch keeps min-doc_id per content hash, then anti-joins
         the carried seen-hash state — redelivered rows die here, so
         they neither re-admit nor double-charge the budget.
      2. GATE: the q_llm_gopher_rules integer rules, stateless.
      3. QUOTA: arrival-order greedy — the only admission policy a
         stream can implement — via the same two-phase distributed
         cumsum as q_llm_token_budget_quota (no partitionBy(source) hot
         task) plus the carried per-source token total; a gated doc is
         admitted iff its inclusive per-source cumulative stays within
         the budget.
    State is versioned parquet keyed by batch_id — idempotent re-runs
    converge, the q_stream_upsert_foreachbatch discipline — and (r6,
    r4 ask 3) DELTA-ONLY: v{b}/seen holds only the hashes first seen in
    batch b (cross-batch anti-join makes the deltas disjoint, so
    union-on-read IS the seen set) and v{b}/out holds only batch b's
    admitted rows; only v{b}/carry stays a full table, and it is one
    row per source. Per-batch state I/O is therefore O(batch delta),
    not O(corpus-so-far) — at 100 TB the stream writes what arrived,
    never rewrites what it already processed. Redelivered batches
    overwrite their own version directories, preserving idempotence.

    The exact-oracle invariant is STRUCTURAL (r6): the oracle runs the
    same dedup stage (min doc_id per identical text) before gate +
    per-source doc_id-ordered cumsum ≤ budget, so the incremental
    admitted set is ROW-IDENTICAL to the batch pipeline by
    construction, not by fixture luck — previously a gate-passing
    duplicate landing inside the budget prefix would have flipped the
    sweep red. At 100 TB the state tables are keyed MERGEs and every
    stage is a hash shuffle on bounded columns (32-byte hash, source);
    document text never shuffles past stage 2."""
    import os

    from pyspark.sql import Window

    from aws_lambda_stream_processing_spark.llm.text import STOPWORDS
    from aws_lambda_stream_processing_spark.operators.dprefix import (
        two_phase_cumsum,
    )
    from aws_lambda_stream_processing_spark.streaming.replay import (
        split_table_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    c1, c2, ov = n_docs // 3, (2 * n_docs) // 3, max(1, n_docs // 10)
    d = split_table_dir(
        spark,
        sf_dir,
        "documents",
        [
            f"doc_id < {c1}",
            # overlap: redeliver the last `ov` docs of batch 0
            f"doc_id >= {c1 - ov} AND doc_id < {c2}",
            f"doc_id >= {c2}",
        ],
    )
    stream = (
        spark.readStream.schema(DOCS_DDL)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    state_base = _scratch("alsp_curation_state_")

    def handler(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        hashed = batch_df.withColumn("h", F.sha2("text", 256))
        # intra-batch dedup: min doc_id per hash survives
        w_first = Window.partitionBy("h").orderBy("doc_id")
        uniq = (
            hashed.withColumn("rn", F.row_number().over(w_first))
            .where("rn = 1")
            .drop("rn")
        )
        # delta state: seen = union of every prior version's delta
        # (disjoint by construction — see docstring); carry = the one
        # full-but-tiny per-source table from the previous version.
        seen_deltas = [
            f"{state_base}/v{b}/seen"
            for b in range(batch_id)
            if os.path.isdir(f"{state_base}/v{b}/seen")
        ]
        prev_carry = f"{state_base}/v{batch_id - 1}/carry"
        if seen_deltas:
            seen = ss.read.parquet(*seen_deltas)
            fresh = uniq.join(seen, "h", "left_anti")
        else:
            fresh = uniq
        # One materialization per batch: the sha2+dedup-window+anti-join
        # subtree feeds all three state writes (seen delta, carry, out)
        # and Spark reuses nothing across actions — without the pin each
        # batch pays it three times. Bounded: one row per surviving doc
        # in the batch.
        fresh = tracked_local_checkpoint(fresh)
        carry = (
            ss.read.parquet(prev_carry)
            if os.path.isdir(prev_carry)
            else None
        )
        # Gopher gate (integer rules, stateless)
        t = F.split("text", " ")
        n = F.size(t)
        du = F.size(F.array_distinct(t))
        ds = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
        cn = F.col("n_chars") - n + 1
        gated = fresh.where(
            n.between(30, 80)
            & (7 * n <= 2 * cn) & (2 * cn <= 9 * n)
            & (20 * ds >= n) & (5 * du >= n)
        ).select(
            "doc_id", "source", "h", n.cast("long").alias("tok_cnt")
        )
        # arrival-order quota: distributed cumsum + carried base
        cum = two_phase_cumsum(
            gated,
            [("source", True), ("doc_id", True)],
            "tok_cnt",
            out="__gcum",
            inclusive=True,
        )
        base = cum.groupBy("source").agg(
            F.min(F.col("__gcum") - F.col("tok_cnt")).alias("__base")
        )
        scored = cum.join(F.broadcast(base), "source").withColumn(
            "__batch_cum", F.col("__gcum") - F.col("__base")
        )
        if carry is not None:
            scored = scored.join(
                F.broadcast(carry), "source", "left"
            ).withColumn(
                "cum_tokens",
                F.col("__batch_cum")
                + F.coalesce(F.col("carry_tokens"), F.lit(0)),
            )
        else:
            scored = scored.withColumn(
                "cum_tokens", F.col("__batch_cum")
            )
        admitted = scored.where(
            F.col("cum_tokens") <= STREAM_TOKEN_BUDGET
        ).select("doc_id", "source", "tok_cnt", "cum_tokens")
        # write state v{batch_id} (idempotent overwrite per version);
        # seen/out are DELTAS — only what this batch contributed.
        cur = f"{state_base}/v{batch_id}"
        # carry grows by ALL gated tokens (admitted or not): the greedy
        # prefix rule charges every eligible doc against the budget.
        batch_tok = gated.groupBy("source").agg(
            F.sum("tok_cnt").alias("bt")
        )
        if carry is not None:
            new_carry = (
                carry.join(batch_tok, "source", "full")
                .select(
                    "source",
                    (
                        F.coalesce("carry_tokens", F.lit(0))
                        + F.coalesce("bt", F.lit(0))
                    ).alias("carry_tokens"),
                )
            )
        else:
            new_carry = batch_tok.select(
                "source", F.col("bt").alias("carry_tokens")
            )
        # The three per-version state writes are independent actions
        # over the pinned `fresh` subtree — overlap them from a small
        # thread pool (guide §2.6; the q_sink_parquet_codecs pattern)
        # so the batch pays max(write) instead of the sum. Each write
        # lands in its own directory; failure of any one propagates.
        from concurrent.futures import ThreadPoolExecutor

        writes = [
            lambda: fresh.select("h")
            .write.mode("overwrite")
            .parquet(f"{cur}/seen"),
            lambda: new_carry.write.mode("overwrite")
            .parquet(f"{cur}/carry"),
            lambda: admitted.write.mode("overwrite")
            .parquet(f"{cur}/out"),
        ]
        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [pool.submit(w) for w in writes]
            for fut in futures:
                fut.result()

    try:
        run_foreach_batch(stream, handler)
        # Numeric version order (the SCD2 handler's discipline) — a
        # lexicographic sort reads v10 before v2 past 9 batches, which
        # is latent misordering if delta order ever becomes load-bearing.
        out_deltas = [
            f"{state_base}/v{b}/out"
            for b in sorted(
                int(p[1:])
                for p in os.listdir(state_base)
                if p.startswith("v")
            )
        ]
        final = spark.read.parquet(*out_deltas)
        # eager localCheckpoint: outlives the finally-rmtree without a
        # driver roundtrip (the q_stream_scd2_foreachbatch r7 pattern)
        return tracked_local_checkpoint(final)
    finally:
        shutil.rmtree(state_base, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)


@query(
    "q_stream_dlq_routing",
    oracle="""
    WITH classified AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             CASE
               WHEN event_type = 'error' THEN 'poison_record'
               WHEN CAST(json_extract(props, '$.k') AS BIGINT) >= 90
                 THEN 'payload_too_large'
               WHEN value > 400 THEN 'value_out_of_range'
               ELSE 'ok'
             END AS reason
      FROM events
    )
    SELECT CASE WHEN reason = 'ok' THEN 'main' ELSE 'dlq' END AS route,
           reason,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM classified
    GROUP BY 1, 2
    """,
    category="2.I",
)
def q_stream_dlq_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter-queue routing — the Lambda/Kinesis failure-handling
    surface itself: every micro-batch validates each record against an
    ordered rule chain (poison event type → oversized payload →
    out-of-range value, first match wins — the precedence a real
    validator has) and routes failures to a DLQ sink WITH their reason
    while clean records continue to the main sink; the final result is
    the routing audit (per-route/reason counts + exact cents), i.e.
    the redrive-policy dashboard. Runs through a REAL checkpointed
    foreachBatch stream over 2 ordered micro-batches, each batch
    writing both sinks under a batch_id-keyed subdir (idempotent
    re-run discipline of q_stream_upsert_foreachbatch, applied to an
    append-style sink). At 100 TB both sinks are partitioned appends;
    validation is per-row codegen, routing adds zero shuffles — the
    only exchange is the final bounded audit agg."""
    stream, d = _stream_split(
        spark,
        sf_dir,
        [
            "ts < TIMESTAMP '2024-01-15 00:00:00'",
            "ts >= TIMESTAMP '2024-01-15 00:00:00'",
        ],
    )
    sink_base = _scratch("alsp_dlq_sink_")

    reason = (
        F.when(F.col("event_type") == "error", F.lit("poison_record"))
        .when(
            F.get_json_object("props", "$.k").cast("long") >= 90,
            F.lit("payload_too_large"),
        )
        .when(F.col("value") > 400, F.lit("value_out_of_range"))
        .otherwise(F.lit("ok"))
    )

    def handler(batch_df: DataFrame, batch_id: int) -> None:
        classified = batch_df.select(
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            reason.alias("reason"),
        )
        # the two route sinks are independent actions over the same
        # cheap projection — overlap them (guide §2.6, the
        # q_stream_llm_curation state-write pattern)
        from concurrent.futures import ThreadPoolExecutor

        writes = [
            lambda: classified.where("reason = 'ok'")
            .write.mode("overwrite")
            .parquet(f"{sink_base}/main/b{batch_id}"),
            lambda: classified.where("reason <> 'ok'")
            .write.mode("overwrite")
            .parquet(f"{sink_base}/dlq/b{batch_id}"),
        ]
        with ThreadPoolExecutor(max_workers=2) as pool:
            for fut in [pool.submit(w) for w in writes]:
                fut.result()

    try:
        run_foreach_batch(stream, handler)
        main = spark.read.parquet(f"{sink_base}/main/b*")
        dlq = spark.read.parquet(f"{sink_base}/dlq/b*")
        audit = (
            main.withColumn("route", F.lit("main"))
            .unionByName(dlq.withColumn("route", F.lit("dlq")))
            .groupBy("route", "reason")
            .agg(
                F.count("*").alias("n"),
                F.sum("cents").alias("cents"),
            )
        )
        # eager localCheckpoint: outlives the finally-rmtree without a
        # driver roundtrip (the q_stream_scd2_foreachbatch r7 pattern)
        return tracked_local_checkpoint(audit)
    finally:
        shutil.rmtree(sink_base, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)


@query(
    "q_stream_checkpoint_recovery",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY event_type
    """,
    category="2.I",
)
def q_stream_checkpoint_recovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Checkpoint recovery as a first-class query (r5 verdict stretch
    9c, promoting the tests/test_streaming_restart.py gates into the
    certified surface): a stateful complete-mode aggregation runs as
    TWO SEPARATE streaming query objects sharing ONE checkpoint — the
    redeploy of a Lambda event-source mapping. Run 1 drains the even
    half of events; new files then land; run 2 is a brand-new query on
    the same checkpoint that must (a) restore the grouped-state from
    the state store, (b) resume AFTER the committed offsets (never
    re-reading run 1's files), and (c) fold the odd half in. The final
    complete-mode aggregate therefore equals the one-shot batch
    aggregate over the whole table — the exact oracle; losing state or
    re-reading offsets both break the integer cents.

    Each micro-batch overwrites the versioned output with the current
    complete aggregate (idempotent republish), so the sink read after
    run 2 is the recovered stream's own claim about the full table.
    At 100 TB the checkpoint (offsets + HDFS-backed state store) is
    exactly what survives executor loss and planned redeploys; the
    two-run split here exercises the same code path."""
    agg_cols = [
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    ]

    def plan(input_dir: str) -> DataFrame:
        stream = (
            spark.readStream.schema(SPLIT_DDL)
            .option("maxFilesPerTrigger", "1")
            .parquet(input_dir)
        )
        return stream.groupBy("event_type").agg(*agg_cols)

    d = split_events_dir(spark, sf_dir, ["user_id % 2 = 0"])
    ckpt = _scratch("alsp_ckrec_ckpt_")
    out = _scratch("alsp_ckrec_out_")

    def handler(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out}/latest")

    try:
        # run 1: even half, then the query object is gone
        run_foreach_batch(
            plan(d), handler, output_mode="complete", checkpoint=ckpt
        )
        # redeploy: the odd half lands as new files
        d2 = split_events_dir(spark, sf_dir, ["user_id % 2 = 1"])
        try:
            shutil.move(
                f"{d2}/batch_000.parquet", f"{d}/batch_001_rest.parquet"
            )
        finally:
            shutil.rmtree(d2, ignore_errors=True)
        # run 2: NEW query, same checkpoint — state + offsets recovered
        run_foreach_batch(
            plan(d), handler, output_mode="complete", checkpoint=ckpt
        )
        final = spark.read.parquet(f"{out}/latest").select(
            "event_type", "n", "cents"
        )
        # eager localCheckpoint: outlives the finally-rmtree without a
        # driver roundtrip (the q_stream_scd2_foreachbatch r7 pattern)
        return tracked_local_checkpoint(final)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)


@query(
    "q_stream_state_reader",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    category="2.I",
)
def q_stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store READER (Spark 4 `statestore` data source): after a
    checkpointed streaming aggregation drains, its keyed state is read
    back AS A TABLE straight from the checkpoint — the operational
    surface for state inspection (debugging a stuck aggregation,
    auditing state size per key, seeding a migration) that previously
    required replaying the stream. The recovered per-key counts must
    equal the batch aggregate — the exact oracle; a state row lost,
    duplicated, or mis-keyed breaks the hash.

    Scale: the reader scans state files partition-parallel (one task
    per state-store partition — the same layout the stream wrote) and
    never touches the source topic; at 100 TB of state this is the
    only way to look inside without a replay."""
    src = _scratch("alsp_streader_src_")
    ckpt = _scratch("alsp_streader_ckpt_")
    try:
        load_table(spark, sf_dir, "events").select(
            "event_type", "value"
        ).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            "event_type string, value double"
        ).parquet(src)
        agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
        drain(
            agg.writeStream.format("noop")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
        state = spark.read.format("statestore").load(ckpt)
        result = state.select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n"),
        )
        # eager localCheckpoint: outlives the finally-rmtree without a
        # driver roundtrip (the q_stream_scd2_foreachbatch r7 pattern)
        return tracked_local_checkpoint(result)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


@query(
    "q_stream_chained_aggs",
    oracle="""
    WITH wm AS (SELECT max(ts) AS w FROM events),
    hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT day, event_type,
           CAST(SUM(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_hours
    FROM hourly CROSS JOIN wm
    WHERE day + INTERVAL 1 DAY <= wm.w
    GROUP BY day, event_type
    ORDER BY day, event_type
    """,
    category="2.I",
)
def q_stream_chained_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED streaming aggregations (multiple stateful operators,
    SPARK-40925): hour × type counts re-aggregated to day × type
    totals INSIDE one streaming query — the window(window, '1 day')
    re-window carries event time through the first agg so the second
    gets a proper watermark. Until 3.4 this required two queries with
    an intermediate sink; the chained form keeps the rollup
    exactly-once end to end. Append mode: a day emits only once the
    final watermark (max ts, 0s delay) passes its window end, so the
    oracle is the batch day rollup RESTRICTED to watermark-closed
    days — the trailing open day stays in state, by design. Two
    ordered micro-batches prove cross-batch state in both operators.
    Scale: state is hours×types (first op) + days×types (second),
    both calendar-bounded; the 100 TB posture is the same two
    RocksDB-backed aggs with more shuffle partitions."""
    stream, d = _stream_split(
        spark,
        sf_dir,
        [
            "ts < TIMESTAMP '2024-01-15 00:00:00'",
            "ts >= TIMESTAMP '2024-01-15 00:00:00'",
        ],
    )
    try:
        hourly = (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n"))
        )
        daily = (
            hourly.groupBy(
                F.window(F.col("window"), "1 day"), "event_type"
            )
            .agg(F.sum("n").alias("n"), F.count("*").alias("n_hours"))
            .select(
                F.col("window.start").alias("day"),
                "event_type",
                "n",
                "n_hours",
            )
        )
        out = run_to_memory(daily, output_mode="append")
        return out.orderBy("day", "event_type")
    finally:
        shutil.rmtree(d, ignore_errors=True)


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


@query(
    "q_stream_rocksdb_state",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events GROUP BY user_id
    """,
    category="2.I",
)
def q_stream_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RocksDB state-store provider rung: the SAME keyed streaming
    aggregation every other stateful rung runs on the default
    HDFS-backed in-memory provider, executed under
    spark.sql.streaming.stateStore.providerClass =
    RocksDBStateStoreProvider (native in Spark 4 — no external jars),
    then read BACK through the `statestore` data source and pinned to
    the exact batch oracle. That closes the provider-independence
    claim with data: state correctness (no key lost, duplicated, or
    mis-aggregated) is a property of the checkpoint contract, not of
    the provider the micro-batch happened to commit through — the
    statestore reader resolves the provider from checkpoint metadata
    and decodes RocksDB snapshot zips as transparently as HDFS
    .delta files (tests assert the .zip artifacts, so the conf is
    proven load-bearing). The provider conf is set/restored around
    the run via conf_scope — the driver's session leaves untouched.
    At 100 TB of keyed state RocksDB is the only posture that works:
    state spills to local SSD instead of executor heap, changelog
    checkpointing bounds per-batch upload to the delta, and the
    memory-bound HDFS provider becomes the thing you migrate OFF —
    this rung is that migration's correctness proof in miniature."""
    src = _scratch("alsp_rocks_src_")
    ckpt = _scratch("alsp_rocks_ckpt_")
    try:
        load_table(spark, sf_dir, "events").select(
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        ).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            "user_id long, cents long"
        ).parquet(src)
        agg = stream.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum("cents").alias("cents")
        )
        with conf_scope(
            spark,
            {"spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER},
        ):
            drain(
                agg.writeStream.format("noop")
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
            )
            state = spark.read.format("statestore").load(ckpt)
            result = state.select(
                F.col("key.user_id").alias("user_id"),
                F.col("value.count").alias("n"),
                F.col("value.sum").alias("cents"),
            )
            # eager localCheckpoint INSIDE the conf ctx (the provider
            # conf governs the statestore read): outlives the
            # finally-rmtree without a driver roundtrip (the
            # q_stream_scd2_foreachbatch r7 pattern)
            out = tracked_local_checkpoint(result)
        return out
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


@query(
    "q_stream_dedup_within_watermark",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
    category="2.I",
)
def q_stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark-bounded streaming dedup — the state-TTL scale path that
    q_stream_dedup's docstring prescribes, as its own rung:
    dropDuplicatesWithinWatermark keeps a key's dedup state only until
    the watermark passes its event time + delay, so state size is
    O(events within the retry horizon), not O(all keys ever seen) —
    the difference between a bounded RocksDB store and an unbounded one
    at 100 TB. Redelivery is real here: the two micro-batches OVERLAP
    by ten days ([01-10, 01-20) is delivered twice — the Kinesis
    shard-reader restart), and the 15-day delay exceeds that horizon,
    so every redelivered key still has live state when its duplicate
    arrives and the output is exactly the original table (exact
    oracle). A shorter-than-horizon delay trades state for possible
    re-emission — that operating point is the operator's contract, not
    a bug, which is why the delay is sized to the horizon."""
    stream, d = _stream_split(
        spark,
        sf_dir,
        [
            "ts < TIMESTAMP '2024-01-20 00:00:00'",
            "ts >= TIMESTAMP '2024-01-10 00:00:00'",
        ],
    )
    try:
        deduped = (
            stream.withWatermark("ts", "15 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "user_id", "event_type", "value")
        )
        return run_to_memory(deduped, output_mode="append")
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "q_stream_stream_semi_join",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id, c.ts AS c_ts
    FROM events c
    WHERE c.event_type = 'click'
      AND EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = c.user_id
          AND p.ts >= c.ts
          AND p.ts < c.ts + INTERVAL 30 MINUTE
      )
    """,
    category="2.I",
)
def q_stream_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join — the existence-only quarter of the
    correlation family (inner / left outer / full outer are the other
    rungs): emit each click AT MOST ONCE as soon as any in-window
    purchase arrives, never materializing the match multiplicity. The
    emission trigger is MATCH ARRIVAL (like inner), not watermark
    eviction (like the outer variants) — so under an availableNow
    replay every qualifying click is emitted and no watermark-horizon
    term enters the oracle: it is the plain EXISTS formulation. The
    watermarks still matter for the part the oracle can't see: they
    bound BOTH state stores (clicks await possible matches, purchases
    age out of the probe set), which is what makes existence
    correlation runnable forever at 100 TB. Semi is also the cheaper
    plan where it fits (funnel reached-next-stage flags, fraud
    any-trigger alerts): one output row per left row, no pair
    explosion through a hot user."""
    stream, d = _stream_split(spark, sf_dir, ["true"])
    try:
        clicks = (
            stream.where(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            stream.where(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
            "left_semi",
        )
        return run_to_memory(joined, output_mode="append")
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "q_stream_state_timeout",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WHERE user_id % 3 = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS sid
      FROM g
    ),
    sess AS (
      SELECT user_id, sid, MIN(ts) AS session_start,
             MAX(ts) AS last_event, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM s GROUP BY user_id, sid
    ),
    lastsess AS (SELECT user_id, MAX(sid) AS m FROM sess GROUP BY user_id),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w
           FROM events WHERE user_id % 3 = 0)
    SELECT sess.user_id, session_start, last_event, n_events,
           CASE WHEN sid = m THEN 'timeout' ELSE 'gap' END AS closed_by
    FROM sess JOIN lastsess USING (user_id) CROSS JOIN wm
    WHERE sid < m
       OR last_event + INTERVAL 30 MINUTE < wm.w
    """,
    category="2.I",
)
def q_stream_state_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time TIMEOUT state — the GroupStateTimeout half of
    arbitrary stateful streaming that q_stream_custom_state
    (NoTimeout) leaves uncovered: per-user 30-min sessions carried in
    applyInPandasWithState, where a session closes EITHER because the
    user's next event reveals the gap (handler sees data) OR because
    the WATERMARK passes last_event + 30 min while the user is silent
    (handler fires with hasTimedOut=True, no data — Spark only
    delivers timeouts to groups absent from the batch, so the two
    paths are mutually exclusive per batch and the split maps them
    exactly: non-final sessions close by gap, each user's final
    session by timeout). availableNow finalizes the watermark to
    max(ts) − 1 h after the last data batch and runs the timeout sweep
    before stopping (verified empirically: 931 gap + 13 timeout = all
    sessions eligible under the final watermark at sf0.001), so the
    oracle is gaps-and-islands sessions minus final sessions still
    inside the horizon, with closed_by reproduced from sid = max(sid).
    This rung is the idle-session reaper every Lambda shop builds with
    DynamoDB TTLs: here it is engine state + one timestamp per key,
    RocksDB-spillable, and the timeout scan is part of the micro-batch
    instead of a second system."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    GAP_US = 30 * 60 * 1_000_000

    def sessions(key, pdfs, state):
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "last_event": [pd.Timestamp(last, unit="us")],
                    "n_events": [int(n)],
                    "closed_by": ["timeout"],
                }
            )
            return
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        closed = []
        for ts in rows["ts"]:
            t = ts.value // 1000  # pandas ns -> event-time micros
            if last is not None and t - last >= GAP_US:
                closed.append((start, last, n))
                start, last, n = t, t, 1
            else:
                if start is None:
                    start = t
                last = t
                n += 1
        state.update((start, last, n))
        # timeout timestamps are epoch millis; floor keeps the
        # strictly-after-the-gap semantics
        state.setTimeoutTimestamp(last // 1000 + 30 * 60 * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "session_start": [
                        pd.Timestamp(s, unit="us") for s, _, _ in closed
                    ],
                    "last_event": [
                        pd.Timestamp(e, unit="us") for _, e, _ in closed
                    ],
                    "n_events": [int(c) for _, _, c in closed],
                    "closed_by": ["gap"] * len(closed),
                }
            )

    stream, d = _stream_split(
        spark,
        sf_dir,
        [
            "ts < TIMESTAMP '2024-01-15 00:00:00'",
            "ts >= TIMESTAMP '2024-01-15 00:00:00'",
        ],
    )
    try:
        # Key panel bounded to a third of the users: the dominant cost
        # of applyInPandasWithState is per-KEY handler machinery (one
        # invocation per key per batch + one per silent key in the
        # final timeout sweep — measured 11.4 s best-of-2 unfiltered at
        # sf0.1, ~4 s at a third), and the semantics under test — both
        # close paths, state carry, the final sweep — are identical on
        # the panel. The watermark is computed on the FILTERED stream,
        # so the oracle's horizon CTE filters the same way.
        out = (
            stream.where(F.col("user_id") % 3 == 0)
            .withWatermark("ts", "1 hour")
            .groupBy("user_id")
            .applyInPandasWithState(
                sessions,
                outputStructType=(
                    "user_id BIGINT, session_start TIMESTAMP, "
                    "last_event TIMESTAMP, n_events BIGINT, "
                    "closed_by STRING"
                ),
                stateStructType="start BIGINT, last BIGINT, n BIGINT",
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )
        # Python-stateful stage (see q_stream_custom_state): per-key
        # pandas kernels want the wider width
        return run_to_memory(
            out,
            output_mode="append",
            width_kind="python_stream",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "q_stream_rate_source",
    oracle="""
    WITH v AS (SELECT value FROM range(0, 6000) t(value)),
    r AS (
      SELECT value,
             TIMESTAMP '2024-01-01 00:00:00'
               + INTERVAL 1 HOUR * CAST(value // 2000 AS INTEGER) AS hour
      FROM v
    )
    SELECT hour,
           value % 7 AS bucket,
           COUNT(*) AS cnt,
           CAST(SUM(value) AS BIGINT) AS sum_value
    FROM r
    GROUP BY hour, bucket
    """,
    category="2.I",
)
def q_stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rate-micro-batch` source — the deterministic synthetic stream
    generator (the soak/load-test source you point a pipeline at to
    exercise it at a controlled rate without touching production
    topics). Unlike `rate`, whose row count depends on wall-clock,
    rate-micro-batch is fully deterministic: batch N carries values
    [N*rowsPerBatch, (N+1)*rowsPerBatch) all stamped
    startTimestamp + N*advanceMillisPerBatch — so the stream is
    REPLAYABLE and a closed-form oracle exists (probed: two
    trigger-once runs on one checkpoint yield batches 0 and 1
    exactly). Three trigger-once runs against a SHARED checkpoint
    drive the batch counter 0 → 1 → 2 (offset persistence across
    restarts — the same contract q_stream_checkpoint_recovery pins
    for file sources), each appending its batch to a parquet sink;
    the final batch read aggregates per (hour, value%7). At 100 TB
    this is the source for throughput calibration: rowsPerBatch and
    numPartitions size the per-core generator, no input I/O at all,
    and the generated rows flow through the same sink/agg plan the
    production stream uses."""
    ckpt = _scratch("alsp_rate_ckpt_")
    sink = _scratch("alsp_rate_sink_")
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 2000)
        .option("numPartitions", 4)
        .option("startTimestamp", 1704067200000)
        .option("advanceMillisPerBatch", 3600000)
        .load()
    )
    try:
        for run in range(3):
            drain(
                src.selectExpr("timestamp AS hour", "value")
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(once=True)
            )
        agg = (
            spark.read.parquet(sink)
            .groupBy("hour", (F.col("value") % 7).alias("bucket"))
            .agg(
                F.count("*").alias("cnt"),
                F.sum("value").alias("sum_value"),
            )
        )
        return tracked_local_checkpoint(agg)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


@query(
    "q_stream_union_sources",
    oracle="""
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events
    GROUP BY event_type
    """,
    category="2.I",
)
def q_stream_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION of two independent streaming sources into one stateful
    agg — the multi-topic fan-in every real deployment has (clicks
    from one Kinesis stream, purchases from another, one consumer):
    each source keeps ITS OWN offset log inside the shared checkpoint
    (sources/0 and sources/1), so recovery resumes both legs
    independently — the contract this rung pins beyond what any
    single-source rung can. The two legs here split the corpus by
    event type and each arrives as 2 ordered micro-batches with
    different file boundaries (uneven-progress fan-in, not lockstep);
    the union is a stateless DAG merge — no shuffle until the ONE
    downstream agg, exactly as cheap at 100 TB as a single source
    with the same row count."""
    sa, da = _stream_split(
        spark,
        sf_dir,
        [
            "event_type IN ('purchase', 'click') "
            "AND ts < TIMESTAMP '2024-01-15 00:00:00'",
            "event_type IN ('purchase', 'click') "
            "AND ts >= TIMESTAMP '2024-01-15 00:00:00'",
        ],
    )
    sb, db = _stream_split(
        spark,
        sf_dir,
        [
            "event_type NOT IN ('purchase', 'click') "
            "AND ts < TIMESTAMP '2024-02-01 00:00:00'",
            "event_type NOT IN ('purchase', 'click') "
            "AND ts >= TIMESTAMP '2024-02-01 00:00:00'",
        ],
    )
    try:
        agg = (
            sa.unionByName(sb)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("cnt"),
                F.sum(
                    F.round(F.col("value") * 100).cast("long")
                ).alias("cents"),
            )
        )
        return run_to_memory(agg, output_mode="complete")
    finally:
        shutil.rmtree(da, ignore_errors=True)
        shutil.rmtree(db, ignore_errors=True)


@query(
    "q_stream_python_datasource",
    oracle="""
    WITH g AS (SELECT value AS gid FROM range(0, 2400) t(value))
    SELECT CAST((gid % 1200) // 300 AS INTEGER) AS shard,
           COUNT(*) AS n,
           CAST(SUM((gid * 37) % 1000) AS BIGINT) AS total_tenths
    FROM g
    GROUP BY shard
    """,
    category="2.I",
)
def q_stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING connector via the Spark 4 Python DataSource
    API — the streaming half of q_source_python_datasource's
    kinesis-like batch connector, i.e. the consumer prototype you
    write before committing to a JVM DSv2 implementation: a
    SimpleDataSourceStreamReader whose offset is the batch counter
    ({"b": N} → records [N*1200, (N+1)*1200) across 4 shards), with
    readBetweenOffsets supplying the replay path recovery uses. Two
    trigger-once runs against ONE checkpoint drive the offset 0→1 —
    probed: each run's batch carries exactly its 1200-gid slice, so
    the engine persisted and resumed the CUSTOM offset JSON across
    restarts, which is the contract this rung pins (the rate-source
    rung proves it for a built-in source; this proves it for
    user-defined offsets). Deterministic records make the oracle a
    closed-form range() twin. Scale note: the simple reader prefetches
    on the DRIVER — right for prototypes and control streams; the
    partition-parallel DataSourceStreamReader (partitions() per
    shard, executor-side read) is the volume path, with this class as
    its behavioral spec."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class FeedReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"b": 0}

        @staticmethod
        def _batch(b: int):
            # a LIST, not a generator: the simple reader's prefetch
            # cache pickles the returned rows (generators can't)
            return [
                (
                    shard,
                    b * 1200 + shard * 300 + i,
                    ((b * 1200 + shard * 300 + i) * 37) % 1000,
                )
                for shard in range(4)
                for i in range(300)
            ]

        def read(self, start):
            b = start["b"]
            return self._batch(b), {"b": b + 1}

        def readBetweenOffsets(self, start, end):
            rows = []
            for b in range(start["b"], end["b"]):
                rows.extend(self._batch(b))
            return rows

    class FeedSource(DataSource):
        @classmethod
        def name(cls):
            return "alsp_feed_sim"

        def schema(self):
            return "shard int, gid long, tenths long"

        def simpleStreamReader(self, schema):
            return FeedReader()

    spark.dataSource.register(FeedSource)
    ckpt = _scratch("alsp_pysrc_ckpt_")
    sink = _scratch("alsp_pysrc_sink_")
    try:
        # 2 runs, not more: each restart pays the full Python-source
        # micro-batch machinery (~3.3 s); two runs are the minimum
        # that proves custom-offset persistence across a restart
        for _run in range(2):
            drain(
                spark.readStream.format("alsp_feed_sim")
                .load()
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(once=True)
            )
        agg = (
            spark.read.parquet(sink)
            .groupBy("shard")
            .agg(
                F.count("*").alias("n"),
                F.sum("tenths").alias("total_tenths"),
            )
        )
        return tracked_local_checkpoint(agg)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


class _PartitionFileWriter:
    """ForeachWriter for q_stream_foreach_writer: one instance per task,
    buffering rows through open()/process() and committing ATOMICALLY in
    close() — write to a tmp path, then rename onto the deterministic
    (epoch, partition) name. The rename-as-commit makes task retries
    idempotent (at-least-once execution, exactly-once OUTPUT), which is
    the contract every per-row sink (DynamoDB writer, KV store, webhook)
    has to build itself — foreachBatch gets it from batch-id bookkeeping,
    foreach() pushes it down to the writer. Must live at module top
    level: the instance pickles to executors."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def open(self, partition_id: int, epoch_id: int) -> bool:
        self.pid, self.epoch, self.rows = partition_id, epoch_id, []
        return True  # accept every partition, even empty ones

    def process(self, row) -> None:
        self.rows.append(f"{row.event_id},{row.user_id},{row.cents}")

    def close(self, error) -> None:
        if error is not None:
            return  # failed task: leave nothing visible
        import os
        import uuid as _uuid

        final = os.path.join(
            self.out_dir, f"e{self.epoch}_p{self.pid}.csv"
        )
        tmp = final + "." + _uuid.uuid4().hex[:8] + ".tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(self.rows) + ("\n" if self.rows else ""))
        os.replace(tmp, final)


@query(
    "q_stream_foreach_writer",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE event_type = 'purchase'
    """,
    category="2.I",
)
def q_stream_foreach_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PER-ROW streaming sink (`writeStream.foreach(writer)`) — the
    third member of the sink family next to built-in sinks and
    foreachBatch: a ForeachWriter receives open(partition, epoch) /
    process(row) / close(error) callbacks on the EXECUTORS, the shape a
    row-oriented external system (DynamoDB puts, per-event webhooks)
    integrates at. The writer here buffers a partition's rows and
    commits them by atomic rename keyed on (epoch, partition) — task
    retries overwrite instead of duplicating, turning Spark's
    at-least-once task execution into exactly-once output; the rung
    re-reads the committed files and aggregates, and the exact batch
    oracle proves the full loop (stream → per-row callbacks → commit
    protocol → re-read) loses and duplicates NOTHING. Scale: foreach()
    is the latency path (no per-batch DataFrame machinery); writers
    should buffer like this one does — per-row flushes to an external
    store are the classic 100 TB sink bottleneck."""
    out_dir = _scratch("alsp_few_")
    try:
        src = events_stream(spark, sf_dir).where(
            F.col("event_type") == "purchase"
        ).select(
            "event_id", "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        with shuffle_scope(spark, "stream"):
            drain(
                src.writeStream.foreach(_PartitionFileWriter(out_dir))
                .outputMode("append")
                .trigger(availableNow=True)
                .option("checkpointLocation", out_dir + "/ckpt")
            )
        back = spark.read.schema(
            "event_id BIGINT, user_id BIGINT, cents BIGINT"
        ).csv(out_dir, pathGlobFilter="*.csv")
        agg = back.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        return tracked_local_checkpoint(agg)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


@query(
    "q_stream_stream_right_join",
    oracle="""
    WITH c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
          FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(c_ts) FROM c),
                        (SELECT max(p_ts) FROM p))
                  - INTERVAL 1 HOUR AS w)
    SELECT c.click_id, p.purchase_id, p.p_user AS user_id
    FROM c JOIN p ON c.user_id = p.p_user
       AND p.p_ts >= c.c_ts AND p.p_ts < c.c_ts + INTERVAL 30 MINUTE
    UNION ALL
    SELECT NULL::BIGINT AS click_id, p.purchase_id, p.p_user AS user_id
    FROM p CROSS JOIN wm
    WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.p_user
                      AND p.p_ts >= c.c_ts
                      AND p.p_ts < c.c_ts + INTERVAL 30 MINUTE)
      AND p.p_ts < wm.w
    """,
    category="2.I",
)
def q_stream_stream_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream RIGHT OUTER join — completes the stream-stream
    join-type matrix (inner / left / full / semi / now right): null
    extension on the PURCHASE side only. The asymmetry vs left outer is
    the eviction horizon: a match-less purchase is provably dead as
    soon as the global watermark passes p_ts itself (its candidate
    clicks all precede it — the range condition is one-sided), whereas
    a match-less click must wait out its full 30-minute forward window.
    The oracle derives that horizon arithmetically (wm = min of side
    maxima − 1 h, Spark's multipleWatermarkPolicy=min). Same
    user_id-keyed state-store shuffle and watermark-bounded state as
    the rest of the family; at 100 TB right-vs-left is a free choice —
    the planner keys state identically and only null-extension side
    flips."""
    stream, d = _stream_split(spark, sf_dir, ["true"])
    try:
        clicks = (
            stream.where(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            stream.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
            "right_outer",
        )
        out = joined.select(
            "click_id", "purchase_id", F.col("p_user").alias("user_id")
        )
        return run_to_memory(out, output_mode="append")
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "q_stream_max_files_per_trigger",
    oracle="""
    SELECT CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
                WHEN 'purchase' THEN 2 ELSE 3 END AS batch_id,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE event_type IN ('click', 'error', 'purchase', 'signup')
    GROUP BY event_type
    ORDER BY batch_id
    """,
    category="2.I",
)
def q_stream_max_files_per_trigger(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SOURCE-SIDE BACKPRESSURE — `maxFilesPerTrigger=1`, the rate
    limit that keeps a file-stream's micro-batches sized to the
    cluster instead of to the backlog: four single-type files land
    with strictly increasing mtimes, and the stream must drain as
    FOUR one-file micro-batches in MTIME ORDER (FileStreamSource
    orders by modification time, latestFirst=false — the same
    contract q_source_modified_after leans on from the batch side),
    even under Trigger.AvailableNow, which honors source read limits
    rather than swallowing the backlog whole (the property that makes
    'catch up tonight, bounded memory' possible at 100 TB). The
    oracle pins the full contract: batch_id IS the file's mtime rank
    — so each (batch_id, event_type) pair certifies that batch k
    contained exactly file k's rows, not merely that four batches
    happened; counts and cents certify nothing was split or
    coalesced across the limit."""
    import os as _os

    landing = tempfile.mkdtemp(prefix="alsp_mfpt_")
    try:
        order = ["click", "error", "purchase", "signup"]
        e = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        base = 1700000000
        for i, t in enumerate(order):
            stage = _os.path.join(landing, f"stage{i}")
            e.where(F.col("event_type") == t).coalesce(1).write.mode(
                "overwrite"
            ).parquet(stage)
            part = next(
                f for f in _os.listdir(stage) if f.startswith("part-")
            )
            dst = _os.path.join(landing, f"{i:03d}.parquet")
            shutil.move(_os.path.join(stage, part), dst)
            shutil.rmtree(stage, ignore_errors=True)
            _os.utime(dst, (base + i * 60, base + i * 60))
        stream = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(landing)
        )
        acc: list[tuple[int, str, int, int]] = []

        def handler(bdf: DataFrame, bid: int) -> None:
            for r in (
                bdf.groupBy("event_type")
                .agg(
                    F.count("*").alias("n"),
                    F.sum("cents").alias("cents"),
                )
                .collect()
            ):
                acc.append(
                    (int(bid), r["event_type"], int(r["n"]),
                     int(r["cents"]))
                )

        run_foreach_batch(stream, handler)
        return spark.createDataFrame(
            sorted(acc),
            "batch_id bigint, event_type string, n bigint, cents bigint",
        )
    finally:
        shutil.rmtree(landing, ignore_errors=True)


@query(
    "q_stream_sink_python_datasource",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM events
    WHERE event_type = 'signup'
    """,
    category="2.I",
)
def q_stream_sink_python_datasource(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAMING write half of the Spark 4 Python DataSource API —
    the last cell of the custom-connector matrix (batch read
    q_source_python_datasource, stream read q_stream_python_datasource,
    batch write q_sink_python_datasource): a DataSourceStreamWriter
    whose per-task write() stages rows to a private file and returns a
    typed WriterCommitMessage, with the driver-side commit(messages,
    batchId) publishing a PER-EPOCH manifest by atomic rename — the
    epoch-keyed variant of the DSv2 two-phase commit: each micro-batch
    becomes visible atomically and independently, abort(messages,
    batchId) discards that epoch's staged files only, and a replayed
    batch overwrites its OWN manifest (idempotent re-run, the
    q_stream_upsert_foreachbatch discipline at the connector layer).
    The rung drives a REAL checkpointed writeStream over 2 ordered
    micro-batches (so two manifests exist), re-reads ONLY
    manifest-listed files across epochs, and matches the exact batch
    oracle: nothing lost, nothing duplicated, nothing uncommitted
    visible. Filtered to the signup slice and coalesced to 2 writer
    tasks per batch because the writer is row-at-a-time Python by API
    design — the rung certifies the epoch commit protocol, not bulk
    throughput (JVM sinks are the volume path). At 100 TB this is the
    shape a Kinesis/webhook/feature-store EGRESS connector takes:
    executor tasks stage, one coordinator commit per epoch decides
    visibility, task retries can never double-publish."""
    import os as _os
    import uuid as _uuid
    from dataclasses import dataclass

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    @dataclass
    class StagedFile(WriterCommitMessage):
        path: str
        n: int

    class EpochManifestWriter(DataSourceStreamWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            staged = _os.path.join(
                self.path, f"staged_{_uuid.uuid4().hex}.csv"
            )
            n = 0
            with open(staged, "w") as f:
                for row in iterator:
                    f.write(f"{row.event_id},{row.user_id},{row.cents}\n")
                    n += 1
            return StagedFile(staged, n)

        def commit(self, messages, batchId):
            manifest = _os.path.join(self.path, f"_MANIFEST_b{batchId}")
            with open(manifest + ".tmp", "w") as f:
                for m in messages:
                    f.write(m.path + "\n")
            _os.replace(manifest + ".tmp", manifest)

        def abort(self, messages, batchId):
            for m in messages:
                if m is not None:
                    try:
                        _os.remove(m.path)
                    except OSError:
                        pass

    class EpochManifestSink(DataSource):
        @classmethod
        def name(cls):
            return "stream_manifest_sink"

        def streamWriter(self, schema, overwrite):
            return EpochManifestWriter(self.options)

    spark.dataSource.register(EpochManifestSink)
    stream, d = _stream_split(
        spark,
        sf_dir,
        [
            "ts < TIMESTAMP '2024-01-15 00:00:00'",
            "ts >= TIMESTAMP '2024-01-15 00:00:00'",
        ],
    )
    out = _scratch("alsp_pyds_stream_sink_")
    try:
        src = (
            stream.where(F.col("event_type") == "signup")
            .select(
                "event_id",
                "user_id",
                F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            )
            .coalesce(2)
        )
        drain(
            src.writeStream.format("stream_manifest_sink")
            .option("path", out)
            .option("checkpointLocation", out + "/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
        )
        committed: list[str] = []
        for fn in sorted(_os.listdir(out)):
            if fn.startswith("_MANIFEST_b") and not fn.endswith(".tmp"):
                with open(_os.path.join(out, fn)) as f:
                    committed += [ln.strip() for ln in f if ln.strip()]
        assert committed, (
            "q_stream_sink_python_datasource: no committed staged files "
            f"found under {out} — the sink committed nothing"
        )
        back = spark.read.schema(
            "event_id BIGINT, user_id BIGINT, cents BIGINT"
        ).csv(committed)
        agg = back.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum("cents").cast("bigint").alias("cents"),
            F.max("event_id").cast("bigint").alias("max_id"),
        )
        return tracked_local_checkpoint(agg)
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)

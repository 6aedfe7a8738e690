"""True-unbounded-source demo (round-1 review item): the rest of the
streaming family replays bounded files with `availableNow` — the right,
oracle-checkable stand-in for a drained shard — but a real Kinesis shard is
unbounded. This module wires the SAME events-envelope shape to Spark's
built-in `rate` source (the standard unbounded test source: a monotonic
(timestamp, value) generator) and drains a bounded number of micro-batches
from it with a processing-time trigger, proving the pipeline runs against a
source that never ends.

Deliberately NOT a registry entry: an unbounded source has no DuckDB oracle
by construction (the row set depends on wall-clock drain time), so it would
only ever be a weak row — the gate lives in tests/test_rate_source.py
instead. Swap `format("rate")` for `format("kinesis")`/`format("kafka")`
options on a real deployment; everything downstream is unchanged.
"""

from __future__ import annotations

import shutil
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_lambda_stream_processing_spark.session import shuffle_scope
from aws_lambda_stream_processing_spark.streaming.replay import _scratch

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def rate_events_stream(
    spark: SparkSession, rows_per_second: int = 5000
) -> DataFrame:
    """An unbounded synthetic shard in the events envelope: the rate source's
    (timestamp, value) rows become (event_id, ts, user_id, event_type,
    value, props) — the same schema `events_stream` produces from files, so
    every downstream transformation is source-agnostic."""
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    types = F.array(*[F.lit(t) for t in EVENT_TYPES])
    seq = F.col("value")  # monotonically increasing BIGINT
    return raw.select(
        seq.alias("event_id"),
        F.col("timestamp").alias("ts"),
        (seq % 150).alias("user_id"),
        F.element_at(types, (seq % 5 + 1).cast("int")).alias("event_type"),
        ((seq % 40000).cast("double") / 100).alias("value"),
        F.concat(
            F.lit('{"k": '), (seq % 100).cast("string"), F.lit("}")
        ).alias("props"),
    )


def drain_micro_batches(
    transformed: DataFrame,
    n_batches: int = 2,
    timeout_s: float = 60.0,
    on_batch: Callable[[DataFrame, int], None] | None = None,
) -> list[tuple[int, int]]:
    """Run an UNBOUNDED streaming plan and stop after `n_batches` non-empty
    micro-batches; raise TimeoutError if fewer arrive within `timeout_s`.
    Returns [(batch_id, row_count), ...] for the non-empty batches. This is
    the bounded-drain harness an unbounded source needs — availableNow
    (replay.drain) cannot terminate a rate stream."""
    spark = transformed.sparkSession
    done = threading.Event()
    seen: list[tuple[int, int]] = []

    def handler(batch_df: DataFrame, batch_id: int) -> None:
        cnt = batch_df.count()
        if cnt:
            seen.append((batch_id, cnt))
            if on_batch is not None:
                on_batch(batch_df, batch_id)
        if len(seen) >= n_batches:
            done.set()

    ckpt = _scratch("alsp_rate_ckpt_")
    with shuffle_scope(spark, "stream"):
        q = (
            transformed.writeStream.foreachBatch(handler)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="250 milliseconds")
            .start()
        )
        try:
            if not done.wait(timeout_s):
                raise TimeoutError(
                    f"rate drain saw {len(seen)} of {n_batches} non-empty "
                    f"micro-batches within {timeout_s:g} s"
                )
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    return seen

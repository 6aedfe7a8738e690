"""Stream-replay harness: run the `events` table as a Structured Streaming
source and materialize the result — the Lambda-handler execution model
(micro-batch over an ordered shard) mapped onto Spark (SURVEY.md §2.I, §3.3).

`availableNow` replays all existing files as bounded micro-batches with
checkpointing, exactly like an event-source mapping draining a shard; the
memory sink stands in for the DynamoDB/S3 sink and is swapped for
parquet/Kafka sinks in production (`foreachBatch` for arbitrary ones).

`drain` is the engine's only start→await→stop path for a bounded trigger
(availableNow or once). It stops the query, then raises TimeoutError naming
it if it ran past DRAIN_TIMEOUT_S, or the query's own exception if a
micro-batch failed — never partial rows.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from aws_lambda_stream_processing_spark.registry import track_cache
from aws_lambda_stream_processing_spark.session import WidthKind, shuffle_scope

# Explicit schema: streaming file sources cannot infer (and at 100 TB you
# pin schemas anyway). The 2026-08-13 testdata regen stores ts as NAIVE
# timestamp[us]; with inferTimestampNTZ disabled (session.RUNTIME_CONFS)
# Spark reads the stored micros verbatim as LTZ — identical to the batch
# loader (tables.load_table) and DuckDB's naive-as-UTC read. (The earlier
# TIMESTAMP(NANOS)-as-long era needed `ts BIGINT` + div-1000 here.)
EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)

# Deadline for every bounded drain, sized for the slowest rung
# (q_stream_sink_python_datasource's Python sink).
DRAIN_TIMEOUT_S = 180.0


def _scratch(prefix: str) -> str:
    """Streaming scratch dir (checkpoints, split inputs): tmpfs when the
    host has it — state-store commits are many tiny files and fsync-bound
    on disk (measured 30-40% of streaming query time at sf0.1). On a real
    cluster this is the RocksDB local dir + an object-store checkpoint."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as an unbounded DataFrame (file streaming source)."""
    # The file streaming source wants a directory; select just events.parquet
    # out of the sf dir with a glob filter.
    return (
        spark.readStream.schema(EVENTS_DDL)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def drain(writer: DataStreamWriter) -> StreamingQuery:
    """Start a writer configured with a bounded trigger, wait for it to
    finish and return the stopped query (its recentProgress stays
    readable). Raises TimeoutError naming the query when it is still
    running after DRAIN_TIMEOUT_S."""
    q = writer.start()
    try:
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            raise TimeoutError(
                f"stream {q.name or q.id} did not drain within "
                f"{DRAIN_TIMEOUT_S:g} s; refusing to return partial output"
            )
    finally:
        q.stop()
    return q


def run_to_memory(
    transformed: DataFrame,
    output_mode: str = "append",
    width_kind: WidthKind = "stream",
) -> DataFrame:
    """Execute a streaming plan with trigger(availableNow) into a memory
    sink; block until drained; return the materialized result as a batch DF.

    The run's shuffle width is the session's `width_kind` width
    (Python-stateful rungs pass "python_stream"). The sink's temp view is
    dropped when the next registry query builds (the cache janitor's
    contract: collect the frame before then).
    """
    spark = transformed.sparkSession
    name = "mem_" + uuid.uuid4().hex[:12]
    ckpt = _scratch("alsp_ckpt_")
    with shuffle_scope(spark, width_kind):
        try:
            drain(
                transformed.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
            )
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
    track_cache(lambda: spark.catalog.dropTempView(name))
    return spark.table(name)


def run_foreach_batch(
    transformed: DataFrame,
    handler: Callable[[DataFrame, int], None],
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> None:
    """The Lambda-handler equivalent: `handler(batch_df, batch_id)` runs once
    per micro-batch with exactly-once semantics (batch_id-keyed idempotence
    replaces Kinesis checkpoint-after-success). Unlike the memory sink,
    foreachBatch supports checkpoint recovery — pass `checkpoint` to resume
    offsets/watermark/state across runs (caller owns its cleanup)."""
    own_ckpt = checkpoint is None
    ckpt = checkpoint or _scratch("alsp_ckpt_")
    with shuffle_scope(transformed.sparkSession, "stream"):
        try:
            drain(
                transformed.writeStream.foreachBatch(handler)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
            )
        finally:
            if own_ckpt:
                shutil.rmtree(ckpt, ignore_errors=True)


def split_events_dir(
    spark: SparkSession,
    sf_dir: str,
    predicates: list[str],
) -> str:
    """Write `events` into one parquet file per predicate, with file mtimes
    in list order, so availableNow + maxFilesPerTrigger=1 replays them as
    ordered micro-batches (late-data / watermark testing — SURVEY §7.2).
    See split_table_dir for the mechanics."""
    return split_table_dir(spark, sf_dir, "events", predicates)


def split_table_dir(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    predicates: list[str],
) -> str:
    """Write `table` into one parquet file per predicate, with file mtimes
    in list order, so availableNow + maxFilesPerTrigger=1 replays them as
    ordered micro-batches. Predicates may OVERLAP — that replays the
    overlapping rows twice, the at-least-once redelivery a Kinesis
    consumer must tolerate (q_stream_llm_curation uses this).

    Returns the directory. Caller owns cleanup.

    The Spark write jobs run ONCE per (application, sf_dir, table,
    predicates) into a memoized master dir; every call hands back a fresh
    tmpfs COPY of those files (~ms), so callers keep delete-ownership
    while a multi-query sweep pays the split cost once, not per streaming
    query.
    """
    from aws_lambda_stream_processing_spark.tables import load_table

    key = (
        spark.sparkContext.applicationId, sf_dir, table, tuple(predicates)
    )
    stale = [k for k in _SPLIT_MEMO if k[0] != key[0]]
    for k in stale:
        shutil.rmtree(_SPLIT_MEMO.pop(k), ignore_errors=True)
    master = _SPLIT_MEMO.get(key)
    if master is None or not os.path.isdir(master):
        master = _scratch("alsp_stream_master_")
        events = load_table(spark, sf_dir, table)
        for i, pred in enumerate(predicates):
            part_dir = os.path.join(master, f"_stage_{i}")
            events.where(F.expr(pred)).coalesce(1).write.mode(
                "overwrite"
            ).parquet(part_dir)
            src = next(
                f for f in os.listdir(part_dir)
                if f.endswith(".parquet") and not f.startswith("_")
            )
            shutil.move(
                os.path.join(part_dir, src),
                os.path.join(master, f"batch_{i:03d}.parquet"),
            )
            shutil.rmtree(part_dir, ignore_errors=True)
        _SPLIT_MEMO[key] = master
    out = _scratch("alsp_stream_in_")
    now = time.time()
    for i in range(len(predicates)):
        name = f"batch_{i:03d}.parquet"
        dst = os.path.join(out, name)
        shutil.copy(os.path.join(master, name), dst)
        # FileStreamSource orders by modification time (oldest first).
        os.utime(dst, (now + i * 10, now + i * 10))
    return out


# (app_id, sf_dir, table, predicates) -> master split dir; see
# split_table_dir. tmpfs outlives the process, so masters are reaped at
# interpreter exit — the round-1 ADVICE tempdir-leak class, closed
# preemptively.
_SPLIT_MEMO: dict[tuple[str, str, str, tuple[str, ...]], str] = {}


def _reap_split_masters() -> None:
    for d in _SPLIT_MEMO.values():
        shutil.rmtree(d, ignore_errors=True)
    _SPLIT_MEMO.clear()


import atexit  # noqa: E402  (registration belongs next to the memo)

atexit.register(_reap_split_masters)

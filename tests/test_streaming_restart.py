"""Streaming restart / failure-recovery gates (SURVEY §5.3, §8 round-2
candidate): separate streaming RUNS sharing one checkpoint must behave like
one continuous stream — exactly-once output across restarts, keyed state
restored, no reprocessing of committed offsets. This is the Lambda
at-least-once concern (a re-deployed event-source mapping resumes from the
shard checkpoint, never re-invokes the handler for committed batches).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aws_lambda_stream_processing_spark.streaming import replay
from aws_lambda_stream_processing_spark.streaming.queries import SPLIT_DDL
from aws_lambda_stream_processing_spark.streaming.rate_demo import (
    drain_micro_batches,
    rate_events_stream,
)
from aws_lambda_stream_processing_spark.streaming.replay import (
    _scratch,
    drain,
    run_foreach_batch,
    split_events_dir,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture
def scratch_dirs():
    dirs: list[str] = []
    yield dirs
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def _plan(spark, input_dir):
    stream = (
        spark.readStream.schema(SPLIT_DDL)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    return stream.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("total"),
    )


def test_restart_without_new_input_emits_nothing(spark, scratch_dirs):
    """Re-starting a drained query from its checkpoint with no new files
    must not re-invoke the sink handler with data — committed micro-batches
    are never reprocessed (exactly-once across restarts)."""
    d = split_events_dir(spark, SF_DIR, ["true"])
    ckpt = _scratch("alsp_restart_ckpt_")
    scratch_dirs.extend([d, ckpt])

    batches: list[tuple[int, int]] = []

    def handler(batch_df, batch_id):
        batches.append((batch_id, batch_df.count()))

    run_foreach_batch(
        _plan(spark, d), handler, output_mode="complete", checkpoint=ckpt
    )
    assert sum(n for _, n in batches) > 0, "run 1 must emit the aggregate"
    seen_run1 = list(batches)

    # run 2: same checkpoint, no new input → zero data batches
    run_foreach_batch(
        _plan(spark, d), handler, output_mode="complete", checkpoint=ckpt
    )
    new = batches[len(seen_run1):]
    assert sum(n for _, n in new) == 0, (
        f"restart reprocessed committed input: {new}"
    )


def test_dedup_state_survives_restart(spark, scratch_dirs):
    """dropDuplicates keyed state must be restored on restart: run 1 drains
    the full table; run 2 (fresh process-equivalent: new query object, same
    checkpoint) receives the SAME rows again as a new file — a Kinesis batch
    retry straddling a redeploy — and must suppress every one of them."""
    d = split_events_dir(spark, SF_DIR, ["true"])
    ckpt = _scratch("alsp_dedup_ckpt_")
    scratch_dirs.extend([d, ckpt])

    emitted: list[int] = []

    def handler(batch_df, batch_id):
        emitted.append(batch_df.count())

    def plan():
        stream = (
            spark.readStream.schema(SPLIT_DDL)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        return stream.dropDuplicates(["event_id"]).select(
            "event_id", "user_id", "event_type", "value"
        )

    run_foreach_batch(plan(), handler, checkpoint=ckpt)
    n_total = sum(emitted)
    from aws_lambda_stream_processing_spark.tables import load_table

    assert n_total == load_table(spark, SF_DIR, "events").count()

    # redeliver the identical rows as a NEW file after the "redeploy"
    dup = split_events_dir(spark, SF_DIR, ["true"])
    scratch_dirs.append(dup)
    shutil.move(f"{dup}/batch_000.parquet", f"{d}/batch_redelivery.parquet")

    emitted.clear()
    run_foreach_batch(plan(), handler, checkpoint=ckpt)
    assert sum(emitted) == 0, (
        f"dedup state lost across restart: {sum(emitted)} rows re-emitted"
    )


def test_stateful_agg_continues_across_restart(spark, scratch_dirs):
    """A grouped aggregation's state must carry across a restart: half the
    data in run 1, the rest in run 2 (same checkpoint); the final complete-
    mode emission must equal the whole-table aggregate, not run 2's slice."""
    half = "ts < TIMESTAMP '2024-01-15 00:00:00'"
    d = split_events_dir(spark, SF_DIR, [half])
    ckpt = _scratch("alsp_cont_ckpt_")
    scratch_dirs.extend([d, ckpt])

    snapshots: list = []

    def handler(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:
            snapshots.append(rows)

    run_foreach_batch(
        _plan(spark, d), handler, output_mode="complete", checkpoint=ckpt
    )
    rest = split_events_dir(spark, SF_DIR, [f"NOT ({half})"])
    scratch_dirs.append(rest)
    shutil.move(f"{rest}/batch_000.parquet", f"{d}/batch_001.parquet")
    run_foreach_batch(
        _plan(spark, d), handler, output_mode="complete", checkpoint=ckpt
    )

    final = {r.event_type: (r.cnt, r.total) for r in snapshots[-1]}
    from aws_lambda_stream_processing_spark.tables import load_table

    expected = {
        r.event_type: (r.cnt, r.total)
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("total"),
        )
        .collect()
    }
    assert final == expected, (
        "restarted aggregate diverged from the batch truth"
    )


def test_timed_out_drains_raise_and_clean_up(spark, monkeypatch):
    """A drain that runs out of time raises instead of returning partial
    output, and leaves no running query and no owned checkpoint."""
    import os
    import time

    made: list[str] = []
    monkeypatch.setattr(replay, "DRAIN_TIMEOUT_S", 1.0)
    monkeypatch.setattr(
        replay, "_scratch", lambda p: made.append(_scratch(p)) or made[-1]
    )
    stream = replay.events_stream(spark, SF_DIR)
    with pytest.raises(TimeoutError, match="did not drain"):
        run_foreach_batch(stream, lambda _df, _bid: time.sleep(5))
    assert not spark.streams.active
    assert made and not any(os.path.exists(d) for d in made)

    # the unbounded-source drain counts batches instead, same contract
    rate = rate_events_stream(spark, rows_per_second=1)
    with pytest.raises(TimeoutError, match="of 1000 non-empty"):
        drain_micro_batches(rate, n_batches=1000, timeout_s=1.0)
    assert not spark.streams.active


def test_upsert_handler_is_idempotent_per_batch(spark):
    """Re-running a micro-batch against the same state version must
    converge to byte-identical state — the exactly-once-by-idempotence
    claim of q_stream_upsert_foreachbatch, exercised directly."""
    import os
    import shutil
    import tempfile

    from aws_lambda_stream_processing_spark.tables import load_table

    e = load_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    def latest(df):
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_type", "ts", "event_id")
        )

    base = tempfile.mkdtemp(prefix="alsp_upsert_idem_")
    try:
        b0 = e.where("ts < TIMESTAMP '2024-01-15 00:00:00'")
        b1 = e.where("ts >= TIMESTAMP '2024-01-15 00:00:00'")
        latest(b0).write.mode("overwrite").parquet(f"{base}/v0")

        def run_batch1():
            prior = spark.read.parquet(f"{base}/v0")
            merged = b1.select(
                "user_id", "event_type", "ts", "event_id"
            ).unionByName(prior)
            latest(merged).write.mode("overwrite").parquet(f"{base}/v1")
            return sorted(
                (r.user_id, r.event_type, r.ts)
                for r in spark.read.parquet(f"{base}/v1").collect()
            )

        first = run_batch1()
        second = run_batch1()  # crash-replay of the same batch
        assert first == second, "re-running a batch changed the state"
        # and the state equals the batch-truth latest row per user
        truth = sorted(
            (r.user_id, r.event_type, r.ts) for r in latest(e).collect()
        )
        assert first == truth
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_full_outer_join_does_not_reemit_after_restart(spark, scratch_dirs):
    """q_stream_stream_full_join's restart contract: a second run on the
    same checkpoint with no new input must emit ZERO rows. This is
    stricter than committed-offset replay alone — the watermark eviction
    flush runs on every availableNow run, so null-extended rows must be
    REMOVED from join state when first emitted, or a redeploy would
    re-emit every match-less row a second time (duplicate nulls in the
    sink = the at-least-once bug the checkpoint exists to prevent)."""
    d = split_events_dir(spark, SF_DIR, ["true"])
    ckpt = _scratch("alsp_foj_ckpt_")
    scratch_dirs.extend([d, ckpt])

    def plan():
        stream = (
            spark.readStream.schema(SPLIT_DDL)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
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
        return clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (
                F.col("p_ts")
                < F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
            "full_outer",
        ).select(
            "click_id",
            "purchase_id",
            F.coalesce("user_id", "p_user").alias("user_id"),
        )

    emitted: list[int] = []

    def handler(batch_df, batch_id):
        emitted.append(batch_df.count())

    # foreachBatch: the memory sink does not support checkpoint recovery
    run_foreach_batch(plan(), handler, checkpoint=ckpt)
    n_first = sum(emitted)
    assert n_first > 0, "run 1 emitted nothing — the probe is vacuous"

    emitted.clear()
    run_foreach_batch(plan(), handler, checkpoint=ckpt)
    assert sum(emitted) == 0, (
        f"restarted run re-emitted {sum(emitted)} rows "
        f"(first run: {n_first})"
    )


def test_python_stream_sink_restart_does_not_duplicate(spark, scratch_dirs):
    """The Python DataSourceStreamWriter sink (q_stream_sink_python_
    datasource's connector shape): restarting a DRAINED query from its
    checkpoint must publish no new epoch manifests and leave the
    committed row set unchanged — the per-epoch atomic-manifest commit
    turns at-least-once execution into exactly-once output across
    restarts too, not just across task retries."""
    import os

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    class _Msg(WriterCommitMessage):
        def __init__(self, path):
            self.path = path

    out = _scratch("alsp_pyds_restart_")
    scratch_dirs.append(out)

    class _W(DataSourceStreamWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            import uuid

            p = os.path.join(self.path, f"s_{uuid.uuid4().hex}.csv")
            with open(p, "w") as f:
                for row in iterator:
                    f.write(f"{row.event_id}\n")
            return _Msg(p)

        def commit(self, messages, batchId):
            m = os.path.join(self.path, f"_MANIFEST_b{batchId}")
            with open(m + ".tmp", "w") as f:
                for msg in messages:
                    f.write(msg.path + "\n")
            os.replace(m + ".tmp", m)

        def abort(self, messages, batchId):
            pass

    class _Sink(DataSource):
        @classmethod
        def name(cls):
            return "restart_manifest_sink"

        def streamWriter(self, schema, overwrite):
            return _W(self.options)

    spark.dataSource.register(_Sink)
    input_dir = split_events_dir(
        spark,
        SF_DIR,
        ["event_id % 2 = 0", "event_id % 2 = 1"],
    )
    scratch_dirs.append(input_dir)

    def run_once():
        drain(
            spark.readStream.schema(SPLIT_DDL)
            .option("maxFilesPerTrigger", "1")
            .parquet(input_dir)
            .select("event_id")
            .coalesce(1)
            .writeStream.format("restart_manifest_sink")
            .option("path", out)
            .option("checkpointLocation", out + "/ckpt")
            .trigger(availableNow=True)
        )

    def committed_rows():
        rows = []
        for fn in sorted(os.listdir(out)):
            if fn.startswith("_MANIFEST_b") and not fn.endswith(".tmp"):
                with open(os.path.join(out, fn)) as f:
                    for staged in f:
                        staged = staged.strip()
                        if staged:
                            with open(staged) as sf:
                                rows += [
                                    int(x) for x in sf if x.strip()
                                ]
        return sorted(rows)

    run_once()
    first = committed_rows()
    manifests_first = sorted(
        fn for fn in os.listdir(out) if fn.startswith("_MANIFEST_b")
    )
    assert first, "first run committed nothing"

    run_once()  # restart on the same checkpoint, no new input
    assert committed_rows() == first, "restart duplicated committed rows"
    assert (
        sorted(
            fn for fn in os.listdir(out) if fn.startswith("_MANIFEST_b")
        )
        == manifests_first
    ), "restart published new epoch manifests"

"""One benchmark run in a fresh Python process and JVM.

`run.py` starts this file with a JSON config path as its only argument and
reads back the result file the config names. The process imports the
engine, starts its session, caches the ten tables and drains one tiny
stream (set-up), then runs the chosen queries one after another, each
cold: `fn(spark, sf_dir)` and then `.toPandas()`. Result digests are
taken after the timed pass.

With `trace` set it also records spans at each layer boundary (build,
plan, collect), tags each query's jobs with a job group, keeps every
StreamingQueryProgress, and reads Spark's event log (switched on at launch
by `run.py`) after the session stops. Spans stay in memory and are written
with the result at the end.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

_EXCHANGE = re.compile(r"\b(?:ShuffleExchange|BroadcastExchange|Exchange|ReusedExchange)\b")


def _steal_s() -> float:
    """CPU time the host gave to other guests (all CPUs, /proc/stat): runs
    that lose more of it are slower across the board."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000


def _retained_heap_mb(spark) -> float:
    """Heap in use after explicit full collections (outside the clock).

    Spark's ContextCleaner frees broadcast and shuffle blocks on its own
    thread once a collection has found them unreachable, and a later
    collection then reclaims them: after a pass the figure fell from about
    400 MB to about 130 MB within two seconds. So this takes the lowest of
    eight readings, 0.5 s apart, each after a full collection."""
    import gc

    gc.collect()  # drop py4j proxies that keep JVM objects alive
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings = []
    for _ in range(8):
        jvm.System.gc()
        time.sleep(0.5)
        readings.append((rt.totalMemory() - rt.freeMemory()) / 1048576)
    return min(readings)


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _mem_views(spark) -> int:
    return sum(
        1 for t in spark.catalog.listTables() if t.isTemporary and t.name.startswith("mem_")
    )


def _warm_up(spark, events) -> None:
    """One tiny availableNow drain, inside set-up: 200 events through a
    daily count into a memory sink, then collected with toPandas. In a
    fresh JVM the first stream of a pass otherwise pays for loading and
    compiling the streaming code, the memory sink, the Arrow collect path
    and the listener's first Python callback (seconds), so the first rung
    of a pass was its slowest."""
    import tempfile

    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="pb_warm_")
    src = os.path.join(tmp, "src")
    events.limit(200).write.parquet(src)
    daily = spark.readStream.schema(events.schema).parquet(src).groupBy(F.to_date("ts")).count()
    q = (
        daily.writeStream.format("memory")
        .queryName("pb_warm_up")
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    spark.table("pb_warm_up").toPandas()
    spark.catalog.dropTempView("pb_warm_up")


def _listener(keep_progress: bool):
    """A StreamingQueryListener that maps each stream's runId to the query
    being built and keeps (or only counts) its progress events."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.current: str | None = None
            self.run_ids: dict[str, str] = {}
            self.progress: list[dict] = []
            self.batches = 0

        # onQueryStarted runs synchronously inside DataStreamWriter.start(),
        # so `current` is still the query whose builder started the stream.
        def onQueryStarted(self, event):
            self.run_ids[str(event.runId)] = self.current

        def onQueryProgress(self, event):
            self.batches += 1
            if keep_progress:
                self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Recorder()


def main(cfg_path: str) -> int:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    t_proc = cfg["spawned_at"]  # time.time() just before this process was spawned
    trace = cfg["trace"]
    sf_dir = cfg["sf_dir"]
    names = cfg["queries"]

    from aws_lambda_stream_processing_spark.registry import load_all
    from aws_lambda_stream_processing_spark.session import get_spark
    from aws_lambda_stream_processing_spark.tables import TABLES, load_table

    registry = load_all()
    t_sess = time.time()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t_tables = time.time()
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    t_warm = time.time()
    sc = spark.sparkContext
    rec = _listener(keep_progress=trace)
    spark.streams.addListener(rec)
    _warm_up(spark, load_table(spark, sf_dir, "events"))
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    rec.run_ids.clear()
    rec.progress.clear()
    rec.batches = 0
    t_ready = time.time()
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    base_rdds = _persisted_rdds(spark)
    cached_parts = sum(i.numCachedPartitions() for i in sc._jsc.sc().getRDDStorageInfo())

    results: dict[str, dict] = {}
    frames: dict[str, object] = {}
    spans: list[dict] = []
    rdds_max = 0
    steal0 = _steal_s()
    gc0 = _jvm_gc_s(spark)
    pass_start = time.perf_counter()
    for name in names:
        fn = registry[name].fn
        rec.current = name
        if trace:
            sc.setJobGroup(f"pb:{name}", name)
        t0 = time.perf_counter()
        e0 = time.time()
        try:
            df = fn(spark, sf_dir)
            e1 = time.time()
            if trace:
                plan = df._jdf.queryExecution().executedPlan().toString()
            e2 = time.time()
            pdf = df.toPandas()
            e3 = time.time()
            latency = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - one failing query is a result, not a crash
            results[name] = {"error": f"{type(exc).__name__}: {exc}"[:500]}
            continue
        frames[name] = pdf
        results[name] = {"latency_s": latency, "rows": len(pdf), "oracle": registry[name].oracle}
        if trace:
            results[name]["exchanges"] = len(_EXCHANGE.findall(plan))
            spans.append(
                {"query": name, "start": e0, "build_end": e1, "plan_end": e2, "end": e3}
            )
            rdds_max = max(rdds_max, _persisted_rdds(spark) - base_rdds)
    wall_s = time.perf_counter() - pass_start
    df = pdf = None  # the last query's frames must not outlive the pass
    steal_s = _steal_s() - steal0
    sc.setLocalProperty("spark.jobGroup.id", None)
    rec.current = None

    gc_s = _jvm_gc_s(spark) - gc0
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    out = {
        "setup_s": t_ready - t_proc,
        "session_start_s": t_tables - t_sess,
        "tables_cache_s": t_warm - t_tables,
        "warm_up_s": t_ready - t_warm,
        "wall_s": wall_s,
        "retained_heap_mb": _retained_heap_mb(spark),
        "results": results,
        "stream_batches": rec.batches,
        "host_steal_s": steal_s,
        "context": {
            "spark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "driver_memory": sc.getConf().get("spark.driver.memory", ""),
            "heap_max_mb": spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 1048576,
        },
    }
    if trace:
        out["trace"] = {
            "cached_partitions": cached_parts,
            "persisted_rdds_max": rdds_max,
            "gc_s": gc_s,
            "peak_rss_mb": _peak_rss_mb(jvm_pid),
            "mem_views_left": _mem_views(spark),
            "spans": spans,
            "run_ids": rec.run_ids,
            "progress": rec.progress,
        }
    spark.stop()

    # Digests after the clock: sorted columns, then sorted canonical rows.
    from perfbench.check import digest

    t_digest = time.perf_counter()
    for name, pdf in frames.items():
        results[name]["digest"] = digest(pdf)
    out["digest_s"] = time.perf_counter() - t_digest
    with open(cfg["result"], "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))

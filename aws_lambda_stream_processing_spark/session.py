"""SparkSession factory — the engine's runtime posture and its one width
policy.

Scale posture (SURVEY.md §4): AQE on (runtime re-plan, skew-join splitting,
partition coalescing), UTC session timezone (oracle parity), modest shuffle
partition count for local benches. On a real 1000-executor cluster the same
code runs with `spark.sql.shuffle.partitions` sized to ~2-3× total cores and
RocksDB state store for streaming state; nothing here is local-mode-specific
except the master URL.

Width policy: every partition count the engine chooses comes from
`width(spark, kind, est_bytes)`, one clamp min(cap, max(floor, ceil(n /
target))) over the numbers below (P = sparkContext.defaultParallelism).
Results are partitioning-invariant (the determinism gates re-run queries
under shuffle.partitions=1), so width only moves time.

  kind           n                target   floor  cap
  cache          on-disk bytes    2 MiB    4      P
  range          sizeInBytes est  128 MiB  8      4P
  compute        -                -        -      spark.sql.shuffle.partitions
  eager          -                -        -      P
  stream         -                -        -      4
  python_stream  P                1        4      16

- cache: fixture parquet is one unsplittable row group, so a cached table
  runs every map stage on one task; floor 4 because a width-1 cache
  serialized the per-row JSON/XML/edit-distance rungs (r13: 17.7 s at
  floor 1 vs 9.2 s at floor 4, sub-second control unchanged), and bytes,
  not cores, above it because the r12 blanket P-width cost every
  sub-second query a 32-task wave.
- range: dprefix range shuffles (two-phase prefix sums); floor 8 keeps the
  multi-partition merge exercised, the 128 MiB target widens corpus-scale
  inputs. An estimate >= spark.sql.defaultSizeInBytes is the optimizer's
  "unknown", which falls back to the floor.
- compute: stages whose per-row cost AQE's byte-based coalescing cannot
  see (Python kernels, GEMM blocks, O(frame) windows); r12: AQE folded
  them to one partition and serialized them (q_udf_grouped_map 5.2 s
  serial vs 1.7 s pinned). See `pin_width`.
- eager: jobs run inside a builder under a possibly hostile session (a
  vanilla 200 costs ~3× in scheduling per round: 20 s vs 7 s at sf0.01).
- stream: one state store per shuffle partition per stateful operator;
  r2 ladder on the stream-stream join, 7.3 s at 32 → 2.5 s at 8, ~0.5 s
  more at 4, flat at 2.
- python_stream: applyInPandasWithState cost is the per-key pandas
  handler, not the store count; r12 ladder on q_stream_custom_state,
  5.2 / 3.5 / 2.7 s at 4 / 8 / 16.

Literal widths that set LAYOUT, not compute width, stay at their sites:
file-count coalesce(N) before writes, source options such as the rate
source's numPartitions, and scale.py's static-200 AQE coalescing demo.
"""

from __future__ import annotations

import os
from typing import Literal

from pyspark.sql import DataFrame, SparkSession

# Runtime-settable confs every query assumes. Applied defensively per query
# build as well (the driver may hand us a session we didn't configure).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # events.ts is parquet TIMESTAMP(NANOS); Spark has no ns timestamp type.
    # Read as raw nanos and convert to µs in tables.load_table — identical
    # truncation to DuckDB 1.0's ns→µs read (verified).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The 2026-08-13 testdata regen switched ts/o_orderdate/l_shipdate to
    # NAIVE timestamp[us] parquet. Spark 4 infers those as TIMESTAMP_NTZ,
    # which breaks unix_micros() and every LTZ-assuming expression. Read
    # them as LTZ instead: parquet micros are taken verbatim as epoch
    # micros (no zone shift), which under the pinned UTC session equals
    # DuckDB's naive-as-UTC read — bit-identical to the old behavior.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Arrow-batched toPandas: OSS Spark defaults this OFF, so a vanilla
    # driver session materializes results row-by-row over py4j — measured
    # 4.1 s for the 60k-row cast matrix vs ~0.5 s with Arrow. Values are
    # identical either way (same doubles, same pd.Timestamp); it's purely
    # the transfer encoding, and it's runtime-settable.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Pin the confs that affect result parity on an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment; defaults are acceptable
    # A vanilla session ships shuffle.partitions=200: at small SFs that is
    # ~6× the machine's cores in pure task-scheduling overhead per
    # exchange. Results are partitioning-independent (the determinism
    # gates re-run queries under partitions=1), so pin to the actual
    # parallelism. Never raise above an explicitly configured value — on
    # a real cluster the operator sizes this to 2-3× total cores.
    try:
        cores = spark.sparkContext.defaultParallelism
        if int(spark.conf.get("spark.sql.shuffle.partitions")) > 4 * cores:
            spark.conf.set("spark.sql.shuffle.partitions", str(cores))
    except Exception:
        pass
    return spark


def get_spark(app_name: str = "alsp-spark-engine") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        # 12g, not the box's full 128 GiB share: the suite's working set
        # is far below either, and on a huge heap G1's rare-but-massive
        # mixed collections become the measured bench tail (r10: gc_total
        # 40-143 s/session). Controlled r11 A/B, full 537-query suite,
        # best-of-2, 3 fresh sessions per config on one box: 32g heap →
        # min-of-3 414.0 s, gc_total 63-90 s/run; 12g heap → min-of-3
        # 372.5 s, gc_total 17-41 s/run (median per-query ratio 0.887,
        # streaming family ~+1 s total worse, graphs/joins far better).
        # Raise via SPARK_DRIVER_MEM when an operator genuinely needs it.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        # A full-surface sweep (273 queries) emits thousands of Janino
        # whole-stage-codegen classes; the JVM's default 240 MB reserved
        # code cache fills mid-suite, the JIT shuts off, and every later
        # query (even pure columnar maps) runs interpreted at ~10x cost.
        # Reserve real headroom and let HotSpot flush cold compilations.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # Long sweeps accumulate shuffle files + broadcast blocks that the
        # ContextCleaner only releases after a JVM GC notices the weak
        # refs; with a 32 g heap full GCs are rare, so force a periodic
        # sweep well under the 30 min default.
        .config("spark.cleaner.periodicGC.interval", "60s")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # User-owned warehouse, not a world-shared /tmp path (same
        # hazard class as the r10 ADVICE on the graph artifact caches:
        # under /tmp another local user can pre-own the fixed path and
        # break or shadow managed-table writes; the CTAS rung's
        # drop-and-clean already prevents silent READ poisoning, so the
        # residual risk was write failure, but the fix is one line).
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(
                os.path.expanduser("~"), ".cache", "alsp_warehouse"
            ),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_MIB = 1024 * 1024

WidthKind = Literal[
    "cache", "range", "compute", "eager", "stream", "python_stream"
]


def width_rule(
    kind: WidthKind,
    p: int,
    est: int = 0,
    shuffle: int = 0,
    unknown: int = 2**63 - 1,
) -> int:
    """The width table as a pure function of numbers: `p` is the
    session's parallelism, `est` the byte term of cache/range, `shuffle`
    the session's shuffle width, and an `est` >= `unknown` is no
    estimate at all (the kind's floor)."""
    if est >= unknown:
        est = 0
    n, target, floor, cap = {
        "cache": (est, 2 * _MIB, 4, p),
        "range": (est, 128 * _MIB, 8, 4 * p),
        "compute": (shuffle, 1, 1, shuffle),
        "eager": (p, 1, 1, p),
        "stream": (4, 1, 1, 4),
        "python_stream": (p, 1, 4, 16),
    }[kind]
    return min(cap, max(floor, -(-n // target)))


def width(
    spark: SparkSession, kind: WidthKind, est_bytes: int | None = None
) -> int:
    """Partition count for `kind` on this session (module docstring
    table). `est_bytes` is the size term of cache/range; None means the
    size is unknown."""
    p = spark.sparkContext.defaultParallelism
    shuffle = 0
    if kind == "compute":
        shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if est_bytes is None:
        return width_rule(kind, p, shuffle=shuffle)
    # a bytes conf ("8EB", "10m", ...): read the session's parsed value
    unknown = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()  # noqa: SLF001
    return width_rule(kind, p, est_bytes, shuffle, unknown)


def pin_width(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition to the `compute` width ahead of a stage whose per-row
    cost AQE cannot see.

    AQE's partition coalescing sizes post-shuffle partitions by BYTES —
    right for JVM relational stages, blind to Python kernels
    (applyInPandas / mapInPandas GEMM blocks) and O(|frame|) window
    re-aggregations. An explicit numPartitions repartition is exempt
    from AQE coalescing, and a downstream groupBy/cogroup/window on the
    same keys reuses the hash partitioning, so no second exchange
    appears (guide §2.4/§2.5). With no keys the repartition is
    round-robin (for per-row kernels where placement is free).
    """
    from pyspark.sql import functions as F

    return df.repartition(
        width(df.sparkSession, "compute"), *[F.col(k) for k in keys]
    )


class conf_scope:
    """Set/restore session confs around an eager execution or a stream
    run (the engine must leave the driver's session exactly as it found
    it): confs that were unset before are unset again on exit."""

    def __init__(self, spark: SparkSession, confs: dict[str, str]):
        self.spark, self.confs = spark, confs

    def __enter__(self):
        # Exception-safe: if a conf.set fails partway, __exit__ would
        # never run (the with-body is never entered), so roll back the
        # already-applied confs here before re-raising.
        self.saved = {}
        try:
            for k, v in self.confs.items():
                try:
                    self.saved[k] = self.spark.conf.get(k)
                except Exception:  # noqa: BLE001 - unset conf
                    self.saved[k] = None
                self.spark.conf.set(k, v)
        except BaseException:
            self.__exit__()
            raise

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


def shuffle_scope(spark: SparkSession, kind: WidthKind) -> conf_scope:
    """conf_scope pinning spark.sql.shuffle.partitions to the `kind`
    width (the eager and streaming sections)."""
    return conf_scope(
        spark, {"spark.sql.shuffle.partitions": str(width(spark, kind))}
    )

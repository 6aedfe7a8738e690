"""Width policy gates (session.width / session.width_rule).

Every expectation is driven through the pure clamp at explicit core
counts, or derived from the live session's own policy, so the suite
passes on any host: no assertion reads the machine's core count.
"""

from __future__ import annotations

import io
import os
import re
import tokenize
from pathlib import Path

import pytest

from aws_lambda_stream_processing_spark.session import width, width_rule

CORES = (1, 2, 4, 8, 32)
MIB = 1024 * 1024
LONG_MAX = 2**63 - 1


@pytest.mark.parametrize(
    "est, expect",
    [
        # kilobyte fixtures sit at the floor of 4 (capped at P)
        (1024, {1: 1, 2: 2, 4: 4, 8: 4, 32: 4}),
        # an unreadable file (0 bytes) is the floor too
        (0, {1: 1, 2: 2, 4: 4, 8: 4, 32: 4}),
        # 11 MiB / 2 MiB -> a byte term of 6, above the floor
        (11 * MIB, {1: 1, 2: 2, 4: 4, 8: 6, 32: 6}),
        # a table past P * 2 MiB spreads to every core
        (1024**4, {1: 1, 2: 2, 4: 4, 8: 8, 32: 32}),
    ],
)
def test_cache_width_floor_bytes_and_cap(est, expect):
    assert {p: width_rule("cache", p, est) for p in CORES} == expect


@pytest.mark.parametrize(
    "est, expect",
    [
        # grids/rollups (800 B estimates) stay at the floor of 8; on
        # one core the 4P cap wins
        (800, {1: 4, 2: 8, 4: 8, 8: 8, 32: 8}),
        # just past 1 GiB / 128 MiB -> 9, capped at 4P = 8 on 2 cores
        (1024**3 + 1, {1: 4, 2: 8, 4: 9, 8: 9, 32: 9}),
        # corpus scale hits the 4P cap
        (100 * 1024**4, {1: 4, 2: 8, 4: 16, 8: 32, 32: 128}),
        # spark.sql.defaultSizeInBytes: no statistics -> the floor,
        # never the cap
        (LONG_MAX, {1: 4, 2: 8, 4: 8, 8: 8, 32: 8}),
    ],
)
def test_range_width_floor_and_cap(est, expect):
    assert {p: width_rule("range", p, est) for p in CORES} == expect


def test_unknown_threshold_follows_the_session_default():
    """An estimate at or past the session's defaultSizeInBytes is
    unknown (the floor); below it, the same estimate is a real size."""
    four_gib = 4 * 1024**3
    assert width_rule("range", 8, four_gib, unknown=four_gib) == 8
    assert width_rule("range", 8, four_gib, unknown=four_gib + 1) == 32
    assert width_rule("range", 8, four_gib) == 32


def test_python_stream_width_clamps_parallelism():
    got = {p: width_rule("python_stream", p) for p in (*CORES, 12)}
    assert got == {1: 4, 2: 4, 4: 4, 8: 8, 32: 16, 12: 12}


def test_fixed_and_session_widths():
    for p in CORES:
        assert width_rule("stream", p) == 4
        assert width_rule("eager", p) == p
        assert width_rule("compute", p, shuffle=200) == 200
        assert width_rule("compute", p, shuffle=3) == 3


def test_cached_table_has_the_cache_width(spark, monkeypatch):
    """Under ALSP_CACHE_TABLES=1 a fact table is spread to exactly the
    session's cache width for its on-disk size, and a broadcast dim
    stays single-partition. sf0.01 keeps the memo entries clear of the
    suite's uncached SF_DIR frames."""
    from aws_lambda_stream_processing_spark import tables as T

    sf_dir = "/root/testdata/sf0.01"
    path = f"{sf_dir}/events.parquet"
    monkeypatch.setenv("ALSP_CACHE_TABLES", "1")
    app = spark.sparkContext.applicationId
    try:
        df = T.load_table(spark, sf_dir, "events")
        expect = width(spark, "cache", os.path.getsize(path))
        assert df.rdd.getNumPartitions() == expect
        assert T.load_table(spark, sf_dir, "nation").rdd.getNumPartitions() == 1
    finally:
        for name in ("events", "nation"):
            frame = T._MEMO.pop((app, sf_dir, name), None)
            if frame is not None:
                frame.unpersist()


def _range_parts(df) -> int:
    plan = df._jdf.queryExecution().logical().toString()  # noqa: SLF001
    m = re.search(r"RepartitionByExpression \[[^\]]*ASC[^\]]*\], (\d+)", plan)
    assert m, plan
    return int(m.group(1))


def test_unknown_estimate_ranges_at_the_floor(spark):
    """dprefix.ranged over a frame whose optimizer estimate is
    spark.sql.defaultSizeInBytes (an RDD-backed LogicalRDD) uses the
    range floor, not the 4P cap; a frame with a real 800 B estimate
    gets the same width."""
    from aws_lambda_stream_processing_spark.operators.dprefix import ranged

    def est(df):
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()  # noqa: SLF001
        )

    unknown = spark.range(100).toDF("k").rdd.toDF()
    known = spark.range(100).toDF("k")
    assert est(unknown) >= LONG_MAX
    assert est(known) < 1024
    for df in (unknown, known):
        out = ranged(df, [("k", True)])
        try:
            assert _range_parts(out) == width_rule("range", 2, 800) == 8
        finally:
            out.unpersist()


_PKG = Path(__file__).resolve().parent.parent / "aws_lambda_stream_processing_spark"
_SHUFFLE = "spark.sql.shuffle.partitions"
# scale.py's AQE-coalescing rung plans under the static 200 on purpose
_ALLOWED = {("operators/scale.py", '"spark.sql.shuffle.partitions": "200",')}


def _width_lines(path: Path) -> list[tuple[int, str]]:
    """Lines outside comments that read defaultParallelism or name the
    shuffle-partitions conf as a string literal."""
    src = path.read_text()
    lines = src.splitlines()
    hits = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            continue
        if "defaultParallelism" in tok.string or (
            tok.type == tokenize.STRING
            and tok.string.strip("\"'") == _SHUFFLE
        ):
            hits.add(tok.start[0])
    return [(n, lines[n - 1].strip()) for n in sorted(hits)]


def test_only_session_decides_widths():
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        for n, line in _width_lines(path):
            if rel != "session.py" and (rel, line) not in _ALLOWED:
                offenders.append(f"{rel}:{n}: {line}")
    assert not offenders, "\n".join(offenders)
    # the scanner is live: it sees session.py's own reads
    assert _width_lines(_PKG / "session.py")

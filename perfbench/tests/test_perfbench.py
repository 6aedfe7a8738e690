"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

Everything except the last test is pure Python. The last one starts a
real worker (Spark, about a minute) from a foreign working directory.
"""

from __future__ import annotations

import json
import os
import random
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gendata, trace, workloads  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_and_workload_names_use_the_allowed_charset():
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    units = [m["unit"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(UNIT.match(u) for u in units)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in spec["end_to_end"]
    assert set(names[: len(spec["workloads"])]) <= set(workloads.WORKLOADS)


@pytest.mark.parametrize("n,pct", [(100, 90), (41, 75), (31, 67), (20, 50), (19, None), (5, None)])
def test_tail_percentile_keeps_ten_samples_above(n, pct):
    assert trace.tail_percentile(n) == pct


@pytest.mark.parametrize("n", [20, 31, 41, 57, 100, 537])
def test_tail_value_has_at_least_ten_larger_samples(n):
    xs = random.Random(n).sample(range(10 * n), n)
    value, label, count = trace.tail([float(x) for x in xs])
    assert count == n and label == f"p{trace.tail_percentile(n)}"
    assert sum(x > value for x in xs) >= trace.TAIL_ABOVE
    # ...and it is the highest such percentile: one rank up has fewer.
    assert sum(x > value for x in xs) < trace.TAIL_ABOVE + n / 100 + 1


def test_small_samples_report_the_interpolated_upper_quartile():
    assert trace.tail([3.0, 1.0, 2.0]) == (2.5, "p75", 3)
    assert trace.tail([6.0, 1.0, 2.0, 3.0, 4.0, 5.0]) == (4.75, "p75", 6)
    assert trace.tail([7.0]) == (7.0, "p75", 1)


def test_sample_is_fixed_sorted_and_sized_from_seconds():
    for w in workloads.WORKLOADS:
        a = workloads.select(w, 12)
        assert a == workloads.select(w, 12) == sorted(set(a))
        assert len(a) == workloads.sample_size(w, 12)
        assert set(a) <= set(workloads.WORKLOADS[w]["queries"])
    light = workloads.select("batch_light", 60)
    assert len(light) > len(workloads.select("batch_light", 12))


def test_sample_spans_the_pool_time_range():
    pool = workloads.WORKLOADS["batch_light"]["queries"]
    secs = sorted(t for _, t in pool.values())
    picked = sorted(pool[n][1] for n in workloads.select("batch_light", 40))
    # one pick per time stratum: the picks reach both outer quartiles
    assert picked[0] <= secs[len(secs) // 4] and picked[-1] >= secs[3 * len(secs) // 4]


def test_frozen_split_matches_its_rule():
    pools = {w: s["queries"] for w, s in workloads.WORKLOADS.items()}
    assert sum(len(p) for p in pools.values()) == 537
    assert all(m == "streaming.queries" for m, _ in pools["stream_replay"].values())
    for w, below in (("batch_light", True), ("batch_heavy", False)):
        for m, secs in pools[w].values():
            assert m != "streaming.queries" and (secs < 1.0) == below


def test_event_log_parser_on_a_recorded_log():
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as fh:
        lines = fh.readlines()
    log = trace.parse_event_log(lines)
    assert sorted(j["group"] for j in log["jobs"].values()) == ["pb:q_small_agg", "pb:q_small_count"]
    assert all(j["ok"] for j in log["jobs"].values())
    m = trace.exec_metrics(log, cores=2)
    events = [json.loads(x) for x in lines]
    task_ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert (m["exec.jobs"], m["exec.stages"], m["exec.tasks"]) == (2, 4, len(task_ends))
    run_s = sum(e["Task Metrics"]["Executor Run Time"] for e in task_ends) / 1000
    assert m["exec.task_run_s"] == pytest.approx(run_s)
    assert m["shuffle.write_bytes"] == m["shuffle.read_bytes"] > 0
    assert m["exec.failed_tasks"] == 0 and m["spill.bytes"] == 0
    assert 0 < m["exec.busy_frac"] <= 1 and m["exec.stage_skew"] >= 1
    starts = [j["start"] for j in log["jobs"].values()]
    ends = [j["end"] for j in log["jobs"].values()]
    assert m["exec.s"] <= max(ends) - min(starts)


def test_jobs_are_tied_to_queries_by_group_run_id_or_time():
    jobs = {
        0: {"group": "pb:q_a", "start": 5.0},
        1: {"group": "run-1", "start": 6.0},
        2: {"group": None, "start": 11.0},
        3: {"group": None, "start": 30.0},
    }
    spans = [{"query": "q_a", "start": 0.0, "end": 10.0},
             {"query": "q_b", "start": 10.0, "end": 20.0}]
    trace.assign_jobs(jobs, spans, {"run-1": "q_stream"})
    assert [jobs[i]["query"] for i in range(4)] == ["q_a", "q_stream", "q_b", None]
    assert [jobs[i]["tied_by"] for i in range(4)] == ["group", "run_id", "time", None]


def test_self_time_subtracts_covered_child_time_once():
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert trace.self_time(0, 10, [(1, 3), (2, 4), (9, 12)]) == 10 - 3 - 1


def _spans():
    return [{"query": "q_a", "start": 0.0, "build_end": 4.0, "plan_end": 5.0, "end": 10.0},
            {"query": "q_b", "start": 10.0, "build_end": 12.0, "plan_end": 13.0, "end": 20.0}]


def test_layers_account_for_latency_when_jobs_are_tied_right():
    jobs = {0: {"query": "q_a", "start": 1.0, "end": 3.0},
            1: {"query": "q_a", "start": 6.0, "end": 9.0},
            2: {"query": "q_b", "start": 14.0, "end": 19.0}}
    acc = trace.account(_spans(), jobs, {"q_a": 10.0, "q_b": 10.0})
    assert acc["residual_s"] == pytest.approx(0.0) and acc["outside_s"] == 0.0
    assert (acc["build_s"], acc["plan_s"], acc["transfer_s"], acc["exec_s"]) == (4.0, 2.0, 4.0, 10.0)
    assert acc["build_jobs"] == 1


def test_residual_shows_a_job_tied_to_the_wrong_query():
    jobs = {0: {"query": "q_a", "start": 1.0, "end": 3.0},
            1: {"query": "q_a", "start": 14.0, "end": 19.0}}  # ran inside q_b
    acc = trace.account(_spans(), jobs, {"q_a": 10.0, "q_b": 10.0})
    assert acc["residual_s"] == pytest.approx(10.0)  # +5 s on q_a, -5 s on q_b
    assert acc["outside_s"] == pytest.approx(5.0)


def test_residual_shows_a_job_running_past_its_query():
    jobs = {0: {"query": "q_a", "start": 8.0, "end": 12.0}}  # q_a's stream outlives it
    acc = trace.account(_spans(), jobs, {"q_a": 10.0, "q_b": 10.0})
    assert acc["outside_s"] == pytest.approx(2.0)
    assert acc["residual_s"] == pytest.approx(2.0 + 2.0)


def _progress(run_id, batch, trigger, add, rows, state=None):
    return {
        "runId": run_id, "batchId": batch, "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger, "addBatch": add, "queryPlanning": 10,
                       "walCommit": 5, "commitOffsets": 4, "latestOffset": 3, "getBatch": 2},
        "stateOperators": state or [],
    }


def test_listener_aggregation_on_canned_progress():
    op = lambda rows, mem, commit: {"numRowsTotal": rows, "memoryUsedBytes": mem, "commitTimeMs": commit}  # noqa: E731
    progress = [
        _progress("r1", 0, 100, 60, 10, [op(5, 1000, 7)]),
        _progress("r1", 1, 300, 200, 20, [op(8, 1500, 9)]),
        _progress("r2", 0, 200, 150, 30),
    ]
    m = trace.stream_metrics(progress, n_queries=2, stream_build_s=1.0)
    assert m["stream.queries"] == 2 and m["stream.batches"] == 3
    assert m["stream.batch_p50_ms"] == 200 and m["stream.batch_tail_ms"] == 250
    assert m["stream.trigger_s"] == pytest.approx(0.6)
    assert m["stream.add_batch_s"] == pytest.approx(0.41)
    assert m["stream.plan_s"] == pytest.approx(0.03)
    assert m["stream.wal_s"] == pytest.approx(0.027)
    assert m["stream.offsets_s"] == pytest.approx(0.015)
    assert m["stream.start_stop_s"] == pytest.approx(0.4)
    assert m["stream.input_rows"] == 60
    # state size is read from each stream's last batch; commit time sums
    assert m["stream.state_rows"] == 8 and m["stream.state_mem_bytes"] == 1500
    assert m["stream.state_commit_s"] == pytest.approx(0.016)


def test_no_progress_reads_zero():
    m = trace.stream_metrics([], n_queries=0, stream_build_s=0.0)
    assert m["stream.batches"] == 0 and m["stream.batch_tail_ms"] == 0.0


def test_injected_error_and_mismatch_count_as_failed():
    import pandas as pd

    good = check.digest(pd.DataFrame({"B": [2, 1], "a": ["x", "y"]}))
    same = check.digest(pd.DataFrame({"a": ["y", "x"], "b": [1, 2]}))
    assert good == same  # column order, row order and case do not matter
    results = {
        "q_ok": {"digest": good, "oracle": "ok"},
        "q_raises": {"error": "RuntimeError: injected"},
        "q_wrong": {"digest": good, "oracle": "other"},
    }
    oracle = {"ok": good, "other": check.digest(pd.DataFrame({"a": ["x"], "b": [2]}))}
    failures = check.judge(results, oracle.__getitem__)
    assert sorted(failures) == ["q_raises", "q_wrong"]
    assert len(failures) / len(results) == pytest.approx(2 / 3)


def test_digest_is_the_driver_sim_canonical_multiset():
    import hashlib

    import pandas as pd

    from scripts.driver_sim import canon_frame

    df = pd.DataFrame({
        "I": [3, 1, 2, 1],
        "f": [0.1, float("nan"), 2.0, 0.1],
        "s": ["b", None, "a", "b"],
        "t": pd.to_datetime(["2024-01-02", "2024-01-01", None, "2024-01-02"]),
        "u": pd.to_datetime(["2024-01-02 03:04:05.000007", "1999-12-31 23:59:59",
                             "2024-01-01 00:00:00.5", "2024-01-02"], format="ISO8601"),
        "a": [[1.5, 2.0], None, [], [1.5, 2.0]],
        "b": [True, False, True, True],
    })
    ref = df.copy()
    ref.columns = [c.lower() for c in ref.columns]
    h = hashlib.sha256(json.dumps(sorted(ref.columns)).encode())
    h.update(f"|{len(ref)}|".encode())
    for row in canon_frame(ref):
        h.update("\x1f".join(row).encode() + b"\x1e")
    assert check.digest(df) == h.hexdigest()
    assert check.digest(df.iloc[::-1]) == h.hexdigest()
    assert check.digest(df.assign(f=[0.1, float("nan"), 2.0, 0.2])) != h.hexdigest()


def test_generated_tables_are_deterministic(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gendata.write(str(a), sf=0.001)
    gendata.write(str(b), sf=0.001)
    assert check.data_identity(str(a)) == check.data_identity(str(b))
    import pyarrow.parquet as pq

    events = pq.read_table(a / "events.parquet")
    assert str(events.schema.field("ts").type) == "timestamp[us]"
    assert events.column("ts").to_pandas().is_monotonic_increasing
    assert set(events.column("user_id").to_pylist()) == set(range(15))
    docs = pq.read_table(a / "documents.parquet").column("text").to_pylist()
    assert len(set(docs)) == len(docs) == 500
    emb = pq.read_table(a / "embeddings.parquet").column("embedding").to_pylist()
    assert all(abs(sum(x * x for x in v) - 1) < 1e-5 for v in emb)


def test_sf01_corpus_has_eight_exact_duplicate_pairs():
    import numpy as np

    docs = gendata._documents(np.random.default_rng(0), 5000).column("text").to_pylist()
    assert len(docs) - len(set(docs)) == 8


def test_python_workers_import_the_engine_from_a_foreign_cwd(tmp_path, monkeypatch):
    """Queries whose Spark Python workers import the engine, run by a
    worker whose cwd is outside the repository."""
    pytest.importorskip("pyspark")
    from perfbench import run

    data = tmp_path / "data"
    gendata.write(str(data), sf=0.01)
    monkeypatch.chdir(tmp_path)
    run_dir = tmp_path / "run"
    run_dir.mkdir()
    names = ["q_stream_foreach_writer", "q_udf_grouped_map"]
    cfg = {"trace": False, "sf_dir": str(data), "queries": names,
           "result": str(run_dir / "result.json")}
    import time

    out = run._run_worker(cfg, str(run_dir), 2, time.monotonic() + 170)
    assert {n: out["results"][n].get("error") for n in names} == {n: None for n in names}

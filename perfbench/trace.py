"""Pure aggregation for the benchmark: percentiles, the Spark event log,
streaming progress events and span self times.

Nothing here touches Spark, so the tests feed it recorded or canned data.
Times are epoch seconds (floats) unless a name says otherwise.
"""

from __future__ import annotations

import json
import math
import statistics
from collections.abc import Iterable

# Spark event-log record types this module reads.
_JOB_START = "SparkListenerJobStart"
_JOB_END = "SparkListenerJobEnd"
_STAGE_DONE = "SparkListenerStageCompleted"
_TASK_END = "SparkListenerTaskEnd"

TAIL_ABOVE = 10  # samples that must lie above a reported tail percentile


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least TAIL_ABOVE of `n` samples
    above it (nearest-rank), or None when the sample is too small for
    that percentile to be at or above the median."""
    if n < 2 * TAIL_ABOVE:
        return None
    return math.floor(100 * (n - TAIL_ABOVE) / n)


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    xs = sorted(values)
    return xs[max(1, math.ceil(pct / 100 * len(xs))) - 1]


def tail(values: list[float]) -> tuple[float, str, int]:
    """(value, percentile label, sample count) for a latency sample.

    With at least 2*TAIL_ABOVE samples the label is `pNN`, the highest
    percentile that still has TAIL_ABOVE samples above it. Smaller samples
    have no such percentile at or above the median. They report p75,
    interpolated between ranks: over ten-run sets of 3- and 6-query
    passes its spread was 0.12-0.18 of its median, against up to 0.28 for
    the maximum, which one noisy query sets."""
    n = len(values)
    pct = tail_percentile(n)
    if pct is not None:
        return nearest_rank(values, pct), f"p{pct}", n
    if n == 1:
        return values[0], "p75", 1
    return statistics.quantiles(values, n=4, method="inclusive")[2], "p75", n


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float):
    """The parts of `intervals` inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that child spans cover."""
    return (end - start) - union_length(clip(children, start, end))


def account(spans: list[dict], jobs: dict[int, dict], latency: dict[str, float]) -> dict:
    """Split each query's latency into build, plan, transfer and exec.

    build, plan and transfer are the self times of the three phases: the
    phase's wall time minus the time any job of the pass ran inside it.
    exec is the time covered by the jobs tied to the query (whole jobs,
    not clipped to its span). So the residual, latency minus the four,
    stays at clock granularity only while the jobs tied to a query are
    exactly the jobs that ran inside its span. A job tied to the wrong
    query, or one that runs past its query's end, shows up in it;
    `outside_s` is the part of the tied jobs that lies outside the span."""
    done = [j for j in jobs.values() if j["end"] is not None]
    every = [(j["start"], j["end"]) for j in done]
    tot = dict.fromkeys(("build_s", "plan_s", "transfer_s", "exec_s", "outside_s", "residual_s"), 0.0)
    tot["build_jobs"] = 0
    for sp in spans:
        own = [(j["start"], j["end"]) for j in done if j["query"] == sp["query"]]
        b = self_time(sp["start"], sp["build_end"], every)
        p = self_time(sp["build_end"], sp["plan_end"], every)
        c = self_time(sp["plan_end"], sp["end"], every)
        e = union_length(own)
        tot["build_s"] += b
        tot["plan_s"] += p
        tot["transfer_s"] += c
        tot["exec_s"] += e
        tot["outside_s"] += e - union_length(clip(own, sp["start"], sp["end"]))
        tot["residual_s"] += abs(latency[sp["query"]] - (b + p + c + e))
        tot["build_jobs"] += sum(1 for s, _ in own if sp["start"] <= s <= sp["build_end"])
    return tot


# ---------------------------------------------------------------------------
# Spark event log


def parse_event_log(lines: Iterable[str]) -> dict:
    """Jobs, stages and tasks from a Spark JSON event log.

    Returns {"jobs": {id: {...}}, "stages": {(id, attempt): {...}},
    "tasks": [...]}; times in epoch seconds, bytes as ints."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    tasks: list[dict] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == _JOB_START:
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"] / 1000,
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "stage_ids": list(ev.get("Stage IDs") or []),
                "ok": None,
            }
        elif kind == _JOB_END and ev["Job ID"] in jobs:
            job = jobs[ev["Job ID"]]
            job["end"] = ev["Completion Time"] / 1000
            job["ok"] = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
        elif kind == _STAGE_DONE:
            info = ev["Stage Info"]
            stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = {
                "tasks": info.get("Number of Tasks", 0),
                "start": (info.get("Submission Time") or 0) / 1000,
                "end": (info.get("Completion Time") or 0) / 1000,
                "failed": "Failure Reason" in info,
            }
        elif kind == _TASK_END:
            ti = ev["Task Info"]
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "stage": (ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                    "launch": ti["Launch Time"] / 1000,
                    "finish": ti["Finish Time"] / 1000,
                    "failed": bool(ti.get("Failed")) or bool(ti.get("Killed")),
                    "run_s": tm.get("Executor Run Time", 0) / 1000,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": tm.get("JVM GC Time", 0) / 1000,
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": tm.get("Disk Bytes Spilled", 0),
                }
            )
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def assign_jobs(jobs: dict[int, dict], spans: list[dict], run_ids: dict[str, str]) -> None:
    """Set job["query"] for every job.

    A job belongs to the query whose group it carries (`pb:<name>`), to the
    query that started the stream whose runId is its group (Structured
    Streaming tags micro-batch jobs with the runId), or else to the query
    whose span contains its submission: the client runs one query at a
    time, so submission time alone is never ambiguous. job["tied_by"]
    records which rule applied: "group", "run_id", "time" or None."""
    for job in jobs.values():
        group = job["group"] or ""
        name, by = None, None
        if group.startswith("pb:"):
            name, by = group[3:] or None, "group"
        elif group in run_ids:
            name, by = run_ids[group], "run_id"
        else:
            for sp in spans:
                if sp["start"] <= job["start"] <= sp["end"]:
                    name, by = sp["query"], "time"
                    break
        job["query"], job["tied_by"] = name, by


def exec_metrics(log: dict, cores: int) -> dict[str, float]:
    """Execution, shuffle and spill totals over a parsed event log."""
    jobs, stages, tasks = log["jobs"], log["stages"], log["tasks"]
    intervals = [(j["start"], j["end"]) for j in jobs.values() if j["end"] is not None]
    exec_s = union_length(intervals)
    task_wall = sum(t["finish"] - t["launch"] for t in tasks)
    run_s = sum(t["run_s"] for t in tasks)
    by_stage: dict[tuple[int, int], list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
    skews = [
        max(ds) / statistics.median(ds)
        for ds in by_stage.values()
        if len(ds) >= 2 and statistics.median(ds) > 0
    ]
    return {
        "exec.s": exec_s,
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": len(tasks),
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": sum(t["cpu_s"] for t in tasks),
        "exec.sched_overhead_s": task_wall - run_s,
        "exec.busy_frac": task_wall / (exec_s * cores) if exec_s > 0 else 0.0,
        "exec.stage_skew": statistics.median(skews) if skews else 1.0,
        "exec.failed_tasks": sum(t["failed"] for t in tasks),
        "shuffle.write_bytes": sum(t["shuffle_write"] for t in tasks),
        "shuffle.read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spill.bytes": sum(t["spill"] for t in tasks),
    }


# ---------------------------------------------------------------------------
# Structured Streaming progress (StreamingQueryProgress.json)


def _dur(p: dict, *keys: str) -> float:
    d = p.get("durationMs") or {}
    return sum(d.get(k, 0) for k in keys) / 1000


def stream_metrics(progress: list[dict], n_queries: int, stream_build_s: float) -> dict[str, float]:
    """Listener totals over a pass.

    `progress` holds one parsed StreamingQueryProgress per micro-batch;
    `stream_build_s` is the build time of the queries that started
    streams, so start/stop cost is what the triggers do not cover."""
    trig_ms = [_dur(p, "triggerExecution") * 1000 for p in progress]
    last: dict[str, dict] = {}
    for p in sorted(progress, key=lambda p: (p.get("runId", ""), p.get("batchId", 0))):
        last[p.get("runId", "")] = p
    trigger_s = sum(trig_ms) / 1000
    return {
        "stream.queries": n_queries,
        "stream.batches": len(progress),
        "stream.batch_p50_ms": statistics.median(trig_ms) if trig_ms else 0.0,
        "stream.batch_tail_ms": tail(trig_ms)[0] if trig_ms else 0.0,
        "stream.trigger_s": trigger_s,
        "stream.add_batch_s": sum(_dur(p, "addBatch") for p in progress),
        "stream.plan_s": sum(_dur(p, "queryPlanning") for p in progress),
        "stream.wal_s": sum(_dur(p, "walCommit", "commitOffsets") for p in progress),
        "stream.offsets_s": sum(_dur(p, "latestOffset", "getBatch") for p in progress),
        "stream.start_stop_s": max(0.0, stream_build_s - trigger_s),
        "stream.input_rows": sum(p.get("numInputRows", 0) for p in progress),
        "stream.state_rows": sum(
            op.get("numRowsTotal", 0)
            for p in last.values()
            for op in p.get("stateOperators") or []
        ),
        "stream.state_mem_bytes": sum(
            op.get("memoryUsedBytes", 0)
            for p in last.values()
            for op in p.get("stateOperators") or []
        ),
        "stream.state_commit_s": sum(
            op.get("commitTimeMs", 0)
            for p in progress
            for op in p.get("stateOperators") or []
        )
        / 1000,
    }


def restrict(log: dict, job_ids: set[int]) -> dict:
    """The part of a parsed event log that belongs to the given jobs."""
    stage_ids = {s for j in job_ids for s in log["jobs"][j]["stage_ids"]}
    return {
        "jobs": {j: log["jobs"][j] for j in job_ids},
        "stages": {k: v for k, v in log["stages"].items() if k[0] in stage_ids},
        "tasks": [t for t in log["tasks"] if t["stage"][0] in stage_ids],
    }


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def span_tree(workload: str, spans: list[dict], log: dict, progress: list[dict],
              run_ids: dict[str, str]) -> list[dict]:
    """The run's spans as a tree with self times: workload → query →
    build | plan | collect → job → stage, and query → micro-batch.

    A job hangs under the phase its submission falls in; a stage under
    the job that lists it; a micro-batch under the query whose build
    started its stream."""
    out: list[dict] = []

    def add(name: str, parent: int | None, start: float, end: float, **attrs) -> int:
        out.append({"id": len(out), "parent": parent, "name": name,
                    "start": start, "end": end, **attrs})
        return len(out) - 1

    if not spans:
        return out
    root = add("workload", None, spans[0]["start"], spans[-1]["end"], workload=workload)
    job_span: dict[int, int] = {}
    for sp in spans:
        q = add("query", root, sp["start"], sp["end"], query=sp["query"])
        phases = [
            add("build", q, sp["start"], sp["build_end"]),
            add("plan", q, sp["build_end"], sp["plan_end"]),
            add("collect", q, sp["plan_end"], sp["end"]),
        ]
        for jid, job in sorted(log["jobs"].items()):
            if job.get("query") != sp["query"] or job["end"] is None:
                continue
            parent = next((p for p in phases if out[p]["start"] <= job["start"] <= out[p]["end"]), q)
            job_span[jid] = add("job", parent, job["start"], job["end"], job_id=jid)
        for p in progress:
            if run_ids.get(p.get("runId")) == sp["query"]:
                start = _iso_epoch(p["timestamp"])
                add("micro-batch", q, start, start + _dur(p, "triggerExecution"),
                    run_id=p["runId"], batch_id=p.get("batchId"))
    for (sid, attempt), st in sorted(log["stages"].items()):
        jid = next((j for j, job in log["jobs"].items() if sid in job["stage_ids"]), None)
        if jid in job_span and st["start"]:
            add("stage", job_span[jid], st["start"], st["end"], stage_id=sid, tasks=st["tasks"])
    children: dict[int, list[tuple[float, float]]] = {}
    for s in out:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in out:
        s["self_s"] = self_time(s["start"], s["end"], children.get(s["id"], []))
    return out

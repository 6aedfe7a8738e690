#!/usr/bin/env python3
"""Benchmark entry point: one closed-loop run of one workload.

    python3 perfbench/run.py --workload batch_light --seed 1 --seconds 12 --trace 0

Run from the repository root. The run generates the sf0.1 tables once per
checkout (perfbench/.work/data), picks the workload's queries from
--seconds (the seed is recorded; see workloads.py), and starts
perfbench/worker.py in a fresh process and JVM
on local[N], N = the CPUs this process may use. The worker runs the
queries one after another; this process then checks every result against
its DuckDB oracle, removes what the run left behind, writes the full
artifact to perfbench/.work/artifacts, and prints the metrics named in
BENCHMARK.json: the end-to-end ones with --trace 0, the per-layer ones
(from a traced run with Spark's event log on) with --trace 1. The last
stdout line is one JSON object {correct, attempted, failed, metrics}.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE = "aws_lambda_stream_processing_spark"
WORKER_LIMIT_S = 150  # leaves time for shutdown and checks: a run must end within 180 s
LEFTOVER_DIRS = ("/dev/shm", "/tmp")

sys.path.insert(0, ROOT)


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _ensure_data() -> str:
    """Generate the tables once per checkout; regenerate if gendata changes."""
    from perfbench import gendata

    with open(gendata.__file__, "rb") as fh:
        stamp = hashlib.sha256(fh.read()).hexdigest()
    data = os.path.join(WORK, "data", "sf0.1")
    stamp_path = os.path.join(data, "STAMP")
    try:
        with open(stamp_path) as fh:
            if fh.read() == stamp:
                return data
    except OSError:
        pass
    shutil.rmtree(data, ignore_errors=True)
    gendata.write(data, sf=0.1)
    with open(stamp_path, "w") as fh:
        fh.write(stamp)
    return data


def _leftovers() -> set[str]:
    return {p for d in LEFTOVER_DIRS for p in glob.glob(os.path.join(d, "alsp_*"))}


def _source_id() -> dict:
    """Git commit when the checkout is a repository, else a digest of the
    engine's sources (the benchmark also runs from plain exports)."""
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, ENGINE, "**", "*.py"), recursive=True)):
        with open(path, "rb") as fh:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0" + fh.read())
    return {"git_commit": commit, "engine_sha256": h.hexdigest()}


def _run_worker(cfg: dict, run_dir: str, cores: int, deadline: float) -> dict:
    env = dict(os.environ)
    env.update(
        # Spark's Python workers import the engine too: put the checkout
        # root on their path whatever the launch directory.
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cores),
        ALSP_CACHE_TABLES="1",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        HOME=os.path.join(run_dir, "home"),
    )
    conf = ["--conf spark.ui.showConsoleProgress=false"]
    if cfg["trace"]:
        conf += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{os.path.join(run_dir, 'events')}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])
    for sub in ("local", "tmp", "home", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    cfg_path = os.path.join(run_dir, "config.json")
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        cfg["spawned_at"] = time.time()
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        # The run dir is the worker's cwd: the engine must not depend on
        # being launched from the repository root.
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # The JVM and Spark's Python daemons share the worker's
            # session. After a clean exit they get time to shut down;
            # after a timeout or a signal they are ended at once.
            _end_group(proc, grace=10.0 if proc.poll() is not None else 0.0)
    if rc != 0 or not os.path.exists(cfg["result"]):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        why = "timed out" if rc is None else f"exited with {rc}"
        raise RuntimeError(f"worker {why}; log tail:\n{tail}")
    with open(cfg["result"]) as fh:
        return json.load(fh)


def _end_group(proc: subprocess.Popen, grace: float) -> None:
    """Wait `grace` seconds for the process group `proc` leads to exit,
    then SIGTERM it, then SIGKILL it; return once no member is left."""

    def alive() -> bool:
        proc.poll()  # reap the leader, or its zombie keeps the group alive
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return False
        return True

    for sig, wait in ((None, grace), (signal.SIGTERM, 10.0), (signal.SIGKILL, 60.0)):
        if sig is not None:
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                return
        end = time.monotonic() + wait
        while alive():
            if time.monotonic() > end:
                break
            time.sleep(0.05)
        else:
            return


def _end_to_end(out: dict, latencies: list[float]) -> tuple[dict, dict]:
    from perfbench.trace import tail

    value, label, n = tail(latencies)
    metrics = {
        "setup_s": out["setup_s"],
        "wall_s": out["wall_s"],
        "query_p50_s": statistics.median(latencies),
        "query_tail_s": value,
        "retained_heap_mb": out["retained_heap_mb"],
    }
    return metrics, {"query_tail": {"percentile": label, "samples": n}}


def _per_layer(out: dict, run_dir: str, cores: int, workload: str) -> dict:
    from perfbench import trace as T

    tr = out["trace"]
    logs = glob.glob(os.path.join(run_dir, "events", "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    with open(logs[0]) as fh:
        log = T.parse_event_log(fh)
    spans = tr["spans"]
    T.assign_jobs(log["jobs"], spans, tr["run_ids"])
    in_pass = {j for j, job in log["jobs"].items() if job["query"] is not None}
    pass_log = T.restrict(log, in_pass)
    m = T.exec_metrics(pass_log, cores)

    results = out["results"]
    acc = T.account(spans, pass_log["jobs"], {n: r["latency_s"] for n, r in results.items()
                                               if "latency_s" in r})
    streaming = set(tr["run_ids"].values())
    stream_build = sum(sp["build_end"] - sp["start"] for sp in spans if sp["query"] in streaming)
    tr["outside_s"] = acc["outside_s"]
    tr["jobs_tied_by"] = {}
    for job in log["jobs"].values():
        by = str(job["tied_by"])
        tr["jobs_tied_by"][by] = tr["jobs_tied_by"].get(by, 0) + 1
    ok = [r for r in results.values() if "latency_s" in r]
    m.update(
        {
            "session.start_s": out["session_start_s"],
            "tables.cache_s": out["tables_cache_s"],
            "tables.cached_partitions": tr["cached_partitions"],
            "build.s": acc["build_s"],
            "build.jobs": acc["build_jobs"],
            "cache.persisted_rdds_max": tr["persisted_rdds_max"],
            "plan.s": acc["plan_s"],
            "plan.exchanges": sum(r.get("exchanges", 0) for r in ok),
            "collect.transfer_s": acc["transfer_s"],
            "collect.rows": sum(r["rows"] for r in ok),
            "jvm.gc_s": tr["gc_s"],
            "jvm.peak_rss_mb": tr["peak_rss_mb"],
            "stream.mem_views_left": tr["mem_views_left"],
            "trace.wall_s": out["wall_s"],
            "trace.residual_s": acc["residual_s"],
        }
    )
    m.update(T.stream_metrics(tr["progress"], len(tr["run_ids"]), stream_build))
    tree = T.span_tree(workload, spans, pass_log, tr["progress"], tr["run_ids"])
    self_s: dict[str, float] = {}
    for s in tree:
        self_s[s["name"]] = self_s.get(s["name"], 0.0) + s["self_s"]
    tr["spans"], tr["self_time_s"] = tree, self_s
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: one run of one workload")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_begin = time.monotonic()
    # A SIGTERM from whoever runs the benchmark still ends the worker's
    # processes and removes the run's files (the finally blocks below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = t_begin + WORKER_LIMIT_S

    for need in (os.path.join(ROOT, ENGINE, "registry.py"),
                 os.path.join(ROOT, "scripts", "driver_sim.py"),
                 os.path.join(ROOT, "BENCHMARK.json")):
        if not os.path.exists(need):
            return _fail(f"missing {os.path.relpath(need, ROOT)}: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
    names = workloads.select(args.workload, args.seconds)

    sf_dir = _ensure_data()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(
        WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cfg = {
        "trace": bool(args.trace),
        "sf_dir": sf_dir,
        "queries": names,
        "result": os.path.join(run_dir, "result.json"),
    }
    before = _leftovers()
    try:
        out = _run_worker(cfg, run_dir, cores, deadline)
        per_layer = _per_layer(out, run_dir, cores, args.workload) if args.trace else None
    except RuntimeError as exc:
        return _fail(str(exc))
    finally:
        # The worker's TMPDIR is run_dir/tmp, so the engine's tempfile dirs
        # land there; its tmpfs checkpoints land in /dev/shm.
        new = sorted(_leftovers() - before)
        in_run = glob.glob(os.path.join(run_dir, "tmp", "alsp_*"))
        local_dir = os.path.join(run_dir, "local")
        spark_local = len(os.listdir(local_dir)) if os.path.isdir(local_dir) else 0
        for p in new:
            shutil.rmtree(p, ignore_errors=True)
        hygiene = {"alsp_dirs_left": len(new) + len(in_run),
                   "alsp_dirs_left_in_run_tmp": len(in_run),
                   "spark_local_entries_left": spark_local}
        shutil.rmtree(run_dir, ignore_errors=True)

    from perfbench.check import Oracle, judge

    t_check = time.perf_counter()
    oracle = Oracle(sf_dir, os.path.join(WORK, "oracle_cache.json"))
    failures = judge(out["results"], oracle.digest)
    oracle.save()
    check_s = time.perf_counter() - t_check
    latencies = [r["latency_s"] for n, r in out["results"].items() if n not in failures]

    import duckdb

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores,
        "local": f"local[{cores}]",
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        **out["context"],
        **_source_id(),
        "queries": names,
        "host_steal_s": out["host_steal_s"],
        "warm_up_s": out["warm_up_s"],
        "digest_s": out["digest_s"],
        "oracle_check_s": check_s,
        "run_s": time.monotonic() - t_begin,
        **hygiene,
    }
    if not latencies:
        return _fail(f"every query failed: {failures}")
    e2e, notes = _end_to_end(out, latencies)
    notes["failed_frac"] = len(failures) / len(names)
    notes["stream_batches"] = out["stream_batches"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = per_layer if args.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        return _fail(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    artifact = {
        "context": context,
        "metrics": metrics,
        "notes": notes,
        "failures": failures,
        "queries": {n: {k: v for k, v in r.items() if k not in ("digest", "oracle")}
                    for n, r in out["results"].items()},
    }
    if args.trace:
        artifact["trace"] = out["trace"]
    art_dir = os.path.join(WORK, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art_path = os.path.join(
        art_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"
    )
    with open(art_path, "w") as fh:
        json.dump(artifact, fh)

    print(f"perfbench {args.workload} seed={args.seed} {context['local']} "
          f"queries={len(names)} failed={len(failures)} "
          f"failed_frac={notes['failed_frac']:.3f} "
          f"tail={notes['query_tail']['percentile']} of n={notes['query_tail']['samples']} "
          f"stream_batches={notes['stream_batches']} host_steal_s={out['host_steal_s']:.2f} "
          f"digest_s={out['digest_s']:.2f} oracle_check_s={check_s:.2f} "
          f"leftovers={hygiene} artifact={os.path.relpath(art_path, ROOT)}")
    if args.trace:
        print(f"perfbench trace: job time outside its query's span "
              f"{out['trace']['outside_s']:.6f} s (part of trace.residual_s); "
              f"jobs tied to a query by {out['trace']['jobs_tied_by']}")
    for name, why in sorted(failures.items()):
        print(f"perfbench FAILED {name}: {why[:200]}")
    for name, m in metrics.items():
        print(f"perfbench {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": not failures,
        "attempted": len(names),
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's workloads and how a run picks its queries.

`workloads.json` freezes the split of the 537 registered queries, so that
deleting reference artifacts later cannot change what a workload runs:

- `batch_light`: batch queries (any module except `streaming.queries`)
  that took under 1 s in BENCH_local_r13.json;
- `batch_heavy`: batch queries at 1 s or more there;
- `stream_replay`: every `streaming.queries` rung.

BENCHMARK.json runs `batch_light` and `stream_replay`. `batch_heavy` stays
runnable with `--workload batch_heavy`; BENCHMARK.json leaves it out
because every run pays a 15-25 s fresh-JVM set-up, and the total time the
benchmark's runs may take fits two workloads at this pass length.

Each query carries its module and its r13 seconds. A run takes
k = round(seconds / est_query_s) queries by systematic sampling over the
pool sorted by r13 time, one query from the middle of each of k equal
strata, so the sample's total and median track the pool's. Queries run in
sorted-name order, as in bench.py. The seed is recorded but changes
neither the set nor the order: in a fresh JVM the first query pays the JIT
warm-up and the first query with Python UDFs pays the Python worker start
(seconds each), so a seeded set or order moved a run's median latency by
about 30% across seeds, far beyond any usable bound.
"""

from __future__ import annotations

import json
import os

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")) as _fh:
    WORKLOADS: dict[str, dict] = json.load(_fh)["workloads"]


def sample_size(workload: str, seconds: float) -> int:
    spec = WORKLOADS[workload]
    return max(1, min(len(spec["queries"]), round(seconds / spec["est_query_s"])))


def select(workload: str, seconds: float) -> list[str]:
    """The queries one run executes, in the order it runs them."""
    pool = WORKLOADS[workload]["queries"]
    order = sorted(pool, key=lambda n: (pool[n][1], n))
    k = sample_size(workload, seconds)
    step = len(order) / k
    return sorted(order[int(step / 2 + i * step)] for i in range(k))

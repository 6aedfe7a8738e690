"""Deterministic generator for the ten benchmark tables.

Writes `region nation customer supplier part orders lineitem events
documents embeddings` as single-file, single-row-group parquet with the
schemas, row counts and value domains of the project's fixture files
(FIXTURES.md lists the tables): independent uniform columns, dense keys, a
time-ordered `events` stream, a 30-word document corpus with near
duplicates, and L2-normalised 64-dim float embeddings. The same seed
always gives byte-identical files.

Where FIXTURES.md (dumped at sf0.001, before the fixtures were
regenerated) and the current fixture files disagree, this follows the
files:

- every timestamp column is naive timestamp[us], not ns (events.ts) or
  ms (o_orderdate, l_shipdate);
- events.user_id spans int(15_000 * sf) users: 15 at sf0.001, 150 at
  sf0.01, 1,500 at sf0.1, not 15 at every scale;
- documents holds n // 625 exact-duplicate pairs: none at 500 docs,
  8 at sf0.1's 5,000.

    python3 perfbench/gendata.py OUT_DIR [--seed N] [--sf 0.1]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    """Uniform midnight timestamps in [lo, hi], both ends inclusive."""
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int)) + 1
    return (lo_d + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n)
    ]
    # Near duplicates: a doc copied from another with one token appended
    # (copies of copies stack the suffix; no two copy the same doc), plus
    # n // 625 exact duplicate pairs.
    for i, j in zip(rng.choice(n, n // 20, replace=False), rng.choice(n, n // 20, replace=False)):
        texts[i] = texts[j] + " dup"
    for i, j in rng.choice(n, (n // 625, 2), replace=False):
        texts[j] = texts[i]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All ten tables at scale factor `sf`, generated from `seed`."""
    rng = np.random.default_rng(seed)
    n_sup, n_part, n_cust = int(10_000 * sf), int(200_000 * sf), int(150_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = np.int32
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=i32) % 5,
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_sup, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
            "s_nationkey": rng.integers(0, 25, n_sup).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_sup),
        }
    )
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_sup, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": _money(rng, 0.0, 0.1, n_line),
            "l_tax": _money(rng, 0.0, 0.08, n_line),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(month_us, n_ev, replace=False))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": (np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    out["documents"] = _documents(rng, n_doc)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(i32),
        }
    )
    return out


def write(out_dir: str, sf: float = 0.1, seed: int = DATA_SEED) -> None:
    """Write every table to `out_dir/<name>.parquet` (one row group each).

    Files are written under a temporary name and renamed, so a reader
    never sees a half-written table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tb, path + ".tmp", row_group_size=tb.num_rows or 1)
        os.replace(path + ".tmp", path)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=DATA_SEED)
    ap.add_argument("--sf", type=float, default=0.1)
    a = ap.parse_args()
    write(a.out_dir, a.sf, a.seed)

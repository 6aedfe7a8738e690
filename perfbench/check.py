"""Output check: every result against its DuckDB oracle at the bench scale.

Both sides reduce to the canonical multiset of `scripts/driver_sim.py`:
lower-cased sorted columns, then sorted rows of `canon_value` strings. A digest of
that multiset is what gets compared, so the engine's frames can be dropped
right after the run. Oracle digests are cached on disk, keyed by the
oracle SQL text and the identity (name, size, sha256) of the input files.
"""

from __future__ import annotations

import hashlib
import json
import os

from scripts.driver_sim import TABLES, canon_frame


_FORMAT = "canon-rows-v3"  # part of every cache key: bump when digest() changes


def digest(df) -> str:
    """sha256 of `canon_frame` over the frame with lower-cased column names."""
    df = df.copy(deep=False)
    df.columns = [str(c).lower() for c in df.columns]
    h = hashlib.sha256(json.dumps(sorted(df.columns)).encode())
    h.update(f"|{len(df)}|".encode())
    for row in canon_frame(df):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def data_identity(sf_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        with open(path, "rb") as fh:
            h.update(f"{t}:{os.path.getsize(path)}:".encode())
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class Oracle:
    """DuckDB oracle digests over one data directory, with a disk cache."""

    def __init__(self, sf_dir: str, cache_path: str):
        self.sf_dir = sf_dir
        self.cache_path = cache_path
        self.ident = data_identity(sf_dir)
        try:
            with open(cache_path) as fh:
                self.cache = json.load(fh)
        except (OSError, ValueError):
            self.cache = {}
        self._con = None

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.sf_dir, t)}.parquet')"
            )
        return con

    def digest(self, sql: str) -> str:
        key = hashlib.sha256(f"{_FORMAT}\n{self.ident}\n{sql}".encode()).hexdigest()
        if key not in self.cache:
            if self._con is None:
                self._con = self._connect()
            self.cache[key] = digest(self._con.execute(sql).df())
        return self.cache[key]

    def save(self) -> None:
        tmp = f"{self.cache_path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(self.cache, fh)
        os.replace(tmp, self.cache_path)
        if self._con is not None:
            self._con.close()
            self._con = None


def judge(results: dict[str, dict], oracle_digest) -> dict[str, str]:
    """Failed queries with the reason: an error raised while running, or a
    result whose digest differs from its oracle's."""
    failures: dict[str, str] = {}
    for name, r in results.items():
        if "error" in r:
            failures[name] = r["error"]
        elif r["digest"] != oracle_digest(r["oracle"]):
            failures[name] = "result differs from the DuckDB oracle"
    return failures

"""Output checks against the DuckDB oracle.

The comparison is ``tools/check_correctness.py``'s collect gate: both
outputs are canonicalized with its ``canon`` (columns sorted by name, every
cell rendered at full precision, rows sorted) and must be equal.  The
workloads' outputs are small, so collecting them costs less than the
digest gate's wide per-cell SQL, whose code generation dominated a check
in a fresh JVM.  The oracle's canonical rows depend only on the seed's
data and the query's oracle SQL, so they are cached per seed and reused
only for the same SQL text.
"""

from __future__ import annotations

import json
import os

from check_correctness import canon, complex_cols, duck_connection

CACHE = "oracle.json"


class Oracle:
    """Cached DuckDB results for one data directory.

    The cache sits beside the directory, which is rewritten in every run,
    and holds the inputs' manifest: results are reused only for inputs of
    the same rows and bytes, and each query's only for the same SQL."""

    def __init__(self, data_dir: str, threads: int, inputs: dict):
        self.data_dir = data_dir
        self.threads = threads
        self.path = f"{data_dir}.{CACHE}"
        self._con = None
        self.cache = {"inputs": inputs, "queries": {}}
        try:
            with open(self.path, encoding="utf-8") as fh:
                cached = json.load(fh)
            if cached.get("inputs") == inputs:
                self.cache = cached
        except FileNotFoundError:
            pass
        self.dirty = False

    def expected(self, name: str, sql: str) -> dict:
        queries = self.cache["queries"]
        if queries.get(name, {}).get("sql") != sql:
            if self._con is None:
                self._con = duck_connection(self.data_dir)
                self._con.execute(f"SET threads={self.threads}")
            odf = canon(self._con.execute(sql).df())
            queries[name] = {"sql": sql, "cols": list(odf.columns), "rows": odf.values.tolist()}
            self.dirty = True
        return queries[name]

    def check(self, name: str, spec, sdf, corrupt: bool = False) -> str | None:
        """Compare ``sdf`` (a query output) with its oracle.  Returns None on
        a match, else what differed.  ``corrupt`` alters the expected rows,
        so a correct output must fail (the self-test's negative case)."""
        got = sdf.toPandas()
        bad = complex_cols(got)
        if bad:
            return f"complex output columns {bad}"
        want = self.expected(name, spec.sql)
        got = canon(got)
        rows = want["rows"]
        if corrupt:
            rows = [["corrupted", *r[1:]] for r in rows] or [["corrupted"]]
        if list(got.columns) != want["cols"]:
            return f"columns {list(got.columns)} != {want['cols']}"
        if len(got) != len(rows):
            return f"rows {len(got)} != {len(rows)}"
        diff = sum(a != b for a, b in zip(got.values.tolist(), rows))
        if diff:
            return f"values differ on {diff} of {len(rows)} rows"
        return None

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
        if self.dirty:
            tmp = self.path + ".tmp"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(self.cache, fh)
            os.replace(tmp, self.path)

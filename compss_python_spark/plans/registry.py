"""Registry of declared queries: name → (spark callable, oracle SQL).

Each query exercises one operator from SURVEY.md §2 through the library's
public operator layer.  The oracle SQL is ANSI SQL DuckDB runs on the same
parquet tables (driver pre-registers views named region/nation/customer/
supplier/part/orders/lineitem/events/documents/embeddings).

Cross-engine comparison rules applied throughout (the driver hashes values
order-insensitively after sorting columns by name):
- every computed column is aliased identically in Spark and SQL;
- double aggregates are rounded (2 dp for money sums, 4–6 dp for ratios) so
  summation-order ulp noise cannot flip the hash;
- integer sums are cast to BIGINT in SQL (DuckDB SUM(int) returns HUGEINT);
- order-sensitive results carry an explicit rank column computed under a
  total order (unique tiebreak key) instead of relying on row order.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None → rows-only check (non-SQL-expressible op)
    headline: bool = False  # included in bench.py
    # Declared asymptotic cost of the ORACLE (not the Spark side): the
    # exactness twins for set-similarity / edit-distance / recursive-
    # closure operators are deliberately brute-force (all-pairs, recursive
    # CTE) — correct and affordable at the driver's sf0.01 gate, but
    # super-linear, so the DENSE-fixture gate (tools/check_correctness.py
    # --skip-superlinear) skips them instead of letting DuckDB spill tens
    # of GB (round-9 finding: the PPJoin all-pairs twin spilled >70 GB at
    # 50 k docs).  The SPARK side of these queries is always linear-ish;
    # only the oracle is declared expensive.
    oracle_cost: str = "linear"  # "linear" | "superlinear"


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    sql: str | None = None,
    headline: bool = False,
    oracle_cost: str = "linear",
):
    """Decorator registering a (spark_fn, oracle_sql) pair."""

    def deco(fn):
        assert name not in REGISTRY, f"duplicate query {name}"
        assert oracle_cost in ("linear", "superlinear"), oracle_cost
        REGISTRY[name] = QuerySpec(fn, sql, headline, oracle_cost)
        return fn

    return deco


def _files_key(path: str) -> tuple:
    """``(path, size, st_mtime_ns)`` of every data file Spark reads at
    ``path``.  Names starting with ``.`` or ``_`` are skipped, as Spark
    does; a single-file input is keyed by that file."""
    if not os.path.isdir(path):
        files = [path]
    else:
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            files += [os.path.join(root, n) for n in names if not n.startswith((".", "_"))]
    key = []
    for f in sorted(files):
        st = os.stat(f)
        key.append((f, st.st_size, st.st_mtime_ns))
    return tuple(key)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a testdata table.

    Inferring a parquet schema starts a footer-reading Spark job; a read
    with an explicit schema starts none.  So the schema inferred by the
    first read of a file is remembered, and later reads pass it.  The memo
    is a dict on the SparkSession object: it lives as long as that session,
    and after ``spark.stop()`` ``getOrCreate()`` builds a new session with
    an empty memo.  The key is the path plus ``(path, size, st_mtime_ns)``
    of every data file under it, so an overwrite or rewrite misses.  Every
    call still builds a fresh relation with its own attribute ids, so a
    self-join of two reads stays unambiguous.

    events.ts arrives as parquet TIMESTAMP(NANOS) in some fixture
    generations (Spark's vectorized reader rejects it — read as raw nanos
    via legacy.parquet.nanosAsLong and convert with integer arithmetic:
    `div`, not double division, since int64 nanos exceed double mantissa
    precision) and as TIMESTAMP_NTZ in others.  Both normalize to a
    microsecond TimestampType (session tz pinned UTC, so wall-clock values
    match the DuckDB oracle's naive timestamps): NTZ would reject
    streaming watermarks and double casts downstream.  The remembered
    schema is the raw one read under that conf, before normalization.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    memo = vars(spark).setdefault("_parquet_schemas", {})
    key = (path, _files_key(path))
    if key in memo:
        df = spark.read.schema(memo[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        memo[key] = df.schema
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

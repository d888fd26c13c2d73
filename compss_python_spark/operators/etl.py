"""Row-level ETL operators (SURVEY.md §2.2, §2.5 partials).

Each function mirrors one reference operator but is expressed as a Catalyst
logical-plan fragment, so predicate pushdown / column pruning / codegen apply
automatically — none of that exists in the reference, which executes pandas
calls per fragment.

Expression dialect: the reference's ``filter`` takes pandas ``query`` strings
and ``select_expression`` takes pandas ``eval`` strings
[ref: ddf_library/functions/etl/filter.py, select.py].  Our engine accepts
Spark SQL expression strings — the public, optimizer-visible dialect — plus a
small translator for the common pandas-query operators (``and/or/not/==``)
so reference-style strings keep working.
"""

from __future__ import annotations

import json
import re
from typing import Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def select(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Projection [ref: ddf_library/functions/etl/select.py]."""
    return df.select(*cols)


def select_expression(df: DataFrame, *exprs: str) -> DataFrame:
    """Projection with expression strings
    [ref: ddf_library/functions/etl/select.py select_exprs].

    Accepts Spark SQL expressions (``"l_extendedprice * (1 - l_discount) AS
    net"``); the reference used pandas-eval (numexpr) syntax.
    """
    return df.selectExpr(*exprs)


_QUOTED_SPAN = re.compile(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"")
_TERM = r"(?:\w+(?:\.\w+)*|\x00\d+\x00)"
_CHAINED_CMP = re.compile(
    rf"({_TERM})\s*(<=|>=|<|>)\s*({_TERM})\s*(<=|>=|<|>)\s*({_TERM})"
)
_PANDAS_QUERY_FIXES = (
    (re.compile(r"\bnot\s+in\b"), "NOT IN"),
    (re.compile(r"\bin\b"), "IN"),
    (re.compile(r"\band\b"), "AND"),
    (re.compile(r"\bor\b"), "OR"),
    (re.compile(r"\bnot\b"), "NOT"),
    (re.compile(r"~"), " NOT "),
    (re.compile(r"=="), "="),
    (re.compile(r"(\w+(?:\.\w+)*)\.str\.contains\("), r"contains(\1, "),
)
_IN_LIST = re.compile(r"\bIN\s*\[([^\[\]]*)\]")


def translate_pandas_query(expr: str) -> str:
    """Translate the reference's pandas-``query`` dialect to Spark SQL.

    Covers the operators the reference's documented filter examples use:
    ``and/or/not`` keywords, ``==``, ``~`` negation, ``in``/``not in`` with
    list literals (``x in ['a', 'b']`` → ``x IN ('a', 'b')``), chained
    comparisons (``1 < x <= 5`` → ``1 < x AND x <= 5``) and
    ``col.str.contains(pat)`` → ``contains(col, pat)``.  Quoted string
    literals are masked out first so keywords/operators INSIDE a literal
    (``name == 'rock and roll'``) are never rewritten.  Anything already in
    SQL form passes through unchanged.
    """
    # 1. Mask quoted literals so no substitution touches their contents.
    literals: list[str] = []

    def _mask(m: re.Match) -> str:
        literals.append(m.group(0))
        return f"\x00{len(literals) - 1}\x00"

    out = _QUOTED_SPAN.sub(_mask, expr)

    # 2. Chained comparisons (left-to-right, pandas semantics a<b<c ≡ a<b and b<c).
    while True:
        new = _CHAINED_CMP.sub(r"\1 \2 \3 AND \3 \4 \5", out, count=1)
        if new == out:
            break
        out = new

    # 3. Keyword / operator substitutions.
    for pat, repl in _PANDAS_QUERY_FIXES:
        out = pat.sub(repl, out)
    out = _IN_LIST.sub(r"IN (\1)", out)

    # 4. Restore string literals.
    return re.sub(r"\x00(\d+)\x00", lambda m: literals[int(m.group(1))], out)


def filter_rows(df: DataFrame, expr: str | Column) -> DataFrame:
    """Row filter [ref: ddf_library/functions/etl/filter.py].

    String predicates go through the pandas-query translator so
    reference-style ``"(col1 == 'x') and (col2 > 4)"`` works verbatim.
    """
    if isinstance(expr, str):
        expr = translate_pandas_query(expr)
    return df.filter(expr)


def map_column(df: DataFrame, alias: str, expr: str | Column) -> DataFrame:
    """Add/overwrite a column [ref: ddf_library/functions/etl/map.py].

    The reference applies an arbitrary Python lambda per row; the fast path
    here is a SQL expression (JVM codegen).  Callers with genuinely opaque
    Python logic should use :func:`map_pandas` instead.
    """
    col = F.expr(expr) if isinstance(expr, str) else expr
    return df.withColumn(alias, col)


def map_pandas(df: DataFrame, alias: str, fn, return_type) -> DataFrame:
    """Arbitrary-Python column map via an Arrow-vectorized pandas UDF.

    ``fn`` takes a pandas Series (the full row is not exposed; pass the
    needed columns via a struct) and returns a Series.  This is the
    reference's ``ddf.map(lambda row: ...)`` slow path, batched.
    """
    udf = F.pandas_udf(fn, return_type)
    return df.withColumn(alias, udf(F.struct(*df.columns)))


def drop_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """[ref: ddf_library/functions/etl/drop.py]"""
    return df.drop(*cols)


def rename(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """[ref: ddf_library/functions/etl/attributes_changer.py with_column_renamed]"""
    return df.withColumnsRenamed(dict(mapping))


def cast(df: DataFrame, cols: Sequence[str] | str, types: Sequence[str] | str) -> DataFrame:
    """Type conversion [ref: ddf_library/functions/etl/attributes_changer.py].

    Reference modes: 'integer'/'decimal'/'string'/'date'.  We accept any
    Spark SQL type name; invalid values become NULL (ANSI off), matching the
    reference's coerce-errors behavior.
    """
    if isinstance(cols, str):
        cols = [cols]
    if isinstance(types, str):
        types = [types] * len(cols)
    ref_to_spark = {"integer": "bigint", "decimal": "double", "date": "date", "string": "string"}
    out = df
    for c, t in zip(cols, types):
        out = out.withColumn(c, F.col(c).try_cast(ref_to_spark.get(t, t)))
    return out


def replace_values(df: DataFrame, to_replace: Mapping, subset: Sequence[str] | None = None) -> DataFrame:
    """Value substitution [ref: ddf_library/functions/etl/replace_values.py]."""
    return df.replace(dict(to_replace), subset=subset)


# --- clean_missing ---------------------------------------------------------
# [ref: ddf_library/functions/etl/clean_missing.py] — modes REMOVE_ROW,
# REMOVE_COLUMN, VALUE, MEAN, MEDIAN, MODE.  The statistic modes are
# two-phase in the reference (cluster-wide stat, then per-fragment fill);
# here the stat is a tiny agg collected to the driver, then a literal fill —
# one extra job over the stat columns only, no shuffle of the main data.


def clean_missing_remove_row(df: DataFrame, subset: Sequence[str] | None = None, how: str = "any") -> DataFrame:
    return df.na.drop(how=how, subset=subset)


def clean_missing_remove_column(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Drop every column (from subset) that contains at least one null."""
    cols = list(subset or df.columns)
    null_counts = df.select(
        [F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in cols]
    ).first()
    to_drop = [c for c in cols if null_counts[c] > 0]
    return df.drop(*to_drop)


def clean_missing_fill_value(df: DataFrame, value, subset: Sequence[str] | None = None) -> DataFrame:
    return df.na.fill(value, subset=subset)


def clean_missing_fill_stat(df: DataFrame, subset: Sequence[str], strategy: str = "mean") -> DataFrame:
    """Fill nulls with mean/median/mode of each column.

    mean/median/mode computed engine-side (single partial-agg job); avoids
    pyspark.ml.Imputer's vector round-trip and works on any numeric type.
    """
    if strategy == "mean":
        stats = df.select([F.avg(c).alias(c) for c in subset]).first()
    elif strategy == "median":
        stats = df.select([F.expr(f"percentile_approx({c}, 0.5, 10000)").alias(c) for c in subset]).first()
    elif strategy == "mode":
        stats = {}
        for c in subset:
            row = (
                df.filter(F.col(c).isNotNull())
                .groupBy(c)
                .count()
                .orderBy(F.desc("count"), F.asc(c))
                .first()
            )
            stats[c] = row[c] if row else None
        return df.na.fill({c: v for c, v in stats.items() if v is not None})
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    return df.na.fill({c: stats[c] for c in subset if stats[c] is not None})


# --- positional ops --------------------------------------------------------
# The reference has deterministic global row order (ordered fragments of
# ordered pandas rows) — Spark DataFrames are unordered multisets, so every
# positional op here takes an EXPLICIT ordering key (SURVEY.md §7 "hard
# parts": solved by contract, not engine magic).


def _rows_before(
    df: DataFrame, order: Sequence, weight: str | None = None
) -> tuple[DataFrame, int]:
    """Distributed prefix sum under ``order``: adds ``_before``, the sum of
    ``weight`` (1 per row by default) over the rows strictly before each
    row, and returns it with the total over all rows.

    The one global-rank kernel (row index, NTILE, KS ECDF, midranks): a
    global ``Window.orderBy`` would serialize the input onto one task.
    Instead, range-partition on ``order`` at the session's shuffle width
    (AQE may coalesce adjacent ranges), take a prefix inside each
    partition, and add the totals of the partitions before it (one collect
    of at most one row per partition).  The offsets enter the plan as one
    JSON ``array<bigint>`` constant indexed by partition id: one py4j call
    at any partition count, and no join.

    The eager ``localCheckpoint`` pins the range boundaries:
    ``repartitionByRange`` re-samples them in every job, and a ``persist()``
    block lost to eviction would be recomputed with new boundaries,
    desynchronizing the offsets from the rows they describe.  The
    checkpoint is the leaf of the returned frame; a caller that consumes
    the frame itself frees it with ``caching.release_checkpoint``.

    Rows that tie on ``order`` share a partition and are numbered in an
    arbitrary order among themselves, so ``order`` must be total or the
    caller must treat ties alike.
    """
    w = F.lit(1) if weight is None else F.col(weight)
    c = (
        df.repartitionByRange(*order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = dict(c.groupBy("_pid").agg(F.sum(w)).collect())
    offsets, total = [], 0
    for pid in range(max(totals, default=-1) + 1):
        offsets.append(total)
        total += totals.get(pid, 0)
    wp = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.expr(
        f"element_at(from_json('{json.dumps(offsets)}', 'array<bigint>'), _pid + 1)"
    ) + F.coalesce(F.sum(w).over(wp), F.lit(0))
    return c.withColumn("_before", before).drop("_pid"), total


def with_row_index(df: DataFrame, order_by: Sequence[str], name: str = "_idx") -> DataFrame:
    """Stable 0-based global row index under an explicit (total) ordering.

    ``zipWithIndex``-equivalent numbering through :func:`_rows_before`
    (range-partition, local prefix, per-partition offsets) instead of a
    global ``row_number`` window, which would serialize the whole input
    onto one partition.  The result reads the kernel's pinned checkpoint.
    """
    ranked, _ = _rows_before(df, order_by)
    return ranked.withColumnRenamed("_before", name)


def add_column(
    df1: DataFrame,
    df2: DataFrame,
    order_by1: Sequence[str],
    order_by2: Sequence[str],
    suffixes: tuple[str, str] = ("_l", "_r"),
) -> DataFrame:
    """Positional column-wise concat
    [ref: ddf_library/functions/etl/add_columns.py].

    The reference aligns fragments by physical row position (pandas
    concat(axis=1)).  Spark-first emulation: number both sides under their
    explicit orderings and equi-join on the index (SURVEY.md §2.2 #17).
    """
    left = with_row_index(df1, order_by1, "_idx")
    right = with_row_index(df2, order_by2, "_idx")
    overlap = set(df1.columns) & set(df2.columns)
    for c in overlap:
        left = left.withColumnRenamed(c, c + suffixes[0])
        right = right.withColumnRenamed(c, c + suffixes[1])
    return left.join(right, "_idx", "full_outer").drop("_idx")


def take(df: DataFrame, n: int, order_by: Sequence[str] | None = None) -> DataFrame:
    """First n rows [ref: ddf_library/functions/etl/take.py].

    With an ordering this compiles to TakeOrderedAndProject (per-partition
    top-n + merge — no global sort materialization); without one it is
    Spark's incremental ``limit``.
    """
    if order_by:
        return df.orderBy(*order_by).limit(n)
    return df.limit(n)


def sample(
    df: DataFrame,
    n: int | None = None,
    fraction: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """Random sample [ref: ddf_library/functions/etl/sample.py].

    The reference supports exact-count n (distributes n over fragments).
    Exact-n here = seeded rand sort + limit: TakeOrderedAndProject keeps it
    one pass, no global shuffle of the full data.
    """
    if n is not None:
        return df.orderBy(F.rand(seed)).limit(n)
    if fraction is None:
        raise ValueError("pass n or fraction")
    return df.sample(fraction=fraction, seed=seed)


def sample_hash_n(df: DataFrame, n: int, key: str) -> DataFrame:
    """Deterministic exact-n sample: the n rows with the smallest
    md5(key) — reproducible across engines and runs (pipeline-stable
    sampling for training-data splits), unlike the seeded-RNG `sample`.
    Compiles to TakeOrderedAndProject: per-partition top-n, no shuffle of
    the full data."""
    return (
        df.withColumn("_hk", F.md5(F.col(key).cast("string")))
        .orderBy("_hk")
        .limit(n)
        .drop("_hk")
    )


def stratified_sample_hash(
    df: DataFrame, stratum_col: str, n_per_stratum: int, key: str
) -> DataFrame:
    """Deterministic stratified sample: per stratum, the ``n_per_stratum``
    rows with the smallest md5(key) — the stratified companion of
    :func:`sample_hash_n` (reproducible across engines/runs; hash order is
    uniform, so within-stratum selection is unbiased).

    Compiles to WindowGroupLimit: per-partition top-n per stratum before the
    exchange, so the shuffle carries ≤ n·strata rows per map partition, not
    the data.
    """
    w = Window.partitionBy(stratum_col).orderBy(F.md5(F.col(key).cast("string")))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def split(df: DataFrame, percentage: float, seed: int = 42) -> tuple[DataFrame, DataFrame]:
    """Random two-way split [ref: ddf_library/functions/etl/split.py]."""
    a, b = df.randomSplit([percentage, 1.0 - percentage], seed=seed)
    return a, b


# --- partitioning ----------------------------------------------------------


def repartition(df: DataFrame, nfrag: int) -> DataFrame:
    """[ref: ddf_library/functions/etl/repartition.py]"""
    return df.repartition(nfrag)


def coalesce(df: DataFrame, nfrag: int) -> DataFrame:
    return df.coalesce(nfrag)


def hash_partition(df: DataFrame, cols: Sequence[str], nfrag: int | None = None) -> DataFrame:
    """[ref: ddf_library/functions/etl/hash_partitioner.py]"""
    if nfrag:
        return df.repartition(nfrag, *cols)
    return df.repartition(*cols)


def range_partition(df: DataFrame, cols: Sequence[str], nfrag: int | None = None) -> DataFrame:
    """[ref: ddf_library/functions/etl/range_partitioner.py] — Spark samples
    bounds exactly like the reference's range partitioner."""
    if nfrag:
        return df.repartitionByRange(nfrag, *cols)
    return df.repartitionByRange(*cols)


def balancer(df: DataFrame) -> DataFrame:
    """[ref: ddf_library/functions/etl/balancer.py] — even out partition
    sizes.  Round-robin repartition; at scale AQE's coalesce/skew handling
    makes explicit calls unnecessary."""
    return df.repartition(df.rdd.getNumPartitions())


def winsorize(df, cols, lower: float = 0.01, upper: float = 0.99, round_dp: int = 6):
    """Outlier clipping (winsorization): each listed numeric column is
    clipped to its exact [lower, upper] quantiles.  The quantile pass is
    ONE aggregate over all columns (type-7 interpolation — Spark
    ``percentile``, DuckDB ``quantile_cont``); clipping is a broadcast
    1-row cross join + least/greatest, zero extra shuffle.  Adds
    ``<col>_w`` columns, originals untouched."""
    from pyspark.sql import functions as F

    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError("winsorize: need 0 <= lower < upper <= 1")
    bounds = df.agg(
        *[
            e
            for c in cols
            for e in (
                F.percentile(F.col(c), F.lit(lower)).alias(f"_lo_{c}"),
                F.percentile(F.col(c), F.lit(upper)).alias(f"_hi_{c}"),
            )
        ]
    )
    out = df.crossJoin(F.broadcast(bounds))
    for c in cols:
        out = out.withColumn(
            f"{c}_w",
            F.round(
                F.least(F.greatest(F.col(c), F.col(f"_lo_{c}")), F.col(f"_hi_{c}")),
                round_dp,
            ),
        )
    return out.drop(*[n for c in cols for n in (f"_lo_{c}", f"_hi_{c}")])

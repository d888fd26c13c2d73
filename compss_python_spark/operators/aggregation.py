"""Aggregation operators (SURVEY.md §2.4).

Reference: two-phase hash aggregation [ref:
ddf_library/functions/etl/aggregation.py] — per-fragment pandas groupby,
hash shuffle on keys, final combine.  Spark's HashAggregate does exactly this
shape (partial → exchange → final) with codegen and spill; nothing custom
needed.  Sugar methods on GroupedDDF (count/avg/sum/.../list/set) map to
``F.*`` aggregate functions.

Determinism trap (SURVEY.md §2.4): reference first/last/list are
deterministic because fragments are ordered.  Our ``agg`` therefore supports
an ``order_within_group`` key: list/set/first/last are computed over
``sort_array(collect_list(struct(orderkey, value)))`` so results are stable
and oracle-checkable.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from compss_python_spark.operators.etl import _rows_before

_SIMPLE_FUNCS = {
    "count": F.count,
    "sum": F.sum,
    "avg": F.avg,
    "mean": F.avg,
    "min": F.min,
    "max": F.max,
    "stddev": F.stddev,
    "variance": F.variance,
    "count_distinct": F.count_distinct,
    "approx_count_distinct": F.approx_count_distinct,
}


def _ordered_agg(func: str, col: str, order_by: str) -> Column:
    """Order-deterministic first/last/list under an explicit in-group key.

    first/last use min_by/max_by (single-pass partial agg, no list
    materialization); list sorts a collected (key, value) struct array.
    The in-group ordering key must be unique per group for determinism.
    """
    if func == "first":
        return F.min_by(col, order_by)
    if func == "last":
        return F.max_by(col, order_by)
    if func == "list":
        pairs = F.sort_array(
            F.collect_list(F.struct(F.col(order_by).alias("_k"), F.col(col).alias("_v")))
        )
        return F.transform(pairs, lambda s: s["_v"])
    raise ValueError(func)


def agg(
    df: DataFrame,
    group_cols: Sequence[str],
    aggs: Mapping[str, Sequence[tuple[str, str]]],
    order_within_group: str | None = None,
) -> DataFrame:
    """``group_by(cols).agg({col: funcs})`` [ref: ddf_library/ddf.py
    GroupedDDF].

    ``aggs`` maps column → [(func, out_alias), ...].  Funcs: the reference's
    count/avg/mean/sum/min/max/first/last/list/set plus engine extensions
    (stddev, variance, count_distinct, approx_count_distinct).
    first/last/list require ``order_within_group`` for determinism; ``set``
    is returned sorted for the same reason.
    """
    exprs: list[Column] = []
    for col, func_list in aggs.items():
        for func, alias in func_list:
            if func in _SIMPLE_FUNCS:
                exprs.append(_SIMPLE_FUNCS[func](col).alias(alias))
            elif func == "set":
                exprs.append(F.sort_array(F.collect_set(col)).alias(alias))
            elif func in ("first", "last", "list"):
                if order_within_group is None:
                    raise ValueError(
                        f"{func} needs order_within_group for deterministic results"
                    )
                exprs.append(_ordered_agg(func, col, order_within_group).alias(alias))
            else:
                raise ValueError(f"unknown aggregate {func!r}")
    if not group_cols:
        return df.agg(*exprs)
    return df.groupBy(*group_cols).agg(*exprs)


def count_rows(df: DataFrame) -> int:
    """[ref: ddf_library/ddf.py count_rows]"""
    return df.count()


def distinct(df: DataFrame, subset: Sequence[str] | None = None, keep_all_columns: bool = False) -> DataFrame:
    """Dedup by column subset [ref: ddf_library/functions/etl/distinct.py].

    Reference physical plan: hash-partition on subset + per-fragment
    drop_duplicates — identical shape to Spark's partial/final aggregate on
    the subset.  ``keep_all_columns`` keeps one arbitrary full row per key
    (dropDuplicates) vs projecting to the subset first (pure distinct —
    oracle-expressible as SELECT DISTINCT).
    """
    if subset is None:
        return df.distinct()
    if keep_all_columns:
        return df.dropDuplicates(list(subset))
    return df.select(*subset).distinct()


# Engine extensions (not in reference — SURVEY.md §2.4 notes): multi-dim aggs.


def cube(df: DataFrame, cols: Sequence[str], *exprs: Column) -> DataFrame:
    return df.cube(*cols).agg(*exprs)


def rollup(df: DataFrame, cols: Sequence[str], *exprs: Column) -> DataFrame:
    return df.rollup(*cols).agg(*exprs)


def pivot(df: DataFrame, group_col: str, pivot_col: str, values: Sequence[str], agg_expr: Column) -> DataFrame:
    return df.groupBy(group_col).pivot(pivot_col, list(values)).agg(agg_expr)


def time_bucket(col, width_seconds: int):
    """Timescale-style time_bucket: floor a timestamp column to fixed-width
    epoch buckets (arbitrary widths — 90s, 7h — unlike date_trunc's calendar
    units).  Pure integer arithmetic, codegen'd."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    secs = F.unix_timestamp(c)
    return F.timestamp_seconds((secs - secs % width_seconds).cast("long"))


def hypertable_rollup(
    df,
    ts_col: str,
    group_cols,
    agg_exprs,
    levels=("hour", "day", "month"),
):
    """Hypertable-style hierarchical time rollup: one scan, one shuffle,
    all time granularities at once via GROUPING SETS (the batch equivalent
    of a continuous aggregate).  Returns rows tagged with their `grain`.

    At scale this beats N separate groupBys: Spark expands grouping sets
    after the partial aggregate, so the fact table is read and combined
    map-side once.
    """
    from pyspark.sql import functions as F

    truncs = {lv: F.date_trunc(lv, F.col(ts_col)).alias(f"_{lv}") for lv in levels}
    base = df.select(*truncs.values(), *group_cols, *[c for c in df.columns])
    # One grouping set per grain, each keeping its coarser ancestors so the
    # rollup rows carry full time context: (hour,day,month), (day,month), (month).
    sets = [[f"_{lv}" for lv in levels[i:]] for i in range(len(levels))]
    gs = base.groupingSets(
        [[*group_cols, *s] for s in sets], *group_cols, *[f"_{lv}" for lv in levels]
    )
    out = gs.agg(*agg_exprs)
    grain = F.coalesce(
        *[
            F.when(F.col(f"_{lv}").isNotNull(), F.lit(lv))
            for lv in levels
        ]
    )
    return out.withColumn("grain", grain)


def transition_matrix(
    df,
    entity_col: str,
    state_col: str,
    ts_col: str,
    tiebreak_col: str,
):
    """First-order Markov transition estimates over an event stream: for
    each observed (from_state, to_state) pair, its count and the row-
    normalized probability P(to|from).

    Plan: ONE lag window per entity (single exchange keyed on the entity),
    a map-combined pair count, then a broadcast-sized from-state total
    joined back — the from-state table is |states| rows, so the join never
    shuffles the pair table.  The classic clickstream / user-journey
    operator, linear at 100 TB.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(entity_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    pairs = (
        df.select(
            F.lag(state_col).over(w).alias("from_state"),
            F.col(state_col).alias("to_state"),
        )
        .filter(F.col("from_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count("*").cast("long").alias("n"))
    )
    totals = pairs.groupBy("from_state").agg(F.sum("n").alias("_tot"))
    return pairs.join(F.broadcast(totals), "from_state").select(
        "from_state",
        "to_state",
        "n",
        F.round(F.col("n") / F.col("_tot"), 6).alias("p"),
    )


def ntile_distributed(
    df,
    order_cols: list[str],
    buckets: int,
    output_col: str,
):
    """Exact SQL NTILE semantics WITHOUT a single-partition window.

    ``order_cols`` must form a total order (include a unique tiebreak).
    Ordinal ranks come from the distributed prefix sum
    :func:`~compss_python_spark.operators.etl._rows_before` (range
    partitions pinned by one eager localCheckpoint, local prefix counts,
    per-partition offsets).  The bucket is then NTILE's exact remainder
    rule — the first (n mod b) buckets get ceil(n/b) rows — computed as an
    expression from (rank, n).  A global Window.orderBy would collapse
    100 TB onto one task; this shape keeps every stage spread.
    """
    ranked, n = _rows_before(df, [F.col(c).asc() for c in order_cols])
    r0 = F.col("_before")  # rank - 1
    q, rem = divmod(n, buckets)
    big = F.lit(rem * (q + 1))
    bucket = (
        F.when(r0 < big, F.floor(r0 / F.lit(q + 1)))
        .otherwise(F.lit(rem) + F.floor((r0 - big) / F.lit(max(q, 1))))
        + 1
    )
    return ranked.withColumn(output_col, bucket.cast("int")).drop("_before")


def rfm_segmentation(
    orders,
    customer_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    buckets: int = 4,
):
    """RFM (recency / frequency / monetary) customer segmentation: per
    customer, last order date, order count, and total spend, each scored
    into ``buckets`` NTILE bands under a total order (metric + customer id
    tiebreak, so band edges are deterministic and oracle-reproducible);
    segment code = R·100 + F·10 + M.

    Plan: one map-combined per-customer aggregate, then three
    :func:`ntile_distributed` passes over the customer-level table — exact
    NTILE semantics with no single-partition window anywhere.
    """
    from pyspark.sql import functions as F

    per = orders.groupBy(customer_col).agg(
        F.max(date_col).alias("last_order"),
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum(amount_col), 2).alias("spend"),
    )
    out = ntile_distributed(per, ["last_order", customer_col], buckets, "r_score")
    out = ntile_distributed(out, ["n_orders", customer_col], buckets, "f_score")
    out = ntile_distributed(out, ["spend", customer_col], buckets, "m_score")
    return out.withColumn(
        "rfm", F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
    )

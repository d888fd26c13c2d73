"""Join operators (SURVEY.md §2.3).

The reference implements exactly two joins [ref:
ddf_library/functions/etl/join.py, cross_join.py]: a hash-partitioned
equi-join (inner/left/right) and a cartesian product.  It has NO broadcast
join — every join shuffles both sides.  Here Catalyst's join selection
(broadcast-hash / shuffled-hash / sort-merge, AQE runtime switch) is the
physical strategy; ``broadcast_hint`` lets callers force the small-dim path
that matters at 100 TB (dim tables: region/nation/supplier are KB–MB even at
SF100k — always broadcast).

Engine extensions beyond reference parity: semi/anti joins (free in Spark).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from compss_python_spark.session import scoped_conf

_MODE_MAP = {
    "inner": "inner",
    "left": "left",
    "right": "right",
    "outer": "full_outer",
    "full": "full_outer",
    "semi": "left_semi",
    "anti": "left_anti",
}


def join(
    df1: DataFrame,
    df2: DataFrame,
    key1: Sequence[str] | str,
    key2: Sequence[str] | str | None = None,
    mode: str = "inner",
    suffixes: tuple[str, str] = ("_l", "_r"),
    broadcast_right: bool = False,
) -> DataFrame:
    """Multi-column equi-join [ref: ddf_library/functions/etl/join.py].

    Reference semantics: key columns from BOTH sides survive when names
    differ; same-named non-key columns get suffixes.  ``broadcast_right``
    forces a broadcast-hash join (no shuffle of the big side).
    """
    if isinstance(key1, str):
        key1 = [key1]
    key2 = key1 if key2 is None else ([key2] if isinstance(key2, str) else key2)
    how = _MODE_MAP[mode]

    right = F.broadcast(df2) if broadcast_right else df2
    if list(key1) == list(key2):
        return df1.join(right, on=list(key1), how=how)

    overlap = (set(df1.columns) & set(df2.columns)) - set(key1) - set(key2)
    left = df1
    for c in overlap:
        left = left.withColumnRenamed(c, c + suffixes[0])
        right = right.withColumnRenamed(c, c + suffixes[1])
    cond = [left[a] == right[b] for a, b in zip(key1, key2)]
    return left.join(right, on=cond, how=how)


def cross_join(df1: DataFrame, df2: DataFrame) -> DataFrame:
    """Cartesian product [ref: ddf_library/functions/etl/cross_join.py].

    Scale warning (same as the reference's all-fragment-pairs pattern): output
    is |A|×|B|; only sane when one side is tiny — Spark then broadcasts it
    (BroadcastNestedLoopJoin).
    """
    return df1.crossJoin(df2)


def semi_join(df1: DataFrame, df2: DataFrame, on: Sequence[str] | str) -> DataFrame:
    """EXISTS — engine extension (not in reference, SURVEY.md §2.3 note)."""
    return df1.join(df2, on=on, how="left_semi")


def anti_join(df1: DataFrame, df2: DataFrame, on: Sequence[str] | str) -> DataFrame:
    """NOT EXISTS — engine extension (not in reference)."""
    return df1.join(df2, on=on, how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: Sequence[str] | None = None,
    value_cols: Sequence[str] | None = None,
    suffix: str = "_r",
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, the right row with the largest
    ``on`` ≤ left.``on`` (``direction="backward"``, default) or the
    smallest ``on`` ≥ left.``on`` (``"forward"``) within the same ``by``
    group.

    Engine extension (the reference has equi/cross joins only; Spark has no
    built-in as-of).  Scale-safe formulation — union the two sides tagged,
    one hash shuffle on ``by``, and carry the latest right values forward
    with ``last(ignorenulls)`` over (ts, tag):  no per-key loops, no range
    self-join blow-up, whole-stage codegen throughout.  Equal timestamps
    match (right sorts before left at the same ts, DuckDB ASOF `<=`
    semantics).
    """
    from pyspark.sql import Window

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    by = list(by or [])
    value_cols = list(value_cols or [c for c in right.columns if c != on and c not in by])
    l_tag = left.select(
        *by, F.col(on), F.lit(1).alias("_tag"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in value_cols],
        *[F.col(c).alias(c) for c in left.columns if c != on and c not in by],
    )
    r_tag = right.select(
        *by, F.col(on), F.lit(0).alias("_tag"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c != on and c not in by],
    )
    unioned = l_tag.unionByName(r_tag)
    # forward = the same carry trick scanned in reverse time order (right
    # still sorts before left at equal ts, keeping ties inclusive)
    ts_order = F.col(on).asc() if direction == "backward" else F.col(on).desc()
    w = (
        Window.partitionBy(*by)
        .orderBy(ts_order, F.col("_tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Carry the nearest right ROW atomically (one struct, non-null exactly
    # on right rows) — per-column last(ignorenulls) would smear an OLDER
    # row's value into a match whose nearest row has NULL in that column
    # (pandas merge_asof / DuckDB ASOF are row-wise, not column-wise).
    match_row = F.when(
        F.col("_tag") == 0,
        F.struct(F.col(on).alias("__ts"), *[F.col(f"__r_{c}").alias(c) for c in value_cols]),
    )
    carried = unioned.withColumn(
        "__m", F.last(match_row, ignorenulls=True).over(w)
    ).select(
        "*",
        *[F.col("__m")[c].alias(f"__c_{c}") for c in value_cols],
        F.col("__m")["__ts"].alias("__match_ts"),
    )
    if tolerance is not None:
        from pyspark.sql import types as T

        if isinstance(left.schema[on].dataType, (T.TimestampType, T.TimestampNTZType)):
            gap = F.abs(
                F.unix_micros(F.col(on).cast("timestamp"))
                - F.unix_micros(F.col("__match_ts").cast("timestamp"))
            ) / F.lit(1e6)
        else:
            gap = F.abs(F.col(on) - F.col("__match_ts"))
        ok = F.col("__match_ts").isNotNull() & (gap <= tolerance)
        carried = carried.select(
            *[c for c in carried.columns if not c.startswith("__c_")],
            *[
                F.when(ok, F.col(f"__c_{c}")).alias(f"__c_{c}")
                for c in value_cols
            ],
        )
    out_cols = (
        [*by, on]
        + [c for c in left.columns if c != on and c not in by]
        + [F.col(f"__c_{c}").alias(c + suffix if c in left.columns else c) for c in value_cols]
    )
    return carried.filter(F.col("_tag") == 1).select(*out_cols)


def range_join(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: float,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join: left rows whose ``point_col`` falls in
    [``start_col``, ``end_col``) of a right interval.

    Engine extension.  A naive theta-join is a broadcast nested loop (O(n·m));
    this is the bucketed decomposition: intervals explode to the integer
    buckets they overlap (``bucket_width`` ≈ median interval length), points
    map to exactly one bucket, and the match becomes an equi-join on bucket
    id + a residual range predicate IN the join condition (so outer-extended
    rows survive rather than being discarded by a post-join filter).  Each
    (point, interval) pair meets in exactly one bucket — no dedup needed.
    Shuffles are hash-partitioned on bucket id; at 100 TB pick the width so
    per-bucket fan-out stays bounded.

    ``how`` ∈ {'inner', 'left'}: a left point maps to exactly ONE bucket, so
    left-outer is exact (an unmatched point survives once).  Right/full are
    rejected — the right side is replicated per overlapped bucket, so an
    unmatched interval would surface once per bucket (wrong multiplicity).
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"range_join supports how='inner'|'left', got {how!r}: the "
            "bucket-exploded right side would emit unmatched intervals once "
            "per overlapped bucket under right/full-outer semantics"
        )
    r_buckets = right.withColumn(
        "_bkt_r",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bucket_width),
                F.floor((F.col(end_col) - 1e-9) / bucket_width),
            )
        ),
    )
    l_bucket = left.withColumn("_bkt", F.floor(F.col(point_col) / bucket_width))
    p = l_bucket[point_col]
    cond = (
        (l_bucket["_bkt"] == r_buckets["_bkt_r"])
        & (p >= r_buckets[start_col])
        & (p < r_buckets[end_col])
    )
    return l_bucket.join(r_buckets, cond, how).drop("_bkt", "_bkt_r")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | str,
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: spread each hot key over ``salt_buckets``
    reducer partitions.

    The big (skewed) side gets a random salt in [0, n); the small side is
    replicated once per salt value and the join runs on (key, salt).
    Complements AQE's runtime skew splitting (spark.sql.adaptive.skewJoin):
    use this when the skew is known ahead of time and the right side is too
    large to broadcast but cheap to replicate ``n``×.

    ``how`` ∈ {'inner', 'left'}: each left row carries one salt, so
    left-outer multiplicity is exact.  Right/full are rejected — the right
    side is replicated ``salt_buckets``×, so an unmatched right row would
    surface once per salt.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: the "
            "salt-replicated right side would emit unmatched right rows "
            "once per salt bucket under right/full-outer semantics"
        )
    on = [on] if isinstance(on, str) else list(on)
    l = left.withColumn("_salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    # SHUFFLE_HASH-hint the replicated side: salting exists ONLY for the
    # shuffle path (a broadcastable right side never needs salt), but on a
    # small fixture AQE would happily broadcast the 16×-replicated right
    # and the salt would be pure overhead while the plan under test never
    # exercises the skew-spreading shuffle.  The hint pins the physical
    # shape the operator is FOR: both sides hash-partitioned on
    # (key, salt), hot keys spread over salt_buckets reducers.
    return l.join(r.hint("shuffle_hash"), [*on, "_salt"], how).drop("_salt")


def aqe_skew_scope(
    spark,
    *,
    partition_factor: float = 5.0,
    partition_threshold: str = "256mb",
    advisory_size: str = "64mb",
    scan_split_bytes: str | None = None,
    force: bool = False,
):
    """Context manager scoping the AQE skew-join knobs for one eager job.

    The OTHER half of the skew toolkit next to `salted_join`: AQE's
    OptimizeSkewedJoin splits an oversized reduce partition into
    per-map-output chunks at RUNTIME, using the actual shuffle sizes —
    no salt column, no right-side replication, no ahead-of-time skew
    knowledge.  Its limits (why `salted_join` still exists):

    - split granularity is MAP outputs — a hot key written by one mapper
      (e.g. a single-file scan at small SF) cannot be split; at 100 TB
      the scan has thousands of mappers and this is a non-issue, while
      ``scan_split_bytes`` narrows `spark.sql.files.maxPartitionBytes`
      to reproduce the multi-mapper shape on small fixtures;
    - the split is skipped when it would break a downstream partitioning
      reuse (e.g. a groupBy on the join key) unless ``force=True``
      (spark.sql.adaptive.forceOptimizeSkewedJoin), which trades one
      extra shuffle for straggler removal — the right trade when the hot
      partition is 70% of the stage, the wrong one at mild skew;
    - defaults mirror Spark's production values (factor 5, 256 MB
      threshold, 64 MB advisory) — callers narrow them only on
      small-data demonstrations.

    The knobs are set through :func:`session.scoped_conf`, whose contract
    applies: materialize the join inside the scope.
    """
    pairs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": str(partition_factor),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": partition_threshold,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": advisory_size,
        # a broadcast join has no shuffle to split — pin the shuffle path
        # so the scope demonstrates what it claims to demonstrate
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    if force:
        pairs["spark.sql.adaptive.forceOptimizeSkewedJoin"] = "true"
    if scan_split_bytes is not None:
        pairs["spark.sql.files.maxPartitionBytes"] = scan_split_bytes
        pairs["spark.sql.files.openCostInBytes"] = "0"

    return scoped_conf(spark, pairs)

"""Descriptive statistics (SURVEY.md §2.7).

Reference [ref: ddf_library/functions/statistics/{correlation,covariance,
cross_tab,describe,freq_items,kolmogorov_smirnov}.py] — all computed with
hand-written partial/merge task pairs.  Here every one is a single Spark
aggregate (partial/final, map-side combine automatic); KS is the only
non-trivial one and is expressed as a DataFrame-native ECDF so it stays on
the SQL engine (no RDD round-trip).
"""

from __future__ import annotations

import math
from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from compss_python_spark.caching import release_checkpoint
from compss_python_spark.operators.etl import _rows_before


def correlation(df: DataFrame, col1: str, col2: str) -> float:
    """Pearson correlation [ref: ddf_library/functions/statistics/correlation.py]."""
    return df.select(F.corr(col1, col2).alias("c")).first()["c"]


def covariance(df: DataFrame, col1: str, col2: str) -> float:
    """Sample covariance [ref: ddf_library/functions/statistics/covariance.py]."""
    return df.select(F.covar_samp(col1, col2).alias("c")).first()["c"]


def cross_tab(df: DataFrame, col1: str, col2: str) -> DataFrame:
    """Contingency table [ref: ddf_library/functions/statistics/cross_tab.py].

    Implemented as groupBy+pivot (one shuffle) rather than df.stat.crosstab
    so the output stays a queryable DataFrame with deterministic columns.
    """
    return df.stat.crosstab(col1, col2)


def cross_tab_long(df: DataFrame, col1: str, col2: str) -> DataFrame:
    """Contingency counts in long form (oracle-friendly: plain GROUP BY)."""
    return df.groupBy(col1, col2).agg(F.count("*").alias("n"))


def describe(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """count/mean/stddev/min/max [ref:
    ddf_library/functions/statistics/describe.py]."""
    return df.describe(*(cols or []))


def describe_long(df: DataFrame, col: str) -> DataFrame:
    """Single-column describe as typed columns (oracle-expressible)."""
    return df.agg(
        F.count(col).alias("n"),
        F.avg(col).alias("mean"),
        F.stddev(col).alias("std"),
        F.min(col).alias("min_v"),
        F.max(col).alias("max_v"),
    )


def freq_items(df: DataFrame, cols: Sequence[str], support: float = 0.01) -> list:
    """Approximate frequent items [ref:
    ddf_library/functions/statistics/freq_items.py]."""
    return df.stat.freqItems(list(cols), support).first().asDict()


def freq_items_exact(df: DataFrame, col: str, min_count: int) -> DataFrame:
    """Exact frequent values with counts (oracle-expressible GROUP BY+HAVING)."""
    return (
        df.groupBy(col)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )


def quantiles_exact(df: DataFrame, col: str, probs: Sequence[float]) -> DataFrame:
    """EXACT quantiles (linear interpolation, type-7 — Spark ``percentile``,
    DuckDB ``quantile_cont``): one row, one column per prob.

    The exact aggregate shuffles per-group sorted buffers — fine for a
    per-query scalar; at 100 TB prefer ``percentile_approx`` (t-digest,
    bounded memory) when an ε-error is acceptable.
    """
    return df.agg(
        *[
            F.round(F.percentile(F.col(col), F.lit(p)), 4).alias(f"q{int(p * 100)}")
            for p in probs
        ]
    )


def _kth_smallest(active: DataFrame, v, n_active: int, k: int, lo: float,
                  hi: float, bins: int, max_candidates: int) -> float:
    """k-th smallest (1-indexed) of ``v`` over ``active`` (``n_active`` rows,
    values within [lo, hi]) — histogram-guided bracket refinement, exact at
    any cardinality.

    Each pass is ONE scan (filter + map-combined groupBy(bucket)) whose
    output is ≤ ``bins`` rows; the bracket shrinks ~bins× per pass, so a
    60 M-row column needs 2 passes before the final TakeOrdered.  Driver
    memory is O(bins); nothing rank-sized is ever materialized — the
    failure mode of Spark's exact ``percentile`` (per-group multiset
    buffer, OOM at one 60 M-value group) cannot occur.

    Boundary exactness: refinement filters on the SAME clamped bucket
    expression the histogram grouped by (``active.filter(bexpr == b)``),
    never on a numerically inverted [blo, bhi) — so a value that lands in
    bucket b due to FP rounding of (v-lo)/width*bins is in bucket b for
    BOTH the count walk and the next pass, and ranks can never shift at
    bucket edges.  lo/hi only scale the next histogram; they need no ulp
    guarantees.

    Degenerate-width arm: when the bucket width underflows (heavy
    duplicates — one value can hold millions of rows and no histogram can
    split it), the bracket spans ≤ a few adjacent doubles, so a
    groupBy(v).count() of that sliver (bounded distinct) resolves the
    rank exactly.
    """
    while True:
        if n_active <= max_candidates:
            row = active.orderBy(v).limit(k).agg(F.max(v).alias("x")).first()
            return float(row["x"])
        width = hi - lo
        if width <= 0 or lo + width / bins == lo:  # sub-ulp bucket width
            dist = (
                active.groupBy(v.alias("x"))
                .agg(F.count("*").alias("n")).orderBy("x").collect()
            )
            c = 0
            for r in dist:
                c += r["n"]
                if k <= c:
                    return float(r["x"])
            raise AssertionError("rank fell outside its bracket")
        bexpr = F.least(
            F.lit(bins - 1),
            F.greatest(F.lit(0), F.floor((v - lo) / width * bins)),
        ).cast("int")
        hist = (
            active.groupBy(bexpr.alias("b"))
            .agg(F.count("*").alias("n")).orderBy("b").collect()
        )
        c = 0
        for r in hist:
            if k <= c + r["n"]:
                k -= c
                n_active = int(r["n"])
                active = active.filter(bexpr == r["b"])
                lo, hi = lo + r["b"] * width / bins, lo + (r["b"] + 1) * width / bins
                break
            c += r["n"]
        else:
            raise AssertionError("rank fell outside the histogram")


def quantiles_exact_selection(
    df: DataFrame,
    col: str,
    probs: Sequence[float],
    bins: int = 4096,
    max_candidates: int = 200_000,
) -> DataFrame:
    """EXACT type-7 quantiles at ANY cardinality — the scale path past
    ``quantiles_exact``: Spark's ``percentile`` aggregate buffers the full
    per-group multiset and OOMs a 32 g JVM at one 60 M-value group
    (measured, sfgen100), while this computes the same numbers from
    histogram-guided rank SELECTION: per order statistic, ~log_bins(n/
    max_candidates)+1 one-scan passes with O(bins) driver memory, then a
    bounded TakeOrdered.  Same output contract as ``quantiles_exact``
    (one row, ``q<p*100>`` columns, 4 dp, linear interpolation between
    the bracketing order statistics — DuckDB ``quantile_cont`` parity).

    Eager by design (the selection IS a small number of jobs); the
    returned 1-row DataFrame carries the already-computed scalars.
    """
    if not probs or any(p < 0 or p > 1 for p in probs):
        raise ValueError("quantiles_exact_selection: probs must be in [0, 1]")
    v = F.col(col).cast("double")
    clean = df.filter(v.isNotNull() & ~F.isnan(v)).select(v.alias(col))
    v = F.col(col)
    # ±Infinity occupies the extreme ranks but poisons the histogram
    # bracket (width=inf → the bucket-0 refinement sets lo to NaN and the
    # bracket never shrinks — an unbounded driver loop).  Count the
    # infinities in the SAME pass as the finite min/max and run the
    # selection on the finite remainder only; ranks inside the -inf
    # prefix / +inf suffix resolve without a scan.
    is_pinf = v == float("inf")
    is_ninf = v == float("-inf")
    stats = clean.agg(
        F.count(col).alias("n"),
        F.sum(is_ninf.cast("long")).alias("n_ninf"),
        F.sum(is_pinf.cast("long")).alias("n_pinf"),
        F.min(F.when(~is_pinf & ~is_ninf, v)).alias("lo"),
        F.max(F.when(~is_pinf & ~is_ninf, v)).alias("hi"),
    ).first()
    n = int(stats["n"])
    if n == 0:
        raise ValueError(f"quantiles_exact_selection: no non-null rows in {col!r}")
    n_ninf, n_pinf = int(stats["n_ninf"]), int(stats["n_pinf"])
    n_finite = n - n_ninf - n_pinf
    finite = clean.filter(~is_pinf & ~is_ninf) if (n_ninf or n_pinf) else clean
    lo = float(stats["lo"]) if n_finite else 0.0
    hi = float(stats["hi"]) if n_finite else 0.0
    # 0-indexed fractional positions, deduped bracketing ranks (1-indexed)
    positions = [(p, (n - 1) * p) for p in probs]
    ranks = sorted({r for _, h in positions for r in (int(math.floor(h)) + 1,
                                                      int(math.ceil(h)) + 1)})

    def _rank_value(k: int) -> float:
        if k <= n_ninf:
            return float("-inf")
        if k > n - n_pinf:
            return float("inf")
        return _kth_smallest(finite, v, n_finite, k - n_ninf, lo, hi,
                             bins, max_candidates)

    values = {k: _rank_value(k) for k in ranks}
    out = {}
    for p, h in positions:
        lo_k, frac = int(math.floor(h)) + 1, h - math.floor(h)
        vlo = values[lo_k]
        # Spark `percentile`'s exact form: (ceil-h)*lower + (h-floor)*higher
        # — NOT lo + (hi-lo)*frac, which differs by an ulp on some inputs
        # and flips the 4-dp rounding at the boundary (caught by the
        # bit-parity unit test); matching the sibling keeps this query on
        # quantiles_exact's proven DuckDB-parity record.
        out[f"q{int(p * 100)}"] = (
            (1.0 - frac) * vlo + frac * values[lo_k + 1] if frac else vlo
        )
    spark = df.sparkSession
    # round through the ENGINE (F.round, half-up) — the sibling
    # quantiles_exact's proven 4-dp parity contract vs DuckDB round();
    # Python's banker's round() would diverge on exact .00005 boundaries
    raw = spark.createDataFrame([tuple(out.values())], list(out.keys()))
    return raw.select(*[F.round(F.col(c), 4).alias(c) for c in out])


def histogram_fixed_width(df: DataFrame, col: str, width: float) -> DataFrame:
    """Fixed-width histogram: (bucket, n) with bucket = floor(col/width) —
    a single partial/final hash aggregate (map-side combine), the
    scale-correct histogram shape."""
    return (
        df.withColumn("bucket", F.floor(F.col(col) / width).cast("long"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def chi_square_independence(df: DataFrame, col1: str, col2: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns.  Returns a 1-row DataFrame (chi2, dof, n).

    Plan shape: ONE map-combined groupBy(col1, col2) reduces the data to
    the contingency table (cardinality |col1|·|col2| — tiny relative to the
    input, so the subsequent margin windows over the table run on a handful
    of rows regardless of input scale); expected counts and the statistic
    are pure column arithmetic on that table.

    Null categories are EXCLUDED up front (standard contingency-table
    convention, and it keeps r/c consistent with the margins: collect_set
    drops nulls, so admitting null rows would understate dof while
    inflating n).
    """
    obs = (
        df.filter(F.col(col1).isNotNull() & F.col(col2).isNotNull())
        .groupBy(col1, col2)
        .agg(F.count("*").alias("o"))
    )
    row_w = Window.partitionBy(col1)
    col_w = Window.partitionBy(col2)
    all_w = Window.partitionBy()
    t = obs.select(
        F.col("o").cast("double").alias("o"),
        F.sum("o").over(row_w).cast("double").alias("rt"),
        F.sum("o").over(col_w).cast("double").alias("ct"),
        F.sum("o").over(all_w).cast("double").alias("n"),
        F.size(F.collect_set(col1).over(all_w)).alias("r"),
        F.size(F.collect_set(col2).over(all_w)).alias("c"),
    )
    e = F.col("rt") * F.col("ct") / F.col("n")
    return t.agg(
        F.round(F.sum((F.col("o") - e) ** 2 / e), 6).alias("chi2"),
        ((F.first("r") - 1) * (F.first("c") - 1)).cast("long").alias("dof"),
        F.first("n").cast("long").alias("n"),
    )


def welch_t_test(
    df: DataFrame, value_col: str, group_col: str, group_a, group_b
) -> DataFrame:
    """Welch's unequal-variance two-sample t test between ``group_a`` and
    ``group_b`` of ``group_col``.  Returns a 1-row DataFrame
    (t_stat, dof, mean_a, mean_b, n_a, n_b); dof is Welch–Satterthwaite.

    ONE map-combined aggregate computes (n, mean, var) per group; the
    statistic is driver-free column arithmetic on the 2-row result.
    """
    g = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .groupBy(group_col)
        .agg(
            F.count(value_col).cast("double").alias("n"),
            F.avg(value_col).alias("m"),
            F.var_samp(value_col).alias("v"),
        )
    )
    a = g.filter(F.col(group_col) == group_a).select(
        F.col("n").alias("na"), F.col("m").alias("ma"), F.col("v").alias("va")
    )
    b = g.filter(F.col(group_col) == group_b).select(
        F.col("n").alias("nb"), F.col("m").alias("mb"), F.col("v").alias("vb")
    )
    j = a.crossJoin(b)
    sa, sb = F.col("va") / F.col("na"), F.col("vb") / F.col("nb")
    se2 = sa + sb
    dof = se2**2 / (sa**2 / (F.col("na") - 1) + sb**2 / (F.col("nb") - 1))
    return j.select(
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(dof, 6).alias("dof"),
        F.round("ma", 6).alias("mean_a"),
        F.round("mb", 6).alias("mean_b"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
    )


def _ks_d_statistic(df: DataFrame, col: str, cdf_of) -> tuple[float, int]:
    """Distributed KS D statistic: max deviation between the ECDF of the
    non-null values of ``col`` and the theoretical CDF produced by
    ``cdf_of(value_column)``.

    ECDF positions come from the distributed prefix sum
    :func:`~compss_python_spark.operators.etl._rows_before`, not a
    single-partition sort; i = rows before + 1 and
    D = max(|F(x) - (i-1)/n|, |i/n - F(x)|).  Tied values take arbitrary
    consecutive positions, and the max over them is the same whatever the
    order.  The ranking is consumed here, so its checkpoint is released
    before returning.  Raises ``ValueError`` when no non-null value is left.
    """
    vals = df.select(F.col(col).alias("v")).filter(F.col("v").isNotNull())
    ranked, n = _rows_before(vals, ["v"])
    try:
        if n == 0:
            raise ValueError(f"ks test: no non-null rows in {col!r}")
        i = F.col("_before") + 1
        d_row = (
            ranked.select(i.alias("i"), cdf_of(F.col("v")).alias("cdf"))
            .select(
                F.greatest(
                    F.abs(F.col("cdf") - (F.col("i") - 1) / F.lit(n)),
                    F.abs(F.col("i") / F.lit(n) - F.col("cdf")),
                ).alias("d")
            )
            .agg(F.max("d").alias("d"))
            .first()
        )
    finally:
        release_checkpoint(ranked)
    return d_row["d"], n


def _ks_p_value(d: float, n: int) -> float:
    """Asymptotic p-value with the Stephens small-sample correction
    (matches scipy's asymptotic mode)."""
    return _kolmogorov_sf(d * (math.sqrt(n) + 0.12 + 0.11 / math.sqrt(n)))


# Abramowitz & Stegun 7.1.26 rational erf approximation (|error| ≤ 1.5e-7)
_ERF_P = 0.3275911
_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def erf_poly_expr(x):
    """erf(x) as a PURE JVM column expression (A&S 7.1.26, |err| ≤ 1.5e-7):
    stays inside whole-stage codegen — no Arrow hop, no Python — and is
    reproducible in any engine with +,*,/ and exp (the DuckDB oracle runs
    the identical polynomial)."""
    ax = F.abs(x)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_ERF_P) * ax)
    # Horner form: ((((a5·t + a4)·t + a3)·t + a2)·t + a1)·t
    poly = F.lit(_ERF_A[4])
    for a in (_ERF_A[3], _ERF_A[2], _ERF_A[1], _ERF_A[0]):
        poly = poly * t + F.lit(a)
    y = F.lit(1.0) - poly * t * F.exp(-ax * ax)
    return F.signum(x) * y


def ks_one_sample_normal(df: DataFrame, col: str, mean: float | None = None,
                         std: float | None = None,
                         erf_impl: str = "exact") -> tuple[float, float]:
    """One-sample Kolmogorov–Smirnov test vs a normal distribution
    [ref: ddf_library/functions/statistics/kolmogorov_smirnov.py].

    ``erf_impl``: 'exact' (default) evaluates erf to double precision via a
    vectorized pandas UDF (Arrow batches, math.erf); 'poly' uses the
    A&S 7.1.26 polynomial as a pure JVM expression — whole-stage codegen,
    no Python at all, |CDF error| ≤ 1.5e-7 (far below ECDF resolution for
    n ≲ 10^6) and engine-portable for exact oracle checks."""
    if mean is None or std is None:
        stats = df.select(F.avg(col).alias("m"), F.stddev(col).alias("s")).first()
        mean = stats["m"] if mean is None else mean
        std = stats["s"] if std is None else std

    if erf_impl == "poly":
        _erf = erf_poly_expr
    else:
        @F.pandas_udf("double")
        def _erf(s: pd.Series) -> pd.Series:
            return s.map(math.erf)

    def cdf_of(v):
        return F.lit(0.5) * (F.lit(1.0) + _erf((v - F.lit(mean)) / F.lit(std * math.sqrt(2.0))))

    d, n = _ks_d_statistic(df, col, cdf_of)
    return d, _ks_p_value(d, n)


def ks_one_sample_uniform(df: DataFrame, col: str, lo: float = 0.0,
                          hi: float = 1.0) -> tuple[float, float]:
    """One-sample KS test vs Uniform(lo, hi) — same distributed ECDF, but the
    CDF is a pure column expression (stays in whole-stage codegen, no UDF),
    and fully SQL-expressible for the DuckDB oracle."""
    span = hi - lo

    def cdf_of(v):
        return F.least(F.lit(1.0), F.greatest(F.lit(0.0), (v - F.lit(lo)) / F.lit(span)))

    d, n = _ks_d_statistic(df, col, cdf_of)
    return d, _ks_p_value(d, n)


def _kolmogorov_sf(t: float, terms: int = 100) -> float:
    """Asymptotic Kolmogorov survival function Q(t) = 2 Σ (-1)^{k-1} e^{-2 k² t²}."""
    if t <= 0:
        return 1.0
    s = 0.0
    for k in range(1, terms + 1):
        s += (-1) ** (k - 1) * math.exp(-2.0 * (k * t) ** 2)
    return max(0.0, min(1.0, 2.0 * s))


def global_avg_ranks(
    df: DataFrame, col: str, output_col: str = "rank_avg"
) -> DataFrame:
    """Average (midrank / tie-corrected) global ranks of ``col`` — the
    primitive under Spearman correlation and rank-sum tests.  Null values
    are excluded.

    Scale-correct global ranking WITHOUT a single-partition window: ONE
    groupBy(value) collapses the data to its distinct values, and the
    distributed prefix sum
    :func:`~compss_python_spark.operators.etl._rows_before` weighted by
    each value's count gives rows_below(v).  rank_avg(v) = rows_below(v) +
    (ties(v)+1)/2 then joins back on value (AQE broadcasts the distinct
    table when small).  The result reads the kernel's pinned checkpoint.
    """
    data = df.filter(F.col(col).isNotNull())
    counts = data.groupBy(col).agg(F.count("*").alias("_cnt"))
    c, _ = _rows_before(counts, [F.col(col)], weight="_cnt")
    ranked = c.select(
        col, (F.col("_before") + (F.col("_cnt") + 1) / 2.0).alias(output_col)
    )
    return data.join(ranked, col)


def spearman_correlation(df: DataFrame, col1: str, col2: str) -> DataFrame:
    """Spearman rank correlation: Pearson correlation of the tie-corrected
    average ranks (exact, including ties).  Returns 1 row (spearman, n).
    Two :func:`global_avg_ranks` passes + one scalar aggregate."""
    data = df.filter(F.col(col1).isNotNull() & F.col(col2).isNotNull())
    r1 = global_avg_ranks(data, col1, "_ra")
    r2 = global_avg_ranks(r1, col2, "_rb")
    return r2.agg(
        F.round(F.corr("_ra", "_rb"), 6).alias("spearman"),
        F.count("*").cast("long").alias("n"),
    )


def mann_whitney_u(
    df: DataFrame, value_col: str, group_col: str, group_a, group_b
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test between two groups:
    U_a = R_a − n_a(n_a+1)/2 with tie-corrected average ranks over the
    combined sample.  Returns 1 row (u_a, u_b, r_a, n_a, n_b).
    One rank pass + one 2-row aggregate; U_a + U_b == n_a·n_b always."""
    data = df.filter(F.col(group_col).isin([group_a, group_b]))
    ranked = global_avg_ranks(data, value_col, "_r")
    g = ranked.groupBy(group_col).agg(
        F.sum("_r").alias("_rsum"), F.count("*").cast("double").alias("_n")
    )
    a = g.filter(F.col(group_col) == group_a).select(
        F.col("_rsum").alias("ra"), F.col("_n").alias("na")
    )
    b = g.filter(F.col(group_col) == group_b).select(
        F.col("_rsum").alias("rb"), F.col("_n").alias("nb")
    )
    j = a.crossJoin(b)
    return j.select(
        F.round(F.col("ra") - F.col("na") * (F.col("na") + 1) / 2.0, 4).alias("u_a"),
        F.round(F.col("rb") - F.col("nb") * (F.col("nb") + 1) / 2.0, 4).alias("u_b"),
        F.round("ra", 4).alias("r_a"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
    )


def profile_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """One-pass data-profiling report: per column, row count, null count,
    distinct count, and min/max (canonicalized to strings) in LONG format
    (col_name, n, n_null, n_distinct, min_val, max_val).

    All statistics ride ONE aggregate job (a single map-combined pass plus
    the distinct-count expansion Spark plans for multiple count_distinct) —
    the profiler never scans the table per column.  Callers canonicalize
    float columns themselves (round/cast) if they need min/max of doubles
    to be engine-portable strings."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in columns:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"_null_{c}"),
            F.count_distinct(F.col(c)).alias(f"_nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _n, _null_{c}, _nd_{c}, _min_{c}, _max_{c}" for c in columns
    )
    return row.select(
        F.expr(
            f"stack({len(columns)}, {stack_args}) "
            "AS (col_name, n, n_null, n_distinct, min_val, max_val)"
        )
    )


def key_skew_report(df: DataFrame, key_col: str, top: int = 10) -> DataFrame:
    """Shuffle-key skew diagnostic: the ``top`` heaviest keys with their
    row counts and share of the table — what you run BEFORE keying a join
    or aggregation on a column at 100 TB (a top key holding >1% of rows
    wants salting or an AQE skew hint).

    One map-combined key count; the total rides a broadcast 1-row
    aggregate OF the count table; top-N is TakeOrdered; the rank window
    touches only N rows.  Returns (key_rank, key, cnt, share)."""
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    total = counts.agg(F.sum("cnt").alias("_t"))
    topn = (
        counts.crossJoin(F.broadcast(total))
        .orderBy(F.desc("cnt"), F.asc("key"))
        .limit(top)
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("key"))
    return topn.select(
        F.row_number().over(w).alias("key_rank"),
        "key",
        "cnt",
        F.round(F.col("cnt") / F.col("_t"), 6).alias("share"),
    )


def psi_drift(
    df: DataFrame,
    value_col: str,
    slice_col: str,
    ref_value,
    cmp_value,
    breaks: list[float],
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two slices of ``value_col``
    over FIXED bin boundaries ``breaks`` (bin i = [breaks[i-1], breaks[i]),
    open at both ends).  The standard model/feature drift monitor:
    PSI = Σ_bins (p_cmp − p_ref)·ln(p_cmp/p_ref), shares floored at
    ``eps`` so empty bins contribute finitely.

    Returns one row per bin (bin, ref_share, cmp_share, psi_contrib,
    psi_total) — psi_total repeated per row for single-result reads.

    Scale shape: ONE scan of the two slices; the bin id is a narrow sum of
    ``value >= break`` indicators (no UDF, no bucket table join); both
    slices reduce in the SAME map-combined groupBy(bin) via conditional
    counts.  Everything after the aggregate runs on ≤ len(breaks)+1 rows.
    Fixed breaks (not per-run quantiles) are deliberate: monitors compare
    runs over time, so the binning must be constant across them.
    """
    v = F.col(value_col).cast("double")
    bin_id = sum(
        (v >= F.lit(float(b))).cast("int") for b in breaks
    )  # 0..len(breaks)
    s = F.col(slice_col)
    agg = (
        df.filter(s.isin([ref_value, cmp_value]) & v.isNotNull())
        .select(bin_id.alias("bin"), s.alias("_s"))
        .groupBy("bin")
        .agg(
            F.sum((F.col("_s") == ref_value).cast("long")).alias("_r"),
            F.sum((F.col("_s") == cmp_value).cast("long")).alias("_c"),
        )
    )
    tw = Window.partitionBy()
    shares = agg.select(
        "bin",
        F.greatest(F.col("_r") / F.sum("_r").over(tw), F.lit(eps)).alias("_pr"),
        F.greatest(F.col("_c") / F.sum("_c").over(tw), F.lit(eps)).alias("_pc"),
    )
    contrib = (F.col("_pc") - F.col("_pr")) * F.log(F.col("_pc") / F.col("_pr"))
    return shares.select(
        "bin",
        F.round("_pr", 6).alias("ref_share"),
        F.round("_pc", 6).alias("cmp_share"),
        F.round(contrib, 6).alias("psi_contrib"),
        F.round(F.sum(contrib).over(tw), 6).alias("psi_total"),
    )


def histogram_quantiles(
    df: DataFrame,
    col: str,
    probs: list[float],
    bins: int = 1000,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Bounded-memory approximate quantiles via a fixed-bin histogram with
    linear interpolation — the 100 TB percentile path when an exact global
    sort/rank is too expensive and ``approx_percentile``'s engine-internal
    sketch can't be oracle-checked.  Error ≤ one bin width (hi−lo)/bins by
    construction, deterministic, and exactly reproducible in ANSI SQL.

    Returns (p, quantile) — one row per requested probability (0 < p ≤ 1).

    Plan shape: one narrow min/max/count aggregate for the bounds (skipped
    when ``lo``/``hi`` are supplied — n still comes from the same single
    agg), then ONE map-combined groupBy(bucket) histogram whose output is
    ``bins`` rows however big the input; the cumulative walk and the
    interpolation run on that bins-row table (the single-partition window
    is bounded by ``bins``, never by data).  Two jobs total; no shuffle
    wider than the bins.
    """
    if not probs or any(p <= 0 or p > 1 for p in probs):
        raise ValueError("histogram_quantiles: probs must be in (0, 1]")
    # NaN must be excluded up front: COUNT() counts NaN, but floor(NaN)
    # casts to a NULL bucket that the cumulative window sorts FIRST —
    # silently shifting every cumulative count (and min/max order NaN
    # last, corrupting hi).
    v = F.col(col).cast("double")
    df = df.filter(v.isNotNull() & ~F.isnan(v))
    stats = df.agg(
        F.min(col).alias("_lo"), F.max(col).alias("_hi"), F.count(col).alias("_n")
    ).first()
    n = int(stats["_n"])
    if n == 0:
        raise ValueError(f"histogram_quantiles: no non-null rows in {col!r}")
    lo = float(stats["_lo"]) if lo is None else float(lo)
    hi = float(stats["_hi"]) if hi is None else float(hi)
    if hi <= lo:  # constant column: every quantile is that value
        spark = df.sparkSession
        return spark.createDataFrame(
            [(float(p), float(lo)) for p in sorted(probs)], "p double, quantile double"
        )
    w = (hi - lo) / float(bins)
    # Clamp BOTH ends: values above a caller-supplied hi fold into the last
    # bucket, and values below a caller-supplied lo fold into bucket 0 —
    # an unclamped negative bucket index sorts before bucket 0 in the
    # cumulative walk and shifts every quantile (interpolated results
    # below lo).  With data-derived bounds both clamps are no-ops.
    hist = (
        df.filter(F.col(col).isNotNull())
        .select(
            F.greatest(
                F.least(
                    F.floor(
                        (F.col(col).cast("double") - F.lit(lo)) / F.lit(w)
                    ).cast("int"),
                    F.lit(bins - 1),
                ),
                F.lit(0),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("c"))
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "bucket", "c", F.coalesce(F.sum("c").over(wb), F.lit(0)).alias("cb")
    )
    pdf = df.sparkSession.createDataFrame(
        [(float(p),) for p in sorted(probs)], "p double"
    )
    hit = (
        pdf.crossJoin(cum)
        .filter(F.col("cb") + F.col("c") >= F.col("p") * F.lit(float(n)))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("p").orderBy("bucket")
            ),
        )
        .filter(F.col("_rn") == 1)
    )
    q = F.lit(lo) + F.lit(w) * (
        F.col("bucket") + (F.col("p") * F.lit(float(n)) - F.col("cb")) / F.col("c")
    )
    return hit.select("p", F.round(q, 6).alias("quantile"))


def grouped_histogram_quantiles(
    df: DataFrame,
    col: str,
    group_col: str,
    probs: list[float],
    bins: int = 200,
    round_dp: int = 6,
) -> DataFrame:
    """Per-group approximate quantiles on SHARED fixed bins (global
    bounds) with linear interpolation — the scale shape for "p95 latency
    per tenant" over millions of groups, where per-group exact sorts or
    per-group bounds passes are unaffordable.  Error <= one bin width.

    Returns (group_col, p, quantile).

    Plan: one global min/max aggregate fixes the bin grid; ONE
    map-combined groupBy(group, bucket) histogram (output <= groups*bins
    rows, each group's slice <= ``bins``); the cumulative window
    partitions BY GROUP (bounded by bins per partition — never a global
    sort); probs broadcast against the tiny prob list.  Groups share the
    grid, so unioning histograms across runs stays valid (mergeable).
    """
    if not probs or any(p <= 0 or p > 1 for p in probs):
        raise ValueError("grouped_histogram_quantiles: probs must be in (0, 1]")
    v = F.col(col).cast("double")
    df = df.filter(v.isNotNull() & ~F.isnan(v) & F.col(group_col).isNotNull())
    b = df.agg(F.min(col).alias("_lo"), F.max(col).alias("_hi")).first()
    lo, hi = float(b["_lo"]), float(b["_hi"])
    if hi <= lo:
        return (
            df.groupBy(group_col)
            .agg(F.count("*").alias("_n"))
            .crossJoin(
                df.sparkSession.createDataFrame(
                    [(float(p),) for p in sorted(probs)], "p double"
                )
            )
            .select(group_col, "p", F.lit(lo).alias("quantile"))
        )
    w = (hi - lo) / float(bins)
    hist = (
        df.select(
            F.col(group_col),
            F.least(
                F.floor((v - F.lit(lo)) / F.lit(w)).cast("int"), F.lit(bins - 1)
            ).alias("bucket"),
        )
        .groupBy(group_col, "bucket")
        .agg(F.count("*").alias("c"))
    )
    wg = Window.partitionBy(group_col)
    wb = (
        Window.partitionBy(group_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.select(
        group_col,
        "bucket",
        "c",
        F.coalesce(F.sum("c").over(wb), F.lit(0)).alias("cb"),
        F.sum("c").over(wg).alias("n"),
    )
    pdf = df.sparkSession.createDataFrame(
        [(float(p),) for p in sorted(probs)], "p double"
    )
    hit = (
        cum.crossJoin(F.broadcast(pdf))
        .filter(F.col("cb") + F.col("c") >= F.col("p") * F.col("n"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(group_col, "p").orderBy("bucket")
            ),
        )
        .filter(F.col("_rn") == 1)
    )
    q = F.lit(lo) + F.lit(w) * (
        F.col("bucket") + (F.col("p") * F.col("n") - F.col("cb")) / F.col("c")
    )
    # round ONCE at the caller-chosen precision — double rounding (6 dp
    # then re-rounding coarser downstream) diverges from a single coarse
    # round exactly on the half-way band a cross-engine oracle hits
    return hit.select(group_col, "p", F.round(q, round_dp).alias("quantile"))


def partition_fingerprints(
    df: DataFrame, key_col: str, cols: list[str]
) -> DataFrame:
    """Content fingerprint per partition key — the change-detection
    primitive for incremental pipelines (recompute only partitions whose
    fingerprint moved between snapshot and live).  Returns
    (key_col, n_rows, fingerprint) with fingerprint = BIT_XOR of a 48-bit
    md5 row hash: ORDER-INDEPENDENT and mergeable, so it is one
    map-combined aggregate — no collect_list, no sort, no bound on
    partition size.  NULL columns fold in as a unit-separator sentinel
    (U+001F between fields) so (NULL, 'ab') and ('a', 'b') differ.

    Caveat (documented, standard for xor fingerprints): xor cancels
    duplicate rows pairwise — two identical rows fingerprint like zero
    rows.  n_rows disambiguates the common cases; use a sum-mod or sorted
    digest if exact multiset identity under heavy duplication matters.
    """
    sep = "\u001f"
    row = F.concat_ws(
        sep, *[F.coalesce(F.col(c).cast("string"), F.lit(sep)) for c in cols]
    )
    h = F.conv(F.substring(F.md5(F.encode(row, "UTF-8")), 1, 12), 16, 10).cast("long")
    return df.groupBy(key_col).agg(
        F.count("*").alias("n_rows"),
        F.bit_xor(h).alias("fingerprint"),
    )

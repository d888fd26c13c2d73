"""Stratified corpus rebalancing: deterministic downsampling to a target
stratum distribution (e.g. "make the training mix 40% en / 30% de / 30%
fr" from a crawl that is 90% en) — a first-class step of every
large-scale data mix.

Mechanism: per-stratum keep RATES are derived from the largest total T
that the corpus can supply at the target proportions
(T = min_s count_s / p_s, so at least one stratum is kept whole and every
rate ≤ 1), then rows are kept by a DETERMINISTIC hash threshold —
md5-derived uniform u(key) < rate — so the sample is reproducible across
runs/partitionings, refreshes incrementally (a re-crawl keeps the same
survivors), and is exactly recomputable by a SQL oracle, unlike
rand()-based sampling.

Plan shape: ONE map-combined count aggregate (|strata| rows to the
driver), then a narrow filter with the rates inlined as a literal map —
the corpus is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_U48 = float(1 << 48)


def hash_uniform(col) -> "F.Column":
    """Deterministic uniform [0, 1) from the first 48 bits of md5(key) —
    engine-portable (DuckDB: CAST('0x'||substr(md5(k),1,12) AS BIGINT) /
    2^48), the same digest family as llm.bloom / functions.sketches."""
    h = F.conv(
        F.substring(F.md5(F.encode(col.cast("string"), "UTF-8")), 1, 12), 16, 10
    ).cast("long")
    return h / F.lit(_U48)


def stratified_rebalance(
    df: DataFrame,
    stratum_col: str,
    targets: dict,
    key_col: str,
) -> DataFrame:
    """Downsample ``df`` so the strata in ``targets`` appear in the given
    proportions (values must sum to ~1).  Strata absent from ``targets``
    are DROPPED (explicit mix control).  Returns the surviving rows plus a
    ``keep_rate`` column for observability.

    The realized total is the largest feasible T = min_s count_s/p_s;
    expected kept rows per stratum ≈ p_s·T.  Rates are exact arithmetic on
    one tiny collected aggregate; membership is the deterministic
    hash-threshold test, so an oracle reproduces every surviving row."""
    total_p = sum(targets.values())
    if not targets or abs(total_p - 1.0) > 1e-6:
        raise ValueError(
            f"stratified_rebalance: target proportions must sum to 1 "
            f"(got {total_p})"
        )
    counts = {
        r["s"]: r["c"]
        for r in df.filter(F.col(stratum_col).isin(list(targets)))
        .groupBy(F.col(stratum_col).alias("s"))
        .agg(F.count("*").alias("c"))
        .collect()
    }
    missing = [s for s in targets if counts.get(s, 0) == 0]
    if missing:
        raise ValueError(
            f"stratified_rebalance: target strata absent from corpus: {missing}"
        )
    t_max = min(counts[s] / p for s, p in targets.items())
    rates = {s: (p * t_max) / counts[s] for s, p in targets.items()}
    rate_map = F.create_map(
        *[F.lit(x) for s, r in sorted(rates.items()) for x in (s, r)]
    )
    out = df.withColumn("keep_rate", rate_map[F.col(stratum_col)])
    return out.filter(
        F.col("keep_rate").isNotNull()
        & (hash_uniform(F.col(key_col)) < F.col("keep_rate"))
    ).withColumn("keep_rate", F.round("keep_rate", 6))


def domain_cap(
    df: DataFrame,
    group_col: str,
    key_col: str,
    cap: int,
    rank_col: str = "pick_rank",
) -> DataFrame:
    """Hard per-group cap: keep at most ``cap`` rows per ``group_col``,
    prioritized by the deterministic pseudo-random draw md5(key) — the
    crawl-curation "max N documents per domain" rule (complements
    stratified_rebalance, which is proportional, not capped).

    Plan: ONE shuffle keyed on the group + a rank-≤-cap filter that
    Spark's WindowGroupLimit optimization pushes map-side, so a mega-domain
    contributes at most ``cap`` rows per input partition to the exchange —
    the skew-killer that makes this survive a domain holding 1% of a
    100 TB crawl.  Ordering by (md5(key), key) is total, so the survivor
    set is deterministic and oracle-reproducible."""
    from pyspark.sql import Window

    draw = F.md5(F.encode(F.col(key_col).cast("string"), "UTF-8"))
    w = Window.partitionBy(group_col).orderBy(draw, F.col(key_col))
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= cap)
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006
    A-Res), derandomized: each row's priority is u^(1/w) with the
    deterministic uniform u = md5-uniform(key) and w = ``weight_col``;
    the k highest priorities are the sample — inclusion probability is
    proportional to weight, and the same corpus always yields the same
    sample (reproducible pipelines, oracle-checkable).

    Quality-weighted corpus subsetting is the LLM-pipeline use: w = a
    quality score or length, k = the token budget in documents.

    Plan: priority is a narrow expression; top-k runs as TakeOrdered
    (per-partition heaps, NO global sort — the 100 TB shape); the rank
    window then orders only the k survivors.  Priorities of distinct keys
    are continuous draws, so cross-engine ordering is stable (a flip
    would need two priorities within one double ulp)."""
    from pyspark.sql import Window

    pr = F.pow(hash_uniform(F.col(key_col)), F.lit(1.0) / F.col(weight_col))
    top = (
        df.withColumn("_priority", pr)
        .orderBy(F.desc("_priority"), F.col(key_col))
        .limit(k)
    )
    w = Window.orderBy(F.desc("_priority"), F.col(key_col))
    return (
        top.withColumn(rank_col, F.row_number().over(w))
        .drop("_priority")
    )


def mixture_allocation(
    df: DataFrame,
    source_col: str,
    token_col,
    weights: dict,
    budget: float,
) -> DataFrame:
    """Water-filling token allocation for a training mix: split ``budget``
    tokens across sources proportionally to ``weights``, cap every source
    at what it can supply, and REDISTRIBUTE the surplus of saturated
    sources to the rest (still weight-proportionally) — the standard
    source-mixing computation when the desired mix exceeds what small
    sources hold.  allocation_s = min(available_s, λ·w_s) with λ chosen
    so Σ allocation = min(budget, Σ available).

    Closed form (no iteration): sort sources by available/weight
    ascending; exactly the first k saturate, where k = #{i : r_i ≤ λ(i)}
    and λ(i) = (budget − prefix_avail_i)/(W − prefix_w_i); then
    λ* = λ(k) (or budget/W when k = 0).  Returns one row per weighted
    source: (source, available, weight, allocation, saturated).

    Scale shape: ONE map-combined (source, Σ tokens) aggregate reduces
    the corpus; every window after runs on the SOURCE-cardinality table
    (mixes have tens-to-thousands of sources — metadata-sized by
    construction, which is why the unpartitioned ORDER BY window here is
    fine where it never would be on a fact table).  The corpus itself is
    never shuffled.
    """
    if not weights or budget <= 0:
        raise ValueError("mixture_allocation: need weights and budget > 0")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("mixture_allocation: weights must be positive")
    from pyspark.sql import Window

    tc = F.col(token_col) if isinstance(token_col, str) else token_col
    avail = (
        df.filter(F.col(source_col).isin(list(weights)))
        .groupBy(F.col(source_col).alias("source"))
        .agg(F.sum(tc).cast("double").alias("available"))
    )
    wmap = F.create_map(
        *[F.lit(x) for s, w in sorted(weights.items()) for x in (s, float(w))]
    )
    t = avail.select(
        "source", "available", wmap[F.col("source")].alias("weight")
    ).withColumn("r", F.col("available") / F.col("weight"))
    pre = Window.orderBy("r", "source").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    t = t.select(
        "*",
        F.sum("available").over(pre).alias("_ca"),
        F.sum("weight").over(pre).alias("_cw"),
        F.sum("available").over(tot).alias("_ta"),
        F.sum("weight").over(tot).alias("_tw"),
    )
    b = F.least(F.lit(float(budget)), F.col("_ta"))
    lam_i = F.when(
        F.col("_tw") - F.col("_cw") > 0,
        (b - F.col("_ca")) / (F.col("_tw") - F.col("_cw")),
    )
    # the last sorted row has no remaining weight (λ(i) undefined); it
    # saturates exactly when the budget covers the whole corpus
    t = t.withColumn(
        "_sat",
        F.when(lam_i.isNotNull(), F.col("r") <= lam_i).otherwise(
            F.lit(float(budget)) >= F.col("_ta")
        ),
    )
    # λ* from the last saturated row (or budget/W when none saturate)
    lam_star = F.max(F.when(F.col("_sat"), lam_i)).over(tot)
    lam = F.coalesce(lam_star, b / F.col("_tw"))
    return t.select(
        "source",
        "available",
        "weight",
        F.round(F.least(F.col("available"), lam * F.col("weight")), 6).alias(
            "allocation"
        ),
        F.col("_sat").alias("saturated"),
    )


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169 — "Data
    Selection for Language Models via Importance Resampling"): score every
    raw document by how much its hashed n-gram profile looks like the
    TARGET corpus rather than the raw corpus.

    Features are unigrams + bigrams of whitespace tokens hashed into
    ``num_buckets`` buckets (md5-derived 48-bit hash — engine-portable, so
    the whole path is SQL-oracle-checkable).  Bucket unigram models with
    add-``alpha`` smoothing are fit on each corpus; a document's log
    importance weight is Σ_b n_b(doc)·(ln p̂_target(b) − ln p̂_raw(b)).

    Returns (id_col, log_weight) — log_weight ROUNDED to 6 dp so
    cross-engine libm/summation-order ulp noise cannot flip downstream
    rank ties.  Documents with NULL text produce no grams and are
    excluded (match the raw side on ids to re-admit them if needed).

    Scale shape: each side's BUCKET MODEL comes from its own gram explode
    feeding a map-combined groupBy(bucket) — B-row results however big
    the corpora, nothing cached; the per-document scoring joins the B-row
    log-ratio table BROADCAST onto a doc-bucket count aggregate consumed
    exactly once.  The raw side is therefore exploded twice (model pass +
    scoring pass) ON PURPOSE: the earlier design pinned the (doc, bucket)
    table with a localCheckpoint to share one explode between the two
    consumers, but that cache is O(docs × buckets-per-doc) rows — a
    third-decade probe (5 M docs, round 8) showed it GC-thrashing a 32 g
    heap into OOM and still costing 555 s at 96 g, while the explode it
    saves is a narrow, spill-free ~100 s pass.  Recompute beats
    materialize when the cache grows with the corpus and the recompute is
    one narrow scan.  No shuffle wider than (doc, bucket); nothing
    driver-side; zero cache footprint.
    """
    from pyspark.sql import Window

    from compss_python_spark.llm.dedup import md5_hash48
    from compss_python_spark.llm.text import ngrams
    from compss_python_spark.width import ensure_min_partitions

    # Widen one-split local scans before the gram explodes — the md5-dense
    # tokenize→explode runs BELOW the first exchange, so on a narrow input
    # all three gram passes serialized on one core (no-op at scale; the
    # cache also shares the widened raw scan between its two explodes).
    raw = ensure_min_partitions(raw)
    target = ensure_min_partitions(target)

    def gram_buckets(df: DataFrame) -> DataFrame:
        grams = F.concat(ngrams(text_col, 1), ngrams(text_col, 2))
        return df.select(
            F.col(id_col).alias("_id"), F.explode(grams).alias("_g")
        ).select(
            "_id", F.pmod(md5_hash48(F.col("_g")), F.lit(num_buckets)).alias("_b")
        )

    # Per-doc bucket counts are consumed exactly ONCE (the scoring join),
    # so they are never cached; the raw bucket model runs its own narrow
    # explode + map-combined agg (Σ_doc n_b ≡ corpus bucket count, so the
    # two formulations are identical).  See the docstring's scale-shape
    # note for why recompute beats pinning here.
    doc_counts = (
        gram_buckets(raw)
        .groupBy("_id", "_b")
        .agg(F.count("*").alias("_n"))
    )
    tb = gram_buckets(target).groupBy("_b").agg(F.count("*").alias("_tc"))
    rb = gram_buckets(raw).groupBy("_b").agg(F.count("*").alias("_rc"))
    # Model totals: the TARGET total must sum over ALL target buckets —
    # summing it over an rb-LEFT-join result would drop target buckets no
    # raw gram hits (a target domain with vocabulary outside the raw
    # corpus), inflating every log p_target by a constant per gram and
    # re-ranking long docs vs short ones.  A FULL outer join of the two
    # B-row bucket tables keeps every bucket of BOTH models, so each total
    # is an exact integer window sum over the joined table — no second
    # pass over the target corpus (the earlier t_total aggregate
    # re-executed the whole target explode because tb fed two consumers
    # without materialization: one extra corpus scan + a
    # BroadcastNestedLoopJoin, measured as 4 scans in the sf0.1 plan).
    # Target-only buckets survive the join as dead rows (_rc null) and
    # are dropped by the inner doc_counts join below — they only pad the
    # broadcast by <B rows.
    w_all = Window.partitionBy(F.lit(1))
    b_ = float(num_buckets)
    llr = (
        rb.join(tb, "_b", "full")
        .select(
            "_b",
            "_rc",
            (
                F.log(
                    (F.coalesce(F.col("_tc"), F.lit(0)) + F.lit(alpha))
                    / (F.sum(F.coalesce(F.col("_tc"), F.lit(0))).over(w_all)
                       + F.lit(alpha * b_))
                )
                - F.log(
                    (F.coalesce(F.col("_rc"), F.lit(0)) + F.lit(alpha))
                    / (F.sum(F.coalesce(F.col("_rc"), F.lit(0))).over(w_all)
                       + F.lit(alpha * b_))
                )
            ).alias("_w"),
        )
        .filter(F.col("_rc").isNotNull())
        .drop("_rc")
    )
    return (
        doc_counts.join(F.broadcast(llr), "_b")
        .groupBy("_id")
        .agg(F.round(F.sum(F.col("_n") * F.col("_w")), 6).alias("log_weight"))
        .select(F.col("_id").alias(id_col), "log_weight")
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """Top-``k`` DSIR selection: the ``k`` raw documents whose hashed
    n-gram profile is most target-like (deterministic variant of the
    paper's Gumbel-noised resampling — same weights, noiseless argmax, so
    the selection is exactly reproducible and oracle-checkable; add Gumbel
    noise downstream if sampling-without-replacement semantics matter).

    Returns (id_col, log_weight, rank).  The global top-k runs as a
    distributed TakeOrderedAndProject (orderBy + limit — every partition
    contributes its local top-k, the driver merges k·P rows), NOT a
    single-partition global window; the rank column is then numbered over
    the k-row result only."""
    from pyspark.sql import Window

    w = dsir_importance_weights(
        raw, target, id_col=id_col, text_col=text_col,
        num_buckets=num_buckets, alpha=alpha,
    )
    topk = w.orderBy(F.desc("log_weight"), F.asc(id_col)).limit(k)
    wk = Window.partitionBy(F.lit(1)).orderBy(F.desc("log_weight"), F.asc(id_col))
    return topk.withColumn("rank", F.row_number().over(wk))

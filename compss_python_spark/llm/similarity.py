"""Similarity search over embedding columns (array<float>).

Two paths:
- :func:`brute_force_topk` — exact cosine top-k: broadcast the (small) query
  set against the corpus, JVM-side dot products (zip_with + aggregate),
  per-query top-k via window.  The corpus is never shuffled — scales to any
  corpus size; queries must fit in a broadcast (≤ ~10⁵).
- :func:`hyperplane_lsh_bucket` + :func:`lsh_topk` — approximate path:
  sign-random-projection buckets, candidates share a bucket, exact re-rank
  within.  Bucket count 2^num_planes bounds the self-join; at 100 TB use
  ~16–20 planes and multiple tables (probes) for recall.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from compss_python_spark.centroids import centroid_dists


def dot_expr(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array<double> columns."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def l2_normalize(a: Column) -> Column:
    """Unit-normalize an array<float/double> column (zero vectors pass
    through unchanged to avoid NaNs).  Pure JVM higher-order expression."""
    nrm = norm_expr(a)
    return F.when(nrm == 0.0, a).otherwise(
        F.transform(a, lambda x: x / nrm)
    )


def mean_pool(
    df: DataFrame,
    group_cols: list[str],
    vec_col: str = "embedding",
    output_col: str = "pooled",
) -> DataFrame:
    """Element-wise MEAN of vectors per group — chunk-to-document
    embedding pooling.  Shape: one narrow (group, dim_idx, value) explode
    (posexplode — no UDF) and ONE map-combined groupBy; the pooled array
    reassembles via sort_array over (idx, avg) structs, so the result is
    deterministic regardless of partitioning.  Dimensions never shuffle
    separately from their group: the exchange is keyed on
    (group, dim_idx), perfectly spreadable."""
    g = [F.col(c) for c in group_cols]
    exploded = df.select(
        *g, F.posexplode(F.col(vec_col)).alias("_i", "_v")
    )
    agg = exploded.groupBy(*group_cols, "_i").agg(F.avg("_v").alias("_m"))
    return (
        agg.groupBy(*group_cols)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_i"), F.col("_m")))
            ).alias("_sm")
        )
        .select(
            *group_cols,
            F.transform("_sm", lambda s: s["_m"]).alias(output_col),
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rn).

    Excludes self-matches (same id).  Broadcast nested-loop join keeps the
    corpus partition-local; ranking shuffles only (query, candidate) pairs.
    """
    query_id_col = query_id_col or id_col
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("_cv")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(cosine_expr(F.col("_qv"), F.col("_cv")), 6))
        .drop("_qv", "_cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def _rerank_candidates(cand: DataFrame, k: int) -> DataFrame:
    """Shared exact re-rank contract for the LSH candidate paths: dedup
    (query_id, neighbor_id) pairs, cosine rounded to 6 dp, desc-cosine /
    asc-neighbor tiebreak, rn ≤ k.  ONE definition — the SQL oracles
    reproduce this exact tail, so a tweak here (tiebreak, rounding) can't
    silently diverge between the variants."""
    scored = (
        cand.dropDuplicates(["query_id", "neighbor_id"])
        .withColumn(
            "cosine",
            F.round(
                cosine_expr(
                    F.col("_qv").cast("array<double>"),
                    F.col("_cv").cast("array<double>"),
                ),
                6,
            ),
        )
        .drop("_qv", "_cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def md5_planes(dim: int, num_planes: int, table_id: int = 0) -> list[list[float]]:
    """Engine-portable pseudo-random hyperplanes: component (table, p, d) =
    first 12 hex digits of md5("table:p:d") mapped linearly onto [-1, 1).

    Any symmetric component distribution yields valid sign-random-projection
    buckets; md5 — unlike a seeded Gaussian stream — is bit-for-bit
    recomputable in SQL (``CAST('0x'||substr(md5(k),1,12) AS BIGINT)
    / 2^47 - 1``), which makes the bucket assignment, and therefore the
    whole LSH candidate-generation + re-rank machinery, exactly
    oracle-checkable.  Production keeps the Gaussian planes (marginally
    better bucket balance); recall properties are identical in tests."""
    import hashlib

    def unit(key: str) -> float:
        return int(hashlib.md5(key.encode()).hexdigest()[:12], 16) / 2.0**47 - 1.0

    return [
        [unit(f"{table_id}:{p}:{d}") for d in range(dim)] for p in range(num_planes)
    ]


def hyperplane_lsh_bucket(
    df: DataFrame,
    vec_col: str = "_v",
    dim: int = 64,
    num_planes: int = 8,
    seed: int = 42,
    alias: str = "_blk",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Sign-random-projection bucket id (int in [0, 2^num_planes)).

    Hyperplanes are generated driver-side from a fixed seed (or passed
    explicitly, e.g. :func:`md5_planes`) and embedded as array literals —
    broadcast-free (they live in the plan), deterministic.
    """
    if planes is None:
        rng = random.Random(seed)
        planes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        sign_bit = (dot_expr(F.col(vec_col).cast("array<double>"), p) > 0).cast("int")
        bucket = bucket + sign_bit * (1 << i)
    return df.withColumn(alias, bucket)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 6,
    num_tables: int = 4,
    seed: int = 42,
    plane_source: str = "gauss",
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in ANY of
    ``num_tables`` independent hash tables (OR-amplification for recall),
    exact cosine re-rank within candidates.  Equi-join on (table, bucket)
    replaces the nested-loop — the scale path when queries don't fit in a
    broadcast.  Recall/cost dial: more planes → smaller buckets (cheaper,
    lower recall); more tables → higher recall (linear candidate cost).

    ``plane_source='md5'`` swaps the Gaussian hyperplanes for
    :func:`md5_planes` (SQL-recomputable → exact oracle parity); the
    candidate/join/re-rank plan is identical."""

    def bucketed(df, id_alias, vcol):
        out = df
        for t in range(num_tables):
            planes = md5_planes(dim, num_planes, t) if plane_source == "md5" else None
            out = hyperplane_lsh_bucket(
                out, vcol, dim, num_planes, seed + 1000 * t, f"_b{t}", planes=planes
            )
        buckets = F.explode(
            F.array(*[F.struct(F.lit(t).alias("tbl"), F.col(f"_b{t}").alias("bkt")) for t in range(num_tables)])
        ).alias("tb")
        return out.select(id_alias, vcol, buckets).select(
            id_alias, vcol, F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt")
        )

    c = bucketed(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")),
        "neighbor_id", "_cv",
    )
    q = bucketed(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")),
        "query_id", "_qv",
    )
    cand = (
        c.join(q, ["tbl", "bkt"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_qv", "_cv")
    )
    return _rerank_candidates(cand, k)


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 6,
    seed: int = 42,
    plane_source: str = "gauss",
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB'07): ONE hash table; each
    query probes its home bucket plus every bucket at Hamming distance 1
    (one sign bit flipped — the buckets a near-miss neighbor most likely
    fell into).  Recall comparable to OR-amplification over ~num_planes
    tables, at 1/num_tables the index cost: the corpus is bucketed and
    shuffled ONCE and stored ONCE, and the (num_planes+1)× amplification
    moves to the query side — the cheap side at 100 TB, where the corpus
    dominates and query sets are bounded.  Exact cosine re-rank within
    candidates, as :func:`lsh_topk`.

    ``plane_source='md5'`` swaps Gaussian hyperplanes for
    :func:`md5_planes` (SQL-recomputable → exact oracle parity)."""
    planes = md5_planes(dim, num_planes, 0) if plane_source == "md5" else None
    c = hyperplane_lsh_bucket(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")),
        "_cv", dim, num_planes, seed, "_bkt", planes=planes,
    )
    q = hyperplane_lsh_bucket(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")),
        "_qv", dim, num_planes, seed, "_bkt", planes=planes,
    )
    # Collapse barrier BEFORE the probe explode: the probe array references
    # _bkt (num_planes+1) times, and CollapseProject would inline the full
    # num_planes-dot-product bucket expression into every element
    # (quadratic re-evaluation — see SCALE.md round-7 finding on HOF/alias
    # re-eval).  Query side only; the corpus side references _bkt once and
    # stays pipelined with the scan.
    q = q.localCheckpoint(eager=False)
    probes = F.explode(
        F.array(
            F.col("_bkt"),
            *[F.col("_bkt").bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)],
        )
    ).alias("_pbkt")
    qp = q.select("query_id", "_qv", probes)
    cand = (
        c.join(qp, c["_bkt"] == qp["_pbkt"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_qv", "_cv")
    )
    return _rerank_candidates(cand, k)


def _lloyd(X, k: int, rng, iters: int) -> list[list[float]]:
    """Seeded numpy Lloyd: ``min(k, len(X))`` centres drawn from the rows
    of ``X`` by ``rng``, then up to ``iters`` rounds of nearest-centre
    assignment and mean update.  Distances use the matmul expansion
    (rows × centres result, never the rows × centres × dim temporary); an
    empty cluster keeps its centre; the loop stops once no centre moves
    beyond ``np.allclose``."""
    import numpy as np

    k = min(k, len(X))
    centers = X[rng.choice(len(X), size=k, replace=False)]
    x2 = (X**2).sum(axis=1)[:, None]
    for _ in range(iters):
        d2 = x2 - 2.0 * (X @ centers.T) + (centers**2).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        new = np.array(
            [
                X[assign == j].mean(axis=0) if (assign == j).any() else centers[j]
                for j in range(k)
            ]
        )
        if np.allclose(new, centers):
            break
        centers = new
    return [c.tolist() for c in centers]


def _train_quantizer_sample(
    corpus: DataFrame,
    vec_col: str,
    n_cells: int,
    seed: int,
    train_sample: int = 65536,
    iters: int = 25,
) -> list[list[float]]:
    """Seeded numpy Lloyd on a bounded RANDOM corpus sample — the
    FAISS-style coarse-quantizer training path (quantizer quality needs
    coverage, not the full corpus; the collect is explicitly bounded like
    a broadcast).  rand-keyed TakeOrdered gives an unbiased sample without
    a pre-count (a head `limit` would train on whatever region of the
    space the first partitions hold); :func:`_lloyd` does the training."""
    import numpy as np

    pdf = (
        corpus.select(vec_col).orderBy(F.rand(seed)).limit(train_sample).toPandas()
    )
    X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    if len(X) == 0:
        return []
    # k < n_cells (tiny corpus): return the k real cells — padding with
    # duplicate centroids would make queries probe guaranteed-empty cells.
    return _lloyd(X, n_cells, np.random.default_rng(seed), iters)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 3,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans coarse quantizer →
    corpus partitioned into cells → each query probes its ``nprobe``
    nearest cells → exact cosine re-rank within probed cells.

    ``centroids`` overrides the sample-trained quantizer with a fixed
    centroid list (e.g. :func:`md5_planes` pseudo-random points) — the
    assignment, probe and re-rank machinery is then fully deterministic
    and exactly oracle-checkable; production uses the trained quantizer
    for cell balance.

    The scale path when both sides are large: the corpus is hash-partitioned
    once on cell id; per query only ``nprobe/n_cells`` of the corpus is
    scanned.  The coarse quantizer trains on a BOUNDED in-memory sample of
    the corpus (the standard IVF design — FAISS trains quantizers on ≤ a
    few hundred k sampled vectors however big the index is): a seeded
    numpy Lloyd loop on ≤ ``train_sample`` rows replaces a multi-job
    distributed fit whose per-iteration scheduling dominated at every
    scale.  Centroids are embedded in the plan as one constant
    (:mod:`compss_python_spark.centroids`) — the assignment join is a
    plain equi-join on cell id, no UDFs.  A NaN or ±inf centroid (given,
    or trained from a corpus holding one) raises ``ValueError``.
    """
    if centroids is None:
        centroids = _train_quantizer_sample(corpus, vec_col, n_cells, seed)

    # The quantizer enters the plan as ONE constant, built and parsed once
    # and resolved on both sides (compss_python_spark.centroids), instead of
    # a broadcast one-row DataFrame cross-joined onto both sides: on the
    # iterative perfbench workload (8 × 64 cells, 4-core host) that took
    # similarity_topk_ivf_md5 from about 1.7 s to 0.9 s per query.
    dists = centroid_dists("_v", dict(enumerate(centroids)))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")).select(
        "neighbor_id", F.col("_v").alias("_cv"), F.array_min(dists)["cid"].alias("cell")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_v")).select(
        "query_id",
        F.col("_v").alias("_qv"),
        F.explode(F.slice(F.array_sort(dists), 1, int(nprobe))["cid"]).alias("cell"),
    )
    scored = (
        c.join(q, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(cosine_expr(F.col("_qv").cast("array<double>"), F.col("_cv").cast("array<double>")), 6),
        )
        .select("query_id", "neighbor_id", "cosine")
        # no dropDuplicates: each corpus vector lives in exactly ONE cell and
        # the probed cells per query are distinct by construction, so every
        # (query, neighbor) pair appears at most once — the dedup was a full
        # exchange + two hash aggregates for provably-unique data (the PQ
        # path below already documents the same invariant).
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


# --- product quantization (IVF-PQ) ----------------------------------------


def _d2_expr(a: Column, b: Column) -> Column:
    """Sequential-sum squared L2 — identical summation order to DuckDB's
    list_sum(list_transform(...)), so argmins and ADC sums are bit-exact
    across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_codebooks_md5(
    dim: int, m_sub: int, ksub: int, base_table_id: int = 100
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: subspace m's codebook is
    :func:`md5_planes`(dim/m_sub, ksub, table_id=base_table_id+m) — every
    code word recomputable in SQL.  Production should train codebooks
    (:func:`train_pq_codebooks_sample`); this fixes them so the encode /
    ADC machinery is exactly oracle-checkable."""
    if dim % m_sub:
        raise ValueError(f"pq: dim {dim} not divisible by m_sub {m_sub}")
    return [md5_planes(dim // m_sub, ksub, table_id=base_table_id + m) for m in range(m_sub)]


def train_pq_codebooks_sample(
    corpus: DataFrame,
    vec_col: str,
    m_sub: int,
    ksub: int,
    seed: int = 42,
    train_sample: int = 100_000,
    iters: int = 10,
) -> list[list[list[float]]]:
    """Sample-trained PQ codebooks (FAISS-style: quantizers train on a
    bounded random sample regardless of index size): one seeded numpy Lloyd
    loop per subspace over the SAME sample — one Spark sample job total."""
    import numpy as np

    pdf = corpus.select(vec_col).orderBy(F.rand(seed)).limit(train_sample).toPandas()
    X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    dim = X.shape[1]
    if dim % m_sub:
        raise ValueError(f"pq: dim {dim} not divisible by m_sub {m_sub}")
    dsub = dim // m_sub
    rng = np.random.default_rng(seed)
    return [
        _lloyd(X[:, m * dsub : (m + 1) * dsub], ksub, rng, iters)
        for m in range(m_sub)
    ]


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    m_sub: int = 4,
    ksub: int = 16,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    refine_factor: int = 1,
) -> DataFrame:
    """IVF-PQ approximate top-k (the FAISS IVFPQ shape, non-residual):
    coarse IVF cells bound the scan to ``nprobe/n_cells`` of the corpus;
    within probed cells candidates are ranked by ASYMMETRIC DISTANCE
    (ADC): the corpus is stored as ``m_sub`` byte codes per vector, the
    query precomputes an m_sub × ksub distance table, and each candidate
    costs m_sub table lookups instead of a dim-wide dot product.

    Why this matters at 100 TB: a 64-dim float64 corpus is 512 B/vector;
    PQ codes are m_sub bytes (4 here) — a 128× smaller index that stays
    partition-local.  The relational skeleton (cell equi-join, window
    top-k) is DataFrame throughout; the per-row encode — the one genuinely
    flop-dense step (n_cells·dim + m_sub·ksub·dsub per vector) — runs as
    Arrow-batched numpy, accumulating dimensions strictly left-to-right
    with ties to the lowest cell id, so codes, probes and ADC sums match
    the SQL oracle exactly.  The ADC gather itself stays a JVM zip_with —
    no Python on the candidate stream.

    Returns (query_id, neighbor_id, adc_d2, cosine, rn): ADC ranking
    (``rn`` by adc asc, id tie-break) plus the exact cosine computed only
    for the k winners (the cheap final refine).  Fixed ``centroids`` +
    ``codebooks`` (:func:`md5_planes` / :func:`pq_codebooks_md5`) make
    every verdict exactly SQL-checkable; production trains both
    (:func:`train_pq_codebooks_sample`).
    """
    if centroids is not None:
        # dim is implied by the provided quantizer — do NOT run the eager
        # `corpus.first()` probe job (one extra scan-limit-1 Spark job per
        # invocation whose only output was the dimension; at a cluster it
        # also serialized plan setup behind a round trip).  Mismatched
        # vectors fail exactly as before, at execution, in zip_with.
        dim = len(centroids[0])
    else:
        first = corpus.select(vec_col).first()
        dim = len(first[vec_col])
    if dim % m_sub:
        raise ValueError(f"pq: dim {dim} not divisible by m_sub {m_sub}")
    dsub = dim // m_sub
    if centroids is None:
        centroids = _train_quantizer_sample(corpus, vec_col, n_cells, seed)
    if codebooks is None:
        codebooks = train_pq_codebooks_sample(corpus, vec_col, m_sub, ksub, seed)

    c0 = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("_cv")
    )
    q0 = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    id_type = dict(c0.dtypes)["neighbor_id"]

    # Arrow-batched encode: the per-row flop count (n_cells·dim +
    # m_sub·ksub·dsub) makes interpreted higher-order expressions the
    # bottleneck; numpy does it as batched column ops.  Accumulation is
    # SEQUENTIAL over dimensions (a Python loop of vectorized adds, the
    # same left-to-right order as DuckDB's list_sum), and
    # argmin/argsort-stable tie-break to the lowest cell id — so codes,
    # probes and ADC sums match the SQL oracle bit for bit.
    import numpy as np
    import pandas as pd

    C = np.array([list(map(float, r)) for r in centroids], dtype=np.float64)
    B = np.array(
        [[list(map(float, w)) for w in book] for book in codebooks],
        dtype=np.float64,
    )

    def _cell_d2(X: "np.ndarray") -> "np.ndarray":
        d2 = np.zeros((len(X), len(C)))
        for i in range(dim):
            t = X[:, i : i + 1] - C[None, :, i]
            d2 += t * t
        return d2

    def _sub_d2(X: "np.ndarray", m: int) -> "np.ndarray":
        d2 = np.zeros((len(X), B.shape[1]))
        for i in range(dsub):
            t = X[:, m * dsub + i : m * dsub + i + 1] - B[m, None, :, i]
            d2 += t * t
        return d2

    def enc_corpus(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(pdf["_cv"].tolist(), dtype=np.float64)
            codes = np.stack(
                [_sub_d2(X, m).argmin(axis=1) for m in range(m_sub)], axis=1
            )
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"],
                    "_cv": pdf["_cv"],
                    "cell": _cell_d2(X).argmin(axis=1).astype("int32"),
                    "_code": [r.astype(int).tolist() for r in codes],
                }
            )

    def enc_query(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(pdf["_qv"].tolist(), dtype=np.float64)
            probes = np.argsort(_cell_d2(X), axis=1, kind="stable")[:, :nprobe]
            tabs = np.stack([_sub_d2(X, m) for m in range(m_sub)], axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "_qv": pdf["_qv"],
                    "_tab": [t.tolist() for t in tabs],
                    "_probe": [p.astype(int).tolist() for p in probes],
                }
            )

    c = c0.mapInPandas(
        enc_corpus,
        f"neighbor_id {id_type}, _cv array<double>, cell int, _code array<int>",
    )
    q = q0.mapInPandas(
        enc_query,
        f"query_id {id_type}, _qv array<double>, _tab array<array<double>>, "
        "_probe array<int>",
    ).select("query_id", "_qv", "_tab", F.explode("_probe").alias("cell"))
    scored = (
        c.join(q, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # One F.expr, not Python-lambda HOFs (the ivf_topk one-parse
        # template, r12 item 9): the lambda builders cost ~140 py4j round
        # trips here; the SQL string is one parse call and yields the
        # identical expression tree (same zip_with/get/aggregate fold
        # order → bit-identical ADC sums).
        .withColumn(
            "_adc",
            F.expr(
                "aggregate(zip_with(_tab, _code, (t, cd) -> get(t, cd)), "
                "0D, (acc, v) -> acc + v)"
            ),
        )
        # no dropDuplicates: each corpus vector lives in exactly ONE cell and
        # probed cells are distinct, so (query, neighbor) pairs are unique by
        # construction — one less exchange than the multi-table LSH path.
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("_adc"), F.asc("neighbor_id"))
    top = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k * refine_factor
    )
    if refine_factor > 1:
        # Standard IVFPQ refine: exact distances on the small ADC short-list
        # (k × refine_factor rows per query) recover the recall PQ
        # quantization loses; cost is k·refine_factor dim-wide d2 per query,
        # nothing corpus-sized.
        w2 = Window.partitionBy("query_id").orderBy(
            F.asc(_d2_expr(F.col("_qv"), F.col("_cv"))), F.asc("neighbor_id")
        )
        top = top.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") <= k)
    return top.select(
        "query_id",
        "neighbor_id",
        F.round("_adc", 6).alias("adc_d2"),
        # One-parse cosine over the two plain array<double> columns: the
        # Column-building twin (cosine_expr) costs ~325 py4j round trips
        # for the dot + two norms; this is one parse with the identical
        # fold order (left-to-right aggregate, transform squares), so the
        # rounded doubles are bit-identical.
        F.expr(
            "round(aggregate(zip_with(_qv, _cv, (x, y) -> x * y), 0D, "
            "(acc, v) -> acc + v) / "
            "(sqrt(aggregate(transform(_qv, x -> x * x), 0D, (acc, v) -> acc + v)) * "
            "sqrt(aggregate(transform(_cv, x -> x * x), 0D, (acc, v) -> acc + v))), 6)"
        ).alias("cosine"),
        "rn",
    )


def int8_quantize_stats(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-dimension int8 quantization of an embedding corpus,
    with order-independent reconstruction-error statistics.

    Storage-side op for 100 TB embedding stores: q_i = clamp(round(v_i /
    s_i * 127), ±127) with s_i = corpus max|v_i| per dimension.  The scale
    pass is one narrow posexplode + map-combined max keyed on (dim) — 64
    groups, no skew — reassembled into ONE broadcast scales row (never a
    driver collect).  Quantization itself is a zero-shuffle zip_with over
    the broadcast array.

    Outputs are deliberately order-INDEPENDENT so a SQL oracle hash-matches
    bit-exact: integer aggregates (sum|q|, sum q², saturation count) and a
    MAX-based reconstruction error (max is exact on doubles regardless of
    reduction order; an AVG would pick up summation-order ulps).

    Returns (id_col, sum_abs_q, sum_sq_q, n_sat, max_abs_err).
    """
    dims = df.select(
        F.posexplode(vec_col).alias("_i", "_v")
    )
    scales = dims.groupBy("_i").agg(
        F.max(F.abs(F.col("_v").cast("double"))).alias("_s")
    )
    srow = scales.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_i", "_s"))),
            lambda x: x["_s"],
        ).alias("_scales")
    )
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = F.zip_with(
        vec_d,
        F.col("_scales"),
        lambda v, s: F.when(s == 0.0, F.lit(0.0)).otherwise(
            F.greatest(
                F.lit(-127.0), F.least(F.lit(127.0), F.round(v / s * 127))
            )
        ),
    )
    dq = F.zip_with(
        q, F.col("_scales"), lambda qq, s: qq * s / F.lit(127.0)
    )
    err = F.zip_with(vec_d, dq, lambda v, d: F.abs(v - d))
    return (
        df.crossJoin(F.broadcast(srow))
        .select(
            F.col(id_col),
            F.aggregate(
                q, F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x).cast("long")
            ).alias("sum_abs_q"),
            F.aggregate(
                q, F.lit(0).cast("long"), lambda acc, x: acc + (x * x).cast("long")
            ).alias("sum_sq_q"),
            F.size(F.filter(q, lambda x: F.abs(x) == 127.0)).alias("n_sat"),
            F.round(F.array_max(err), 12).alias("max_abs_err"),
        )
    )


def random_projection(
    df: DataFrame,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table_id: int = 7,
    round_dp: int = 5,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dim`` dimensions
    with the engine-portable md5 hyperplanes (:func:`md5_planes`) scaled
    by 1/√out_dim — the dimensionality-reduction step before coarse ANN or
    clustering.  Zero shuffle: each projection is a literal-plane dot
    product over the row's own array (whole-stage codegen), and the SQL
    twin recomputes every plane component bit-for-bit.

    Returns (id_col, proj array<double> rounded to round_dp)."""
    dim = len(df.select(vec_col).first()[0])
    planes = md5_planes(dim, out_dim, table_id)
    scale = 1.0 / (out_dim ** 0.5)
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    projs = [
        F.round(
            F.aggregate(
                F.zip_with(
                    vec_d,
                    F.array(*[F.lit(c) for c in plane]),
                    lambda v, h: v * h,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * scale,
            round_dp,
        )
        for plane in planes
    ]
    return df.select(F.col(id_col), F.array(*projs).alias("proj"))


def embedding_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Corrupt/degenerate-embedding detector: distance of every vector to
    the corpus centroid, z-scored against the distance distribution.
    Returns (id, dist, z, is_outlier).  The standard curation screen for
    encoder failures (all-zero vectors, NaN collapses, off-manifold
    batches) before embeddings feed dedup/ANN.

    Scale shape: the centroid is ONE (dim_idx)-keyed map-combined
    aggregate of the posexploded corpus (64–4096 rows — broadcast back as
    a 1-row array); per-vector distance is a narrow zip_with/aggregate
    expression (zero shuffle); the distance moments are ONE more 1-row
    aggregate broadcast back.  Three passes over a column, no
    corpus-sized shuffle anywhere.  Variance uses the explicit
    E[d²]−E[d]² form so the SQL twin is bit-reproducible (stddev_pop's
    internal accumulation is engine-specific).
    """
    v = F.col(vec_col).cast("array<double>")
    centroid = (
        df.select(F.posexplode(v).alias("_i", "_v"))
        .groupBy("_i")
        .agg(F.avg("_v").alias("_m"))
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_i"), F.col("_m")))
            ).alias("_sc")
        )
        .select(F.transform("_sc", lambda s: s["_m"]).alias("_centroid"))
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(v, F.col("_centroid"), lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, d2: acc + d2,
        )
    )
    with_d = df.crossJoin(F.broadcast(centroid)).select(
        F.col(id_col), dist.alias("_d")
    )
    moments = with_d.agg(
        F.avg("_d").alias("_mu"),
        F.sqrt(F.avg(F.col("_d") * F.col("_d")) - F.avg("_d") * F.avg("_d")).alias("_sd"),
    )
    z = (F.col("_d") - F.col("_mu")) / F.col("_sd")
    return with_d.crossJoin(F.broadcast(moments)).select(
        id_col,
        F.round("_d", 6).alias("dist"),
        F.round(z, 6).alias("z"),
        (z > z_threshold).alias("is_outlier"),
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training (the in-batch /
    ANCE-style negative selection step): for every query vector, the ``k``
    highest-cosine corpus items with a DIFFERENT label — maximally
    confusable negatives, the pairs metric-learning losses learn most
    from.  Returns (query_id, neighbor_id, query_label, neighbor_label,
    cosine, rn).

    Same scale shape as :func:`brute_force_topk`: the query set (with its
    labels) broadcasts, the corpus never shuffles, and ranking moves only
    (query, candidate) pairs.  Above broadcastable query counts, swap the
    candidate generator for :func:`ivf_topk` / :func:`lsh_topk` and apply
    the same label-mismatch filter to its candidates.

    NULL-label contract (explicit, not an accident of SQL null
    semantics): unlabeled corpus rows are EXCLUDED up front — an unlabeled
    item is not a known negative for anything — and unlabeled queries
    raise rather than silently returning zero rows."""
    query_id_col = query_id_col or id_col
    corpus = corpus.filter(F.col(label_col).isNotNull())
    queries = queries.withColumn(
        label_col,
        F.when(
            F.col(label_col).isNull(),
            F.raise_error(
                F.lit(
                    "hard_negatives: query rows must carry a non-null "
                    f"{label_col} (a null label cannot define 'different-label')"
                )
            ).cast(dict(queries.dtypes)[label_col]),
        ).otherwise(F.col(label_col)),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("query_label")),
        )
        .withColumn("cosine", F.round(cosine_expr(F.col("_qv"), F.col("_cv")), 6))
        .drop("_qv", "_cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id", "neighbor_id", "query_label", "neighbor_label", "cosine", "rn"
        )
    )

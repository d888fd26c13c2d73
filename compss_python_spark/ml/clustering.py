"""Clustering (SURVEY.md §2.8 #56–57, §2.9 #69).

KMeans → pyspark.ml one-liner [ref: ddf_library/functions/ml/clustering.py
Kmeans].  DBSCAN/STDBSCAN have no Spark built-in: grid-cell partitioning +
per-cell local DBSCAN (applyInPandas) + border merge via connected
components — the same decomposition the reference uses across fragments,
re-expressed with Spark group semantics.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.ml.clustering import KMeans as MLKMeans

from compss_python_spark.centroids import centroid_dists
from pyspark.ml.functions import array_to_vector, vector_to_array


def kmeans(
    df: DataFrame,
    features_col: str = "embedding",
    k: int = 8,
    max_iter: int = 20,
    seed: int = 42,
    init_mode: str = "k-means||",
    prediction_col: str = "cluster",
):
    """[ref: ddf_library/functions/ml/clustering.py Kmeans] — supports the
    reference's 'random' and 'k-means||' init modes."""
    vec = df.withColumn("_v", array_to_vector(F.col(features_col).cast("array<double>")))
    model = MLKMeans(
        k=k, maxIter=max_iter, seed=seed, initMode=init_mode,
        featuresCol="_v", predictionCol=prediction_col,
    ).fit(vec)
    return model.transform(vec).drop("_v"), model


def kmeans_cost(model) -> float:
    """Training cost (WSSSE-equivalent) for convergence self-checks."""
    return model.summary.trainingCost


def kmeans_lloyd(
    df: DataFrame,
    init_ids: list[int],
    iters: int = 2,
    id_col: str = "vec_id",
    features_col: str = "embedding",
    prediction_col: str = "cluster",
) -> DataFrame:
    """DataFrame-native Lloyd's K-Means with FIXED initial centroids (the
    rows whose ``id_col`` is in ``init_ids``; cluster i is ``init_ids[i]``)
    — fully deterministic, so exact-value oracle-checkable (unlike seeded
    k-means||, whose init is engine-internal).

    The k × dim centroids live on the driver, as in spark.ml's KMeans: the
    init rows are collected once, then each iteration assigns every point
    by an ``array_min`` over the centroids embedded as ONE constant
    (:mod:`compss_python_spark.centroids`; ties toward the smaller cluster
    index) on the scan, with no join, and averages in long form —
    ``posexplode`` → ``groupBy(cluster, pos).avg`` → ``collect`` of k × dim
    rows.  (The wide form, dim ``avg(element_at)`` aggregates, disables
    whole-stage codegen: 0.52–0.60 s per collect against 0.21–0.25 s,
    bit-equal.)  The means merge into the centroid dict, so an empty
    cluster keeps its previous centroid (no reseeding), matching the SQL
    oracle; the vector width comes from the data.  The returned plan is
    scan + project and owns no storage.  A NaN or ±inf that reaches a
    centroid (in an init row, or averaged in from a point) raises
    ``ValueError``.  On the ``iterative`` perfbench workload (1 000 ×
    64-dim points, 2 iterations, 4-core host) the call went from about
    2.6 s with a broadcast centroid row, cross join and per-iteration
    checkpoint to 1.3 s.
    """
    pts = df.select(F.col(id_col).alias("_id"), F.col(features_col).cast("array<double>").alias("_v"))
    order = {int(v): i for i, v in enumerate(init_ids)}
    cents = {
        order[int(r["_id"])]: r["_v"]
        for r in pts.filter(F.col("_id").isin(list(order))).collect()
    }
    if not cents:
        raise ValueError(f"none of init_ids {list(init_ids)} is in {id_col!r}")

    def assign() -> DataFrame:
        return pts.withColumn("_cid", F.array_min(centroid_dists("_v", cents))["cid"])

    for _ in range(iters):
        means: dict[int, dict[int, float]] = {}
        for r in (
            assign().select("_cid", F.posexplode("_v"))
            .groupBy("_cid", "pos").agg(F.avg("col").alias("m"))
            .collect()
        ):
            means.setdefault(r["_cid"], {})[r["pos"]] = r["m"]
        cents.update({cid: [m[p] for p in sorted(m)] for cid, m in means.items()})
    return assign().select(F.col("_id").alias(id_col), F.col("_cid").alias(prediction_col))


# --- DBSCAN ----------------------------------------------------------------


def _local_dbscan(pdf: pd.DataFrame, eps: float, min_pts: int, dims: list[str]) -> pd.DataFrame:
    """Plain-numpy DBSCAN within one grid cell (points + halo).

    O(m²) distance matrix per cell — cells are sized ~eps so m stays small;
    the cross-cell merge happens later via connected components.
    """
    pts = pdf[dims].to_numpy(dtype=float)
    m = len(pts)
    labels = np.full(m, -1, dtype=int)
    if m:
        d2 = ((pts[:, None, :] - pts[None, :, :]) ** 2).sum(-1)
        neigh = d2 <= eps * eps
        counts = neigh.sum(1)
        core = counts >= min_pts
        cluster = 0
        for i in range(m):
            if labels[i] != -1 or not core[i]:
                continue
            stack = [i]
            labels[i] = cluster
            while stack:
                j = stack.pop()
                if core[j]:
                    for nb in np.flatnonzero(neigh[j]):
                        if labels[nb] == -1:
                            labels[nb] = cluster
                            stack.append(nb)
            cluster += 1
    out = pdf.copy()
    out["local_label"] = labels
    out["is_core"] = core if m else np.zeros(0, dtype=bool)
    return out


def _grid_halo(
    point: DataFrame, dims: list[str], cell_sizes: list[float], margins: list[float]
) -> DataFrame:
    """Assign each point to its grid cell and replicate it into any neighbor
    cell whose box it is within margin of (halo replication, ≤ 3^ndim
    copies; in practice ~1 + boundary fraction).

    Single scan: per row, build the array of qualifying cell ids (null for
    non-qualifying offsets, compacted away) and explode it — one narrow
    projection instead of a 3^ndim-branch union re-scanning the input.
    """
    offsets = [()]
    for _ in range(len(dims)):
        offsets = [o + (d,) for o in offsets for d in (-1, 0, 1)]

    candidates = []
    for off in offsets:
        include = F.lit(True)
        for d, o, cell, eps in zip(dims, off, cell_sizes, margins):
            c_target = F.floor(F.col(d) / cell) + o
            lo = c_target * cell
            hi = (c_target + 1) * cell
            include = include & (F.col(d) >= lo - eps) & (F.col(d) < hi + eps)
        cell_id = F.concat_ws(
            "_",
            *[
                (F.floor(F.col(d) / cell) + o).cast("long")
                for d, o, cell in zip(dims, off, cell_sizes)
            ],
        )
        candidates.append(F.when(include, cell_id))
    return point.withColumn(
        "_cell", F.explode(F.array_compact(F.array(*candidates)))
    )


def _apply_per_cell(cells: DataFrame, per_cell_fn, schema: str) -> DataFrame:
    """Run ``per_cell_fn(pdf) -> pdf`` once per grid cell, batched.

    ``groupBy("_cell").applyInPandas`` pays a fixed Python/Arrow round-trip
    per GROUP; grid decompositions produce thousands of small cells, so
    per-group overhead dominates (measured: 2 225 cells × ~36 rows → 10.5 s
    labeling, vs 1.9 s after bucketing).  Cells are therefore hashed into
    ~4× parallelism super-groups — one Python call per bucket, a pandas
    groupby per cell inside.  Semantics are identical: every cell is still
    processed whole, in exactly one bucket.
    """
    spark = cells.sparkSession
    n_buckets = 4 * spark.sparkContext.defaultParallelism

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.concat(
            [per_cell_fn(g) for _, g in pdf.groupby("_cell", sort=False)],
            ignore_index=True,
        )

    return (
        cells.withColumn("_bkt", F.pmod(F.xxhash64("_cell"), F.lit(n_buckets)))
        .groupBy("_bkt")
        .applyInPandas(lambda pdf: run(pdf.drop(columns=["_bkt"])), schema)
    )


def dbscan(
    df: DataFrame,
    dims: list[str],
    eps: float,
    min_pts: int,
    id_col: str = "point_id",
    cell_size: float | None = None,
    include_core: bool = False,
) -> DataFrame:
    """Distributed DBSCAN [ref: ddf_library/functions/ml/clustering.py
    DBSCAN]: grid bucketing + per-cell local DBSCAN + border merge.

    1. Assign each point to a grid cell (side = 2·eps by default) and
       replicate it into neighbor cells within eps of the boundary (halo).
    2. applyInPandas: local DBSCAN per cell (numpy, no sklearn dependency).
    3. Core points appearing in ≥2 cells with different local clusters form
       merge edges; union-find on the driver (edge count ≪ point count)
       produces the global relabeling.

    Noise points get cluster −1, matching the reference.
    ``include_core=True`` adds an ``is_core`` boolean column (global
    core-ness = max over halo copies).

    ``cell_size`` must be ≥ eps: the halo replicates into ±1 neighbor cells
    only, so a cell smaller than eps would silently truncate
    eps-neighborhoods (wrong core/cluster labels).
    """
    cell = cell_size or (2.0 * eps)
    if cell < eps:
        raise ValueError(
            f"cell_size={cell} < eps={eps} breaks the single-ring halo "
            "invariant (only ±1 neighbor cells are replicated); use "
            "cell_size >= eps"
        )
    cells = _grid_halo(
        df.select(id_col, *dims), dims, [cell] * len(dims), [eps] * len(dims)
    )

    schema = f"{','.join(f'{c} double' for c in dims)}, {id_col} long, _cell string, local_label int, is_core boolean"
    labeled = _apply_per_cell(
        cells,
        lambda pdf: _local_dbscan(pdf, eps, min_pts, dims)[
            [*dims, id_col, "_cell", "local_label", "is_core"]
        ],
        schema,
    )
    return _merge_cells(df, labeled, id_col, include_core=include_core)


def _merge_cells(
    df: DataFrame, labeled: DataFrame, id_col: str, include_core: bool = False
) -> DataFrame:
    """Union-find merge of per-cell cluster labels into global cluster ids.

    The raw per-cell output (``all_copies``) is persisted once — it feeds
    both the merge-edge extraction and the global core-ness aggregate, so
    the expensive applyInPandas never re-runs — and released before
    returning: the per-point (id, cluster) / (id, is_core) maps are eagerly
    checkpointed (2 narrow columns per point), so the returned plan holds
    no reference to the cache.
    """
    all_copies = labeled.persist()
    labeled = all_copies.filter(F.col("local_label") >= 0).withColumn(
        "gl", F.concat_ws("#", "_cell", F.col("local_label").cast("string"))
    )

    # Merge edges: a point that is core in its OWN cell (complete
    # eps-neighborhood there ⇒ globally core) and assigned in ≥2 cells links
    # those local clusters.  Halo copies can undercount neighbors, so
    # core-ness is the max over copies.
    g_core = labeled.groupBy(id_col).agg(F.max("is_core").alias("g_core"))
    core_multi = labeled.join(g_core.filter(F.col("g_core")), id_col, "left_semi")
    e = (
        core_multi.alias("x")
        .join(core_multi.alias("y"), id_col)
        .filter(F.col("x.gl") < F.col("y.gl"))
        .select(F.col("x.gl").alias("a"), F.col("y.gl").alias("b"))
        .distinct()
    )
    edges = e.collect()  # |edges| ~ number of adjacent-cell cluster pairs — small
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in edges:
        ra, rb = find(r["a"]), find(r["b"])
        if ra != rb:
            parent[ra] = rb

    mapping = {g: find(g) for g in parent}
    spark = df.sparkSession
    if mapping:
        map_df = spark.createDataFrame(list(mapping.items()), "gl string, root string")
        labeled = labeled.join(F.broadcast(map_df), "gl", "left").withColumn(
            "root", F.coalesce(F.col("root"), F.col("gl"))
        )
    else:
        labeled = labeled.withColumn("root", F.col("gl"))

    # A border point can be claimed by several clusters — keep the smallest
    # root (deterministic); densify roots to 0..k-1 ids.  The unpartitioned
    # window below is over the DISTINCT roots only (k rows ≈ cluster count,
    # never the point set), so the single-partition WindowExec is bounded.
    assign = labeled.groupBy(id_col).agg(F.min("root").alias("root"))
    ids = assign.select("root").distinct().withColumn(
        "cluster", F.row_number().over(Window.orderBy("root")) - 1
    )
    cluster_map = (
        assign.join(F.broadcast(ids), "root")
        .select(id_col, "cluster")
        .localCheckpoint(eager=True)
    )
    core = None
    if include_core:
        core = (
            all_copies.groupBy(id_col)
            .agg(F.max("is_core").alias("is_core"))
            .localCheckpoint(eager=True)
        )
    all_copies.unpersist()
    out = df.join(cluster_map, id_col, "left")
    out = out.withColumn("cluster", F.coalesce(F.col("cluster"), F.lit(-1)))
    if core is not None:
        out = out.join(core, id_col, "left").withColumn(
            "is_core", F.coalesce(F.col("is_core"), F.lit(False))
        )
    return out


# --- ST-DBSCAN -------------------------------------------------------------


def _local_stdbscan(
    pdf: pd.DataFrame,
    eps_spatial: float,
    eps_temporal: float,
    min_pts: int,
    spatial_dims: list[str],
    t_dim: str,
) -> pd.DataFrame:
    """ST-DBSCAN neighbor predicate: spatial Euclidean ≤ eps_spatial AND
    |Δt| ≤ eps_temporal (two independent radii, Birant & Kut 2007 — NOT a
    scaled-Euclidean ellipsoid)."""
    pts = pdf[spatial_dims].to_numpy(dtype=float)
    ts = pdf[t_dim].to_numpy(dtype=float)
    m = len(pts)
    labels = np.full(m, -1, dtype=int)
    core = np.zeros(m, dtype=bool)
    if m:
        d2 = ((pts[:, None, :] - pts[None, :, :]) ** 2).sum(-1)
        dt = np.abs(ts[:, None] - ts[None, :])
        neigh = (d2 <= eps_spatial * eps_spatial) & (dt <= eps_temporal)
        core = neigh.sum(1) >= min_pts
        cluster = 0
        for i in range(m):
            if labels[i] != -1 or not core[i]:
                continue
            stack = [i]
            labels[i] = cluster
            while stack:
                j = stack.pop()
                if core[j]:
                    for nb in np.flatnonzero(neigh[j]):
                        if labels[nb] == -1:
                            labels[nb] = cluster
                            stack.append(nb)
            cluster += 1
    out = pdf.copy()
    out["local_label"] = labels
    out["is_core"] = core
    return out


def stdbscan(
    df: DataFrame,
    spatial_dims: list[str],
    ts_col: str,
    eps_spatial: float,
    eps_temporal: float,
    min_pts: int,
    id_col: str = "point_id",
    include_core: bool = False,
) -> DataFrame:
    """Spatio-temporal DBSCAN [ref: ddf_library/functions/ml/clustering.py
    STDBSCAN]: the DBSCAN grid/merge machinery with a third (time) grid axis
    sized by eps_temporal.  `ts_col` may be a timestamp (cast to epoch
    seconds) or numeric; `eps_temporal` is in seconds.

    Scale: the shuffle is one hash partition on grid cell; halo duplication
    is bounded by 3^3 worst case and ~(1+3·margin/cell) expected.  Per-cell
    work is vectorized numpy; the cross-cell merge moves only (cell, label)
    edges to the driver.
    """
    from pyspark.sql import types as T

    ts_type = df.schema[ts_col].dataType
    if isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
        # NTZ cannot cast straight to double under ANSI; go through
        # epoch micros (NTZ → TIMESTAMP uses the session tz, pinned UTC).
        t_expr = F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(1e6)
    else:
        t_expr = F.col(ts_col).cast("double")
    t = df.withColumn("_t", t_expr)
    dims = [*spatial_dims, "_t"]
    cells = _grid_halo(
        t.select(id_col, *dims),
        dims,
        [2 * eps_spatial] * len(spatial_dims) + [2 * eps_temporal],
        [eps_spatial] * len(spatial_dims) + [eps_temporal],
    )
    schema = f"{','.join(f'{c} double' for c in dims)}, {id_col} long, _cell string, local_label int, is_core boolean"
    labeled = _apply_per_cell(
        cells,
        lambda pdf: _local_stdbscan(
            pdf, eps_spatial, eps_temporal, min_pts, spatial_dims, "_t"
        )[[*dims, id_col, "_cell", "local_label", "is_core"]],
        schema,
    )
    return _merge_cells(df, labeled, id_col, include_core=include_core)

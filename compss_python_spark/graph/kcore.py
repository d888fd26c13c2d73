"""k-core decomposition: iteratively peel nodes of degree < k until the
remaining subgraph has minimum degree ≥ k — the standard dense-subgraph /
spam-cluster / community-seed primitive.

Edges are symmetrized + distinct once (null endpoints excluded by
contract, matching components.py) and persisted.  The loop state is the
current subgraph's degree table; each peel round restricts the edges to
the nodes of degree ≥ k and recounts degrees — one degree aggregate + two
semi-joins keyed on node ids (high-cardinality, well-distributed), no
driver-side graph state.  The subgraph is a k-core once its minimum degree
is ≥ k.  Rounds needed = peel depth (the degeneracy ordering's layer
count), small for real graphs; ``max_iter`` turns a pathological input
into a loud error, never a silent wrong answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from compss_python_spark.caching import iterate


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Nodes of the k-core of the undirected graph, with their core degree:
    (node, degree), degree ≥ k, computed on the k-core subgraph."""
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")
    base = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s") != F.col("d"))
    )
    e = (
        base.union(base.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .persist()
    )

    def degrees(sub: DataFrame) -> DataFrame:
        return sub.groupBy("s").agg(F.count("*").alias("degree"))

    def peel(deg: DataFrame) -> DataFrame:
        keep = deg.filter(F.col("degree") >= k).select("s")
        return degrees(
            e.join(keep, "s").join(keep.select(F.col("s").alias("d")), "d")
        )

    def is_core(deg: DataFrame) -> bool:
        low = deg.agg(F.min("degree")).first()[0]
        return low is None or low >= k

    try:
        core = iterate(degrees(e), peel, max_iter, done=is_core)
    finally:
        e.unpersist()
    return core.select(F.col("s").alias("node"), "degree")

"""Synchronous label propagation (community detection) and BFS layers.

Edges are symmetrized + distinct once and persisted; every round is one
join + one map-combined aggregate keyed on node ids (high-cardinality,
well-distributed — never driver-side graph state), run by
:func:`caching.iterate`.

Determinism contracts (what makes these oracle-able):
- LPA is the SYNCHRONOUS variant (Raghavan et al. 2007) with total
  tie-break: the new label is argmax over neighbor labels by
  (count desc, label asc), all nodes updating simultaneously from the
  previous round's labels.  Async/randomized variants converge faster but
  are run-order-dependent; the synchronous rule is a pure function of the
  round input, so a fixed round count R is exactly reproducible (the SQL
  oracle unrolls R rounds).
- BFS distances after R rounds are exact for every node within R hops
  (min-plus relaxation reaches fixpoint layer by layer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from compss_python_spark.caching import iterate


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected (s, d) pairs, persisted: every round reads them."""
    base = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s") != F.col("d"))
    )
    return (
        base.union(base.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .persist()
    )


def label_propagation(
    edges: DataFrame,
    num_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """``num_rounds`` of synchronous LPA over the undirected graph; labels
    initialized to node ids.  Returns (node, label).

    Per round: edges join labels on the neighbor side (one shuffle keyed
    on node id), then ONE aggregate resolves the argmax via
    max(struct(count, -label)) — a map-combinable expression, cheaper and
    skew-safer than a per-node sort window."""
    def relabel(labels: DataFrame) -> DataFrame:
        counts = (
            e.join(labels, e["d"] == labels["node"])
            .groupBy("s", "label")
            .agg(F.count("*").alias("cnt"))
        )
        return (
            counts.groupBy("s")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("_nl"))).alias("_m"))
            .select(
                F.col("s").alias("node"),
                (-F.col("_m._nl")).alias("label"),
            )
        )

    e = _symmetrize(edges, src, dst)
    try:
        init = e.select(F.col("s").alias("node")).distinct()
        return iterate(
            init.select("node", F.col("node").alias("label")), relabel, num_rounds
        )
    finally:
        e.unpersist()


def bfs_layers(
    edges: DataFrame,
    seeds: DataFrame,
    num_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Hop distances from a seed SET via ``num_rounds`` of min-plus
    relaxation: dist_{r+1}(v) = min(dist_r(v), 1 + min over neighbors).
    Returns (node, dist) for every node within ``num_rounds`` hops —
    exact by the layer-by-layer fixpoint argument.

    Per round: one neighbor-expansion join + one min aggregate, both
    keyed on node ids.  The frontier never materializes on the driver."""
    def relax(dist: DataFrame) -> DataFrame:
        expanded = e.join(dist, e["d"] == dist["node"]).select(
            F.col("s").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        return (
            dist.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("dist").cast("int").alias("dist"))
        )

    e = _symmetrize(edges, src, dst)
    try:
        init = seeds.select(F.col(seed_col).alias("node")).distinct()
        return iterate(
            init.select("node", F.lit(0).cast("int").alias("dist")), relax, num_rounds
        )
    finally:
        e.unpersist()


def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    num_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    seed_col: str = "node",
    directed: bool = False,
) -> DataFrame:
    """Weighted single-source(-set) shortest paths via ``num_rounds`` of
    Bellman–Ford min-plus relaxation:
    dist_{r+1}(v) = min(dist_r(v), min over in-edges (dist_r(u) + w(u,v))).
    Returns (node, dist) for every node already reached; distances are
    exact for all shortest paths of <= num_rounds edges (the standard
    Bellman–Ford bound — |V|−1 rounds gives the full fixpoint on
    negative-free graphs; candidate graphs in practice converge in a few
    rounds).  Negative weights are rejected (min-plus with a bounded
    round count has no negative-cycle detection).

    Same loop as :func:`bfs_layers`: per round ONE edge-expansion join +
    ONE map-combined min aggregate, both keyed on node ids; the frontier
    never touches the driver.
    """
    base = (
        edges.filter(
            F.col(src).isNotNull()
            & F.col(dst).isNotNull()
            & F.col(weight).isNotNull()
        )
        .select(
            F.col(src).alias("s"),
            F.col(dst).alias("d"),
            F.col(weight).cast("double").alias("w"),
        )
        .filter(F.col("s") != F.col("d"))
    )
    if not directed:
        base = base.union(
            base.select(
                F.col("d").alias("s"), F.col("s").alias("d"), "w"
            )
        )
    def relax(dist: DataFrame) -> DataFrame:
        expanded = e.join(dist, e["s"] == dist["node"]).select(
            F.col("d").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        return (
            dist.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )

    # parallel edges keep only the lightest — the only weight that can
    # ever win a relaxation
    e = base.groupBy("s", "d").agg(F.min("w").alias("w")).persist()
    try:
        if e.filter(F.col("w") < 0).limit(1).count():
            raise ValueError(
                "sssp_weighted: negative edge weights are not supported "
                "(bounded-round min-plus relaxation cannot detect negative "
                "cycles)"
            )
        init = seeds.select(F.col(seed_col).alias("node")).distinct()
        return iterate(
            init.select("node", F.lit(0.0).alias("dist")), relax, num_rounds
        )
    finally:
        e.unpersist()

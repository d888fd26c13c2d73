"""PageRank over an edge table (SURVEY.md §2.9 #68).

Reference [ref: ddf_library/functions/graph/pagerank.py]: iterative
rank ⋈ edge joins until max_iters.  Global PageRank is personalized
PageRank with every node a seed, so :func:`pagerank` and
:func:`personalized_pagerank` run ONE kernel, :func:`_pagerank`, that
differs between them only in the restart vector r (1/n on every node, or
1/|S| on the seeds S, 0 elsewhere):

    rank' = (1−d)·r + d·(contrib + m·r),   m = 1 − Σcontrib

Dangling nodes (no out-links) restart their mass along r, so Σrank = 1
every iteration, matching the standard formulation (and networkx) rather
than leaking mass.  Spark-first: the same dataflow as DataFrame
joins/aggs, with scale-critical choices the reference lacks:

- **Plan-growth control**: each iteration extends the logical plan; a LAZY
  checkpoint every `_CHECKPOINT_EVERY` iterations (`caching.iterate`,
  ``eager=False``) truncates lineage so Catalyst/AQE re-planning cost
  stays constant (SURVEY.md §7 hard part 3).  Measured at sf0.1: every 5 → 17 s for 8 iterations, every 2 →
  4.6 s — the accumulated-plan AQE re-optimization, not data volume,
  dominates; the 10× sweep in SCALE.md re-confirms 2 as the optimum.
- **Partitioning reuse**: edges are hash-partitioned once on src and
  persisted; every iteration's join reuses that layout, so only the small
  rank table shuffles per iteration.
- **Size-adaptive loop parallelism**: the per-iteration tables (ranks,
  contribs) are tiny relative to the cluster's default shuffle width; with
  8 iterations × 3 stages, empty-task scheduling dominates wall-clock on
  small graphs (measured at sf0.1: 32 shuffle partitions → 7.5 s, 8 → 4.3 s
  for the same 8 iterations).  The loop therefore runs under a shuffle
  partition count derived from the edge count (~500 k edges/partition,
  capped at the session default) — a huge graph still gets the full
  default width.  The final ranks are materialized (eager
  localCheckpoint) inside the conf scope; see ``session.scoped_conf`` for
  the concurrency contract.
- **Gate-sized setup**: the regime gate counts the distinct-edge cache the
  loop needs anyway (never the raw edge SOURCE — re-executing a join-shaped
  source to count it dominated the 10× probe); the node count, seed count
  and key width are one aggregate over the persisted node list the
  distributed loop materializes anyway — no standalone distinct-id
  aggregate runs (a second 600 M-row cache pass dominated the 100× probe
  in round 7).
- **Type-aware broadcast gate**: the rank table is broadcast when
  n_nodes × (56 B + key width) fits the session's broadcast threshold;
  the key width is the type's fixed size, or the measured mean byte
  length for string and binary keys.

All persisted helpers (distinct edges, node list, weighted edges) are
released before returning; the returned DataFrame is a checkpointed leaf
with no cache footprint left behind.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from compss_python_spark.caching import iterate
from compss_python_spark.session import loop_width_confs, scoped_conf

# Conservative serialized-bytes bounds for the loop-conf gates below:
# a contribution-shuffle row is (node key, double) ≈ 16 B payload; 32 B
# covers codec/framing overhead.  A broadcast rank row (node, rank) in a
# built hash relation costs ≈ 56 B of object overhead plus the node key.
_SHUFFLE_BYTES_PER_EDGE = 32
_BCAST_BYTES_PER_ROW = 56
_CHECKPOINT_EVERY = 2
# Loop width: measured optimum on a 5.9M-edge graph at local[32] (16
# partitions: 12.6 s vs 3: 16.7 s vs 32: 19.2 s for 8 iterations); graphs
# below the local_threshold never reach the loop, so the scheduling-
# overhead regime that favored fewer partitions is served by the driver
# kernel.
_EDGES_PER_PARTITION = 500_000


def _loop_conf_gates(
    spark, n_edges: int, n_nodes: int, key_bytes: float
) -> tuple[bool, bool]:
    """Decide (aqe_off, broadcast_ranks) for the iteration loop from the
    MEASURED graph size against the session's own thresholds — never a
    constant tuned for local mode (both gates are no-ops at 100 TB).

    - ``broadcast_ranks``: hint the (node, rank) side of the contribution
      join broadcast when n_nodes × (56 B + ``key_bytes``) fits the
      session's autoBroadcastJoinThreshold.  The rank table is a
      per-iteration derived plan whose size estimate is unknown, so the
      static planner never broadcasts it unhinted and AQE re-discovers the
      conversion every iteration at replan cost; the hint makes it
      deterministic.
    - ``aqe_off``: disable AQE inside the loop scope ONLY when both
      (a) the whole per-iteration contribution shuffle, bounded by
      n_edges × 32 B, is smaller than the AQE skew-split threshold —
      so no post-shuffle partition can ever qualify as skewed and
      skew handling provably cannot fire (measured at gen10: 5.99 M
      edges → ≤ ~190 MB < 256 MB, in-degree max/median = 1.16), and
      (b) the ranks side is being broadcast explicitly — so AQE's
      runtime join conversion has nothing left to discover.
      Under (a) ∧ (b) the only thing AQE still does in the loop is
      re-plan every stage of every iteration (pure driver overhead:
      r12 measured 8-10 % steady and far more cold at sf0.1-forced;
      r13 interleaved gen10 min-of-9: 8.3 s vs 11.4 s base).  On a
      power-law graph at scale the gates keep AQE ON: either bound
      growing past its threshold re-enables the full machinery.
    """
    conf = spark._jsparkSession.sessionState().conf()
    sql_conf = spark._jvm.org.apache.spark.sql.internal.SQLConf
    bcast_thr = conf.autoBroadcastJoinThreshold()
    skew_thr = conf.getConf(sql_conf.SKEW_JOIN_SKEWED_PARTITION_THRESHOLD())
    rank_bytes = n_nodes * (_BCAST_BYTES_PER_ROW + key_bytes)
    broadcast_ranks = bcast_thr > 0 and rank_bytes <= bcast_thr
    aqe_off = broadcast_ranks and n_edges * _SHUFFLE_BYTES_PER_EDGE <= skew_thr
    return aqe_off, broadcast_ranks


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iters: int = 10,
    local_threshold: int = 4_000_000,
) -> DataFrame:
    """Returns (node, rank) with Σrank = 1 (uniform init, dangling-aware).

    Two physical strategies, chosen by measured edge count (the same
    bounded-small-side adaptivity as Spark's broadcast-join threshold and
    :func:`components.connected_components`):

    - ``2·distinct edges ≤ local_threshold`` (default 4M edges ≈ 64 MB at
      16 B/edge, the session's broadcast-join threshold) → vectorized numpy
      power iteration on the driver over the collected (src, dst) pairs,
      identical update formula, zero shuffles beyond the distinct.  A
      graph that fits in a few MB gains nothing from a multi-stage-per-
      iteration distributed loop (scheduling dominates by 10–100×).
      ``local_threshold=0`` forces the loop.
    - larger → the distributed loop (the 100 TB path): edges
      hash-partitioned once, one rank shuffle per iteration, dangling mass
      via the broadcast aggregate identity.  The session's
      ``spark.sql.shuffle.partitions`` is scoped to a size-derived width
      (restored before returning — the result is eagerly materialized
      inside the scope, so callers never observe the override).
    """
    return _pagerank(edges, None, src, dst, damping, max_iters, local_threshold)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    damping: float = 0.85,
    max_iters: int = 10,
    local_threshold: int = 4_000_000,
) -> DataFrame:
    """Personalized PageRank: random walk with restart into the SEED set
    (uniform over the seeds that are nodes of the graph) instead of the
    whole graph — the similarity / recommendation workhorse (\"nodes
    relevant to THESE nodes\").  Dangling mass restarts into the seed
    distribution, so Σrank = 1 every iteration.  Same strategies as
    :func:`pagerank`; the restart vector is a seed-flag column on the
    persisted node list (seed set broadcast into that one join — no
    per-iteration seed shuffles), and the driver kernel collects only the
    seed ids that are nodes of the (bounded) graph.  Raises
    ``ValueError`` when no seed is a node of the graph.
    """
    seed_set = seeds.select(F.col(seed_col).alias("node")).distinct()
    return _pagerank(edges, seed_set, src, dst, damping, max_iters, local_threshold)


def _pagerank(
    edges: DataFrame,
    seed_set: DataFrame | None,
    src: str,
    dst: str,
    damping: float,
    max_iters: int,
    local_threshold: int,
) -> DataFrame:
    """The one PageRank kernel: restart vector 1/n on every node when
    ``seed_set`` is None, else 1/|S ∩ graph| on the seeds."""
    spark = edges.sparkSession
    # Null-keyed edges are excluded by contract on BOTH paths (a null
    # endpoint would otherwise survive as a meaningless node on the
    # distributed path but not the local one).
    d = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    # The gate costs ONE count, which also materializes the distinct-edge
    # cache both paths read.
    e = d.distinct().persist()
    n_edges = e.count()
    node_ids = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if local_threshold and 2 * n_edges <= local_threshold:
        try:
            # Seed ids are intersected with the (bounded) graph's node set
            # before the collect, so an oversized seed table cannot blow
            # the driver.
            seed_ids = (
                None
                if seed_set is None
                else [r["node"] for r in seed_set.join(node_ids, "node").collect()]
            )
            return _pagerank_local(e, damping, max_iters, seed_ids)
        finally:
            e.unpersist()
    node_type = e.schema["src"].dataType
    measure_key = isinstance(node_type, (T.StringType, T.BinaryType))
    helpers: list[DataFrame] = [e]
    try:
        width_confs = loop_width_confs(spark, n_edges, _EDGES_PER_PARTITION)
        with scoped_conf(spark, width_confs):
            nodes = node_ids
            stats = [F.count("*").alias("_n")]
            if seed_set is not None:
                nodes = nodes.join(
                    F.broadcast(seed_set.withColumn("_s", F.lit(True))), "node", "left"
                )
                stats.append(F.sum(F.col("_s").cast("long")).alias("_ns"))
            if measure_key:
                stats.append(F.avg(F.octet_length("node")).alias("_kb"))
            nodes = nodes.repartition("node").persist()
            helpers.append(nodes)
            # One cached-side aggregate materializes the node list and
            # measures everything the restart vector and the gates need.
            # Restart mass is defined over seeds ∩ graph (an out-of-graph
            # seed would silently leak Σrank below 1).
            cnt = nodes.agg(*stats).first()
            n_nodes = cnt["_n"]
            if seed_set is None:
                r = F.lit(1.0 / n_nodes)
            else:
                n_seeds = cnt["_ns"] or 0
                if n_seeds == 0:
                    raise ValueError(
                        "personalized_pagerank: no seed is a node of the graph"
                    )
                r = F.when(F.col("_s"), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0))
            key_bytes = (
                (cnt["_kb"] or 0.0)
                if measure_key
                else spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
                    node_type.json()
                ).defaultSize()
            )
            aqe_off, bcast = _loop_conf_gates(spark, n_edges, n_nodes, key_bytes)
            # Nested: aqe_off is measured inside the width scope.
            aqe_confs = {"spark.sql.adaptive.enabled": "false"} if aqe_off else {}
            with scoped_conf(spark, aqe_confs):
                out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
                edges_w = (
                    e.join(out_deg, "src")
                    .select("src", "dst", (F.lit(1.0) / F.col("deg")).alias("w"))
                    .repartition("src")
                    .persist()
                )
                helpers.append(edges_w)
                # Note: a source-nodes-only loop state (sinks' ranks never
                # feed back; full-node update once at the end) was MEASURED
                # SLOWER on a 5.9M-edge graph at every width (16.6 s vs
                # 12.6 s at 16 partitions, 8 iterations) — the saved
                # all-nodes join is cheap against the persisted node list,
                # and the extra plan nodes cost more than the exchange they
                # remove.  Keeping the simpler full-node state.
                def update(ranks: DataFrame) -> DataFrame:
                    r_side = ranks.withColumnRenamed("node", "src")
                    if bcast:
                        # Size-gated: the edge side then never exchanges,
                        # and the only per-iteration shuffle left is the
                        # map-side-combined contribution aggregate.
                        r_side = F.broadcast(r_side)
                    contribs = (
                        edges_w.join(r_side, "src")
                        .groupBy(F.col("dst").alias("node"))
                        .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
                    )
                    # Dangling mass via the aggregate identity m = 1 − Σcontrib
                    # (Σcontrib = Σ rank over NON-dangling nodes, since each
                    # such node's rank splits exactly into its out-edge
                    # contributions).  This avoids a second reference to
                    # `ranks` (no per-iteration persist needed) and the
                    # left-anti dangling join — one aggregate over the
                    # already-shuffled contribs, kept in the plan as a
                    # broadcast 1-row table so no per-iteration blocking job
                    # runs.
                    total = contribs.agg(
                        F.coalesce(F.sum("contrib"), F.lit(0.0)).alias("_tc")
                    )
                    return (
                        nodes.join(contribs, "node", "left")
                        .crossJoin(F.broadcast(total))
                        .select(
                            "node",
                            (
                                F.lit(1.0 - damping) * r
                                + F.lit(damping)
                                * (
                                    F.coalesce(F.col("contrib"), F.lit(0.0))
                                    + (F.lit(1.0) - F.col("_tc")) * r
                                )
                            ).alias("rank"),
                        )
                    )

                # Lazy checkpoints keep Catalyst analysis cost constant
                # without a blocking job per checkpoint; the final ranks are
                # materialized under the scoped confs, a checkpointed leaf
                # immune to the conf restores and the helper unpersists.
                ranks = iterate(
                    nodes.select("node", r.alias("rank")),
                    update,
                    max_iters,
                    every=_CHECKPOINT_EVERY,
                    eager=False,
                )
    finally:
        for h in helpers:
            h.unpersist()
    return ranks


def _pagerank_local(
    d: DataFrame, damping: float, max_iters: int, seed_ids=None
) -> DataFrame:
    """Driver-side power iteration over a bounded raw edge set.  Same
    update as the distributed loop — rank' = (1−d)·r + d·(contrib +
    (1−Σcontrib)·r), contrib = Σ_{(s→t)} rank_s/outdeg_s, with r = 1/n
    uniform (global PageRank, ``seed_ids=None``) or 1/|S∩graph| on seeds
    (personalized) — on driver-deduplicated edges; numpy accumulation
    order differs from the distributed sum only in low-order float bits
    (callers round results to ≤8 dp before hashing, same tolerance the
    distributed path relies on).
    """
    import numpy as np
    import pandas as pd

    spark = d.sparkSession
    node_type = d.schema["src"].dataType
    pdf = d.toPandas()  # one Arrow-batched job, bounded by local_threshold
    # Nulls are filtered upstream, but Arrow converts a nullable int64
    # column to float64 anyway — cast integral node columns back so the
    # emitted rows match the LongType schema.  factorize (not
    # np.unique(axis=0)) so STRING/object node ids work too.
    pdf = pdf.dropna(subset=["src", "dst"]).drop_duplicates(["src", "dst"])
    if isinstance(node_type, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        pdf = pdf.astype({"src": "int64", "dst": "int64"})
    both = pd.concat([pdf["src"], pdf["dst"]], ignore_index=True)
    codes, nodes = pd.factorize(both)
    m = len(pdf)
    si, ti = codes[:m].copy(), codes[m:].copy()
    # deterministic accumulation order regardless of input partition order
    order = np.lexsort((ti, si))
    si, ti = si[order], ti[order]
    n = len(nodes)
    if n == 0:
        if seed_ids is not None:
            # match the distributed path's contract for the same input
            raise ValueError(
                "personalized_pagerank: no seed is a node of the graph"
            )
        return spark.createDataFrame([], schema=_rank_schema(node_type))
    deg = np.bincount(si, minlength=n)
    w = 1.0 / deg[si]
    if seed_ids is None:
        r = np.full(n, 1.0 / n)
    else:
        mask = pd.Index(nodes).isin(list(seed_ids))
        if not mask.any():
            raise ValueError(
                "personalized_pagerank: no seed is a node of the graph"
            )
        r = np.where(mask, 1.0 / mask.sum(), 0.0)
    rank = r.copy()
    for _ in range(max_iters):
        contrib = np.zeros(n)
        np.add.at(contrib, ti, rank[si] * w)
        rank = (1.0 - damping) * r + damping * (
            contrib + (1.0 - contrib.sum()) * r
        )
    def _py(v):
        return v.item() if hasattr(v, "item") else v

    return spark.createDataFrame(
        [(_py(v), float(r)) for v, r in zip(nodes, rank)],
        _rank_schema(node_type),
    )


def _rank_schema(node_type) -> "T.StructType":
    return T.StructType(
        [
            T.StructField("node", node_type, False),
            T.StructField("rank", T.DoubleType(), False),
        ]
    )


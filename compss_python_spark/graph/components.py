"""Connected components over an edge table (engine extension; completes the
MinHash-LSH dedup pipeline: candidate pairs → components → one survivor per
component).

Two physical strategies, chosen by the distinct edge count:

- a bounded graph is collected and labeled by union-find on the driver;
- a larger one runs alternating large-star/small-star rounds (Kiveris et
  al. 2014) under :func:`caching.iterate`, O(log diameter) rounds, each a
  constant number of groupBy/join shuffles over an edge set that only
  shrinks toward a star forest rooted at the component minima.  The loop
  shuffle width is derived from the edge count (empty-task scheduling
  dominates small graphs at the session default width).

Both produce (node, component = min reachable id).  `CC_STRATEGIES.json`
holds the measurement that retired min-label propagation (Θ(diameter)
rounds) in favour of the star loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from compss_python_spark.caching import iterate
from compss_python_spark.session import loop_width_confs, scoped_conf


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
    local_threshold: int = 4_000_000,
) -> DataFrame:
    """Returns (node, component) where component = min node id reachable.

    Two physical strategies, chosen by measured edge count — the same
    bounded-small-side adaptivity as Spark's broadcast-join threshold:

    - ``2·distinct canonical edges ≤ local_threshold`` → union-find on the
      driver over the collected (src, dst) pairs and re-parallelize the
      labels.  The gate reads the same count that materializes the
      distinct-edge cache the distributed loop starts from, so deciding
      it costs no extra pass over the edge SOURCE (pair tables are often
      joins — re-executing them once per gate dominated the wall at 10×).
      A candidate-pair graph that fits in a few MB gains nothing from a
      multi-job loop (per-iteration scheduling dominates by 10–100×); the
      collect is explicitly bounded, like a broadcast.
    - larger → alternating large-star/small-star rounds, O(log diameter)
      of them.  Scopes ``spark.sql.shuffle.partitions`` to a size-derived
      loop width (restored before returning).

    Pass ``local_threshold=0`` to force the distributed loop (tests do).
    Raises ``RuntimeError`` if the star rounds have not reached their
    fixed point after ``max_iters`` rounds (labels would be silently wrong)
    — the rounds grow with log diameter (a 256-node path converges within 12).
    """
    spark = edges.sparkSession
    # Null endpoints are excluded by contract on BOTH paths (same contract
    # as pagerank): a null src/dst is not a node, and letting one through
    # would corrupt the local path's integer columns (pandas null→float64)
    # and crash its `rt < rs` comparison, while the distributed loop would
    # silently carry it — the two strategies must agree.
    d = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    ).filter(F.col("src") != F.col("dst"))
    # Canonicalize (least, greatest) BEFORE distinct: one scan of the raw
    # pairs instead of the union-then-distinct two, and the distinct
    # exchange carries half the rows of a symmetrized dedup.
    # The regime gate reads the SAME count that materializes this cache —
    # the previous raw-count gate re-executed the whole edge SOURCE (a
    # multi-million-row join for LSH pair tables) once more purely to
    # decide the gate, and gating on distinct edges is also more accurate
    # for duplication-heavy pair tables (they now go local when their
    # real edge set fits).
    c = (
        d.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
        .persist()
    )
    n_edges = 2 * c.count()
    if local_threshold and n_edges <= local_threshold:
        try:
            return _cc_local(c)
        finally:
            c.unpersist()
    try:
        with scoped_conf(spark, loop_width_confs(spark, n_edges, 2_000_000)):
            return _cc_star(c, max_iters)
    finally:
        c.unpersist()


def _cc_local(e: DataFrame) -> DataFrame:
    """Driver-side union-find over a bounded raw edge set (self-loops
    filtered upstream; duplicates and edge direction are harmless to
    union-find).  Exact same output contract as the distributed loop:
    (node, component=min reachable id), one row per node that appears in
    any non-self-loop edge."""
    spark = e.sparkSession
    node_type = e.schema["src"].dataType
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    pdf = e.select("src", "dst").toPandas()  # one Arrow-batched job
    for s, t in zip(pdf["src"].to_list(), pdf["dst"].to_list()):
        if s not in parent:
            parent[s] = s
        if t not in parent:
            parent[t] = t
        rs, rt = find(s), find(t)
        if rs != rt:
            # union by min root so the final find IS the min reachable id
            if rt < rs:
                rs, rt = rt, rs
            parent[rt] = rs
    rows = [(n, find(n)) for n in parent]
    schema = T.StructType(
        [
            T.StructField("node", node_type, False),
            T.StructField("component", node_type, False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _large_star(E: DataFrame) -> DataFrame:
    """large-star: every node links its STRICTLY LARGER neighbors to the
    minimum of its closed neighborhood.  Input edges in either direction;
    output edges all satisfy dst < src (m ≤ u < v)."""
    g = E.union(E.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = g.groupBy("src").agg(F.min("dst").alias("_mn"))
    mins = mins.select("src", F.least("src", "_mn").alias("_m"))
    return (
        g.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .distinct()
    )


def _small_star(E: DataFrame) -> DataFrame:
    """small-star: every node links its (all smaller, by the large-star
    invariant) neighbors AND itself to the minimum neighbor.  Preserves the
    dst < src invariant; fixed point = a star forest rooted at component
    minima."""
    mins = E.groupBy("src").agg(F.min("dst").alias("_m"))
    return (
        E.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .union(mins.select(F.col("src"), F.col("_m").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _cc_star(c: DataFrame, max_iters: int) -> DataFrame:
    """Alternating large-star/small-star (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond") — O(log diameter) rounds, each a
    constant number of groupBy/join shuffles over the CURRENT edge set
    (which only shrinks toward the star forest); same output contract as
    :func:`_cc_local`.

    Convergence = the edge set reaches a fixed point, detected by a
    (count, XOR of xxhash64(src,dst)) checksum — XOR is order-insensitive
    and overflow-free (an int64 SUM of hashes trips ANSI overflow), and E
    is distinct so duplicate-cancellation cannot alias two different edge
    sets beyond ordinary 64-bit collision odds."""
    prev = None

    def fixed_point(E: DataFrame) -> bool:
        nonlocal prev
        cur = tuple(
            E.agg(
                F.count("*").alias("n"),
                F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
            ).first()
        )
        stop, prev = cur == prev, cur
        return stop

    E = iterate(
        c, lambda E: _small_star(_large_star(E)), max_iters, done=fixed_point
    )
    # Star forest: every edge is (leaf, root), roots never appear as src —
    # so leaves contribute exactly one row each and roots one via distinct.
    return (
        E.select(F.col("src").alias("node"), F.col("dst").alias("component"))
        .union(E.select(F.col("dst").alias("node"), F.col("dst").alias("component")))
        .distinct()
    )

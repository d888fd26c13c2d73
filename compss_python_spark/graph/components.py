"""Connected components over an edge table (engine extension; completes the
MinHash-LSH dedup pipeline: candidate pairs → components → one survivor per
component).

Algorithm: min-label propagation on the symmetrized graph — every node
starts labeled with its own id; each iteration a node takes the min of its
own label and its neighbors' labels; converged when an iteration changes no
label (≤ graph diameter iterations).  The same dataflow discipline as
:mod:`pagerank`:

- edges symmetrized + distinct once, hash-partitioned on src, persisted —
  every iteration's join reuses the layout, only the small label table
  moves;
- loop shuffle width derived from the edge count (empty-task scheduling
  dominates small graphs at the session default width);
- rounds run under :func:`caching.iterate`; the changed-label count is
  the one convergence action per round;
- dedup components are candidate-pair graphs: diameter is tiny (near-dup
  clusters are quasi-cliques), so propagation converges in 2–4 rounds; for
  adversarially long path graphs at 100 TB, the large-star/small-star
  variant (Kiveris et al. 2014) halves diameter per round — noted as the
  escalation path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from compss_python_spark.caching import iterate
from compss_python_spark.graph._scoped_conf import scoped_shuffle_partitions


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
    local_threshold: int = 4_000_000,
    algorithm: str = "label",
) -> DataFrame:
    """Returns (node, component) where component = min node id reachable.

    Two physical strategies, chosen by measured edge count — the same
    bounded-small-side adaptivity as Spark's broadcast-join threshold:

    - ``2·distinct canonical edges ≤ local_threshold`` → union-find on the
      driver over the collected (src, dst) pairs and re-parallelize the
      labels.  The gate reads the same count that materializes the
      distinct-edge cache the distributed loop needs anyway, so deciding
      it costs no extra pass over the edge SOURCE (pair tables are often
      joins — re-executing them once per gate dominated the wall at 10×).
      A candidate-pair graph that fits in a few MB gains nothing from a
      multi-job label-propagation loop (per-iteration scheduling dominates
      by 10–100×); the collect is explicitly bounded, like a broadcast.
    - larger → distributed min-label propagation (the 100 TB path): edges
      symmetrized + hash-partitioned once, only the label table moves per
      iteration.  Scopes ``spark.sql.shuffle.partitions`` to a
      size-derived loop width (restored before returning).

    Pass ``local_threshold=0`` to force the distributed loop (tests do).
    Raises ``RuntimeError`` if propagation has not converged after
    ``max_iters`` iterations (labels would be silently wrong for any
    component whose diameter exceeds the budget) — raise ``max_iters`` for
    long-path graphs; near-dup candidate graphs converge in 2–4 rounds.

    ``algorithm`` selects the distributed strategy (the local union-find
    path is identical for both): ``"label"`` = min-label propagation
    (Θ(diameter) rounds — right for near-dup candidate graphs, which are
    quasi-cliques), ``"star"`` = alternating large-star/small-star
    (Kiveris et al. 2014, O(log diameter) rounds — the escalation path for
    long-diameter graphs at 100 TB, where Θ(diameter) shuffles would never
    finish).  Both produce component = min reachable id.
    """
    if algorithm not in ("label", "star"):
        raise ValueError(f"algorithm must be 'label' or 'star', got {algorithm!r}")
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
    # exchange carries half the rows of a symmetrized dedup.  The full
    # symmetric edge set is then c ∪ flip(c) — cheap, c is post-dedup.
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
    e = c.union(c.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    try:
        with scoped_shuffle_partitions(spark, n_edges, 2_000_000):
            if algorithm == "star":
                labels = _cc_star(c, max_iters)
            else:
                labels = _cc_loop(e, max_iters)
    finally:
        c.unpersist()
    return labels


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
    (which only shrinks toward the star forest).  The escalation path for
    long-diameter graphs where min-label propagation's Θ(diameter) rounds
    are unaffordable; same output contract as :func:`_cc_loop`.

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


def _cc_loop(e: DataFrame, max_iters: int) -> DataFrame:
    def propagate(labels: DataFrame) -> DataFrame:
        neighbor_min = (
            edges_p.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("_nmin"))
        )
        nmin = F.coalesce(F.col("_nmin"), F.col("component"))
        return labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(F.col("component"), nmin).alias("component"),
            (nmin < F.col("component")).cast("long").alias("_changed"),
        )

    edges_p = e.repartition("src").persist()
    try:
        labels = iterate(
            edges_p.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("component")),
            propagate,
            max_iters,
            done=lambda labels: not labels.agg(F.sum("_changed")).first()[0],
        )
    finally:
        edges_p.unpersist()
    return labels.drop("_changed")

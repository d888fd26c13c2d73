"""Explicit release of localCheckpoint storage (guide §5: unpersist when
done).

``DataFrame.localCheckpoint`` persists the computed rows (MEMORY_AND_DISK)
and truncates lineage — the data afterwards lives ONLY in those blocks, so
Spark itself can never free them while the wrapping DataFrame is
reachable, and Python/JVM GC reclaims them lazily, long after the operator
returned.  Iterative operators (pagerank, connected components, LPA,
k-core, BPE, Lloyd) replace their state checkpoint every iteration: the
superseded checkpoints are garbage the moment the new one is materialized,
but without an explicit unpersist they pin executor memory for the rest of
the session — at gen-SF scale the leaked label/shingle tables measured in
the hundreds of MB per query, and the deferred ContextCleaner work was
billed to whatever query ran next.

SAFETY CONTRACT: only release a checkpoint that no still-live plan
references.  A released checkpoint cannot be recomputed (its lineage is
gone) — any later action on a plan that references it fails.  The loop
pattern "new state fully replaces old state" satisfies the contract for
every superseded iteration; the FINAL state (or any checkpoint a returned
lazy plan still reads) must NOT be released.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist every localCheckpoint RDD in ``df``'s analyzed plan.

    Walks the plan's leaves and unpersists each ``LogicalRDD`` (the node
    ``localCheckpoint`` leaves behind).  Cached data (``persist()``, such
    as the width guard's widened scan) is left to Spark's ``clearCache()``
    / ``unpersist()``.  Non-blocking; silently ignores plans with no
    checkpointed leaves.  Never raises — releasing storage is an
    optimization, not a correctness step, and a py4j hiccup must not fail
    the operator.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except Exception:
        pass

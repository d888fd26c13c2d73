"""Checkpointed fixed-point loops, and explicit release of their storage
(guide §5: unpersist when done).

``DataFrame.localCheckpoint`` persists the computed rows (MEMORY_AND_DISK)
and truncates lineage — the data afterwards lives ONLY in those blocks, so
Spark itself can never free them while the wrapping DataFrame is
reachable, and Python/JVM GC reclaims them lazily, long after the operator
returned.  An iterative operator replaces its state every round: the
superseded checkpoints are garbage the moment the new one is materialized,
but without an explicit unpersist they pin executor memory for the rest of
the session — at gen-SF scale the leaked label/shingle tables measured in
the hundreds of MB per query, and the deferred ContextCleaner work was
billed to whatever query ran next.

:func:`iterate` is the one loop that checkpoints state.  It releases only
checkpoints it made itself, each once an eager successor exists; a
released checkpoint cannot be recomputed (its lineage is gone), so that
is the whole safety rule.  Everything it made is released when it raises.
What it returns is one eager checkpoint the caller owns and frees with
:func:`release_checkpoint`.  The result is not a lineage-keeping
``persist()``: that lineage would read the superseded checkpoints, which
are released, so a cleared cache could not be recomputed.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], Optional[DataFrame]],
    max_iters: int,
    *,
    done: Optional[Callable[[DataFrame], bool]] = None,
    every: int = 1,
    eager: bool = True,
    keep: bool = True,
) -> Optional[DataFrame]:
    """Run ``state = step(state)`` up to ``max_iters`` rounds.

    - The initial state and every ``every``-th round's state are
      checkpointed; ``eager=False`` defers those checkpoints to the next
      action, for loops that run no action per round.  The final state is
      always an eager checkpoint.
    - ``done(state)`` runs after each round; True ends the loop.  With a
      ``done`` test, ``max_iters`` rounds without convergence raise
      ``RuntimeError``.  A ``step`` returning None ends the loop early.
    - ``keep=False`` is for loops whose result lives on the driver: the
      final state is released too and None is returned.
    """
    held: list[DataFrame] = []  # checkpoints made here, oldest first
    ready: Optional[DataFrame] = None  # the newest eager checkpoint

    def checkpoint(df: DataFrame, now: bool) -> DataFrame:
        nonlocal ready
        df = df.localCheckpoint(eager=now)
        held.append(df)
        if now:  # every earlier checkpoint is materialized into df
            ready = df
            while len(held) > 1:
                release_checkpoint(held.pop(0))
        return df

    try:
        state = checkpoint(state, eager)
        for i in range(1, max_iters + 1):
            nxt = step(state)
            if nxt is None:
                break
            last = i == max_iters
            state = nxt
            if i % every == 0 or (last and keep):
                state = checkpoint(state, eager or last)
            if done is not None and done(state):
                break
        else:
            if done is not None:
                raise RuntimeError(
                    f"did not converge within max_iters={max_iters}; "
                    "raise max_iters"
                )
        if not keep:
            return None
        if state is not ready:
            state = checkpoint(state, True)
        held.pop()
        return state
    finally:
        for df in held:
            release_checkpoint(df)


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
        sc = df.sparkSession.sparkContext._jsc.sc()
        plan = df._jdf.queryExecution().analyzed()
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                # Through the context, not RDD.unpersist: that one logs a
                # "was locally checkpointed" warning on every release.
                sc.unpersistRDD(leaf.rdd().id(), False)
    except Exception:
        pass

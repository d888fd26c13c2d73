"""Partition-width guard for CPU-heavy narrow stages.

A small parquet file (one row group) arrives as ONE input split, so a
compute-dense narrow stage downstream — MinHash signatures, SimHash,
quality scoring, regex redaction — runs on a single core no matter how
many the session has.  At production scale inputs are already hundreds of
splits wide and this helper is a no-op; it only pays a (cheap, input-sized)
round-robin shuffle when the scan is narrower than the session's
parallelism AND the caller declares the downstream stage is expensive
enough to amortize it.  This mirrors Spark's own
``spark.sql.files.minPartitionNum`` intent, which cannot help here because
a single parquet row group is not splittable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_partitions(
    df: DataFrame, input_partitions: int | None = None
) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's scheduler
    parallelism iff it is currently narrower, and cache the widened copy.

    Width is taken from the ``input_partitions`` hint when the caller knows
    it (production jobs reading hundreds of splits should pass any number
    ≥ the session parallelism to skip the probe entirely — by the guard's
    own argument it is a no-op there, and the probe is the only cost).
    Without the hint, ``df.rdd.getNumPartitions()`` is consulted: physical
    planning but no job.  Returns ``df`` unchanged when already wide
    enough, so at-scale inputs never pay a shuffle.

    When the widening shuffle DOES fire, the result is ``persist()``-ed.
    The cached relation is a leaf of the optimized plan, so it is a
    barrier: without it Catalyst pushes deterministic filters back DOWN
    through the round-robin exchange, and the expensive predicate the
    caller is widening FOR (the quality-regex filter, tokenize-dense dedup
    keys) runs on the original narrow split — measured at sf0.1: the
    curation pipeline's giant regex filter evaluated on ONE core below the
    exchange, 5.7 s vs 2.9 s above it.  The cache also lets multi-consumer
    plans (decontaminate's three doc branches, duplicate-gram model + hit
    join) share one widened copy instead of re-running scan + exchange per
    branch; Spark's CacheManager serves any equal plan.  Unlike a
    checkpoint the copy keeps its lineage, so dropping its blocks never
    breaks a plan that still reads it: ``spark.catalog.clearCache()`` (or
    ``unpersist()``) releases it and a later read recomputes.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if target <= 1:
        return df
    width = input_partitions if input_partitions is not None else df.rdd.getNumPartitions()
    if width >= target:
        return df
    return df.repartition(target).persist()

"""SparkSession factory.

The reference's ``COMPSsContext`` [ref: ddf_library/context.py] owns global
runtime state (task catalog + DAG).  In Spark the equivalent global is the
``SparkSession``; everything else (lineage, fusion, memoization of shuffle
output) is handled by Catalyst/AQE, so this module is deliberately tiny.

Scale notes (100 TB target):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic join-strategy switching replace the reference's manual
  ``balancer()`` op [ref: ddf_library/functions/etl/balancer.py].
- ``spark.sql.shuffle.partitions`` defaults to cores locally; on a real
  cluster AQE's advisory target (64 MiB post-shuffle partitions) takes over.
- Arrow enabled so any Pandas-UDF slow path is batch-vectorized.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def default_driver_memory(physical_bytes: int) -> str:
    """Half of physical memory, capped at 32g, as a ``spark.driver.memory``
    value in MiB — in local mode the driver is the only JVM."""
    return f"{min(physical_bytes // 2, 32 * 1024**3) // 1024**2}m"


def get_spark(
    app_name: str = "compss_python_spark",
    cpus: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    local[N] for tests/bench; on a cluster the master/memory settings come
    from spark-submit and everything here still applies.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join when its size conditions
        # hold (guide §3.1/§9): SMJ stays the fallback, the choice is still
        # gated on size estimates (canBuildLocalHashMap scales with the
        # shuffle-partition count, so the cap grows with the cluster), and
        # AQE skew-split applies to SHJ as well as SMJ.  Measured at sf0.1:
        # dedup_semantic_scaled 2.58→1.50 s, llm_dsir_select 2.85→1.50 s
        # (the B-row full-outer bucket join and the pair joins drop their
        # per-partition sorts); no affected query slower outside host noise.
        # AT-SCALE ROLLBACK TRIGGER (r12 ADVICE): SHJ's build side does not
        # spill, so the failure signature is an executor
        # OutOfMemoryError/`Unable to acquire` in a ShuffledHashJoin build
        # whose per-partition build side was misestimated.  If that appears
        # at production scale, scope this conf to the measured-win queries
        # via get_spark(extra_conf=...) / a scoped conf instead of the
        # session default — the planner's own size gate
        # (canBuildLocalHashMap ≈ autoBroadcastJoinThreshold ×
        # shuffle.partitions per partition) plus AQE skew-split is the
        # reason this is expected to stay safe, not a guarantee.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local-mode driver == the only JVM: give it real headroom (the
        # 10× probe's gram explodes GC-thrash a 16g heap) without asking
        # for more than the host has.  On a cluster, spark-submit's
        # --driver-memory wins.
        .config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM",
                default_driver_memory(
                    os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                ),
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""Evidence tests for checkpoint/persist hygiene (r12 VERDICT item 9).

Round 12 asserted "persistent RDDs 2-4/query → ≤1 after release" for the
iterative operators in prose only; these tests make the claim a committed,
re-runnable artifact.  The contract under test: after an iterative
operator returns and its result is materialized, at most ONE persistent
RDD attributable to it remains (the returned eager-checkpointed leaf), and
releasing that result drops the count back to the baseline.

The tests measure a DELTA against the session's persistent-RDD count at
entry (the session fixture is shared, so an absolute count would be
order-dependent), and sweep any stray blocks first so earlier tests can't
bleed in.
"""

import pytest

pyspark = pytest.importorskip("pyspark")


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _sweep(spark) -> None:
    """Release every persisted block (same shape as bench.py's untimed
    inter-query hygiene) so the baseline for the delta is clean."""
    sc = spark.sparkContext._jsc.sc()
    it = sc.getPersistentRDDs().iterator()
    rdds = []
    while it.hasNext():
        rdds.append(it.next()._2())
    for rdd in rdds:
        rdd.unpersist(False)


def test_pagerank_loop_leaves_at_most_one_checkpoint(spark):
    from compss_python_spark.caching import release_checkpoint
    from compss_python_spark.graph.pagerank import pagerank, personalized_pagerank

    _sweep(spark)
    base = _n_persistent(spark)
    edges = spark.createDataFrame(
        [(i % 53, (i * 7 + 1) % 53) for i in range(400)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,), (7,)], "node long")
    # local_threshold=0 forces the distributed loop (the checkpointing
    # code path under test; the driver kernel persists nothing).
    for run in (
        lambda: pagerank(edges, max_iters=6, local_threshold=0),
        lambda: personalized_pagerank(edges, seeds, max_iters=6, local_threshold=0),
    ):
        ranks = run()
        assert ranks.count() == 53
        # Only the returned eager checkpoint may remain: the per-iteration
        # lazy checkpoints and the edge/node helper persists must be gone.
        assert _n_persistent(spark) - base <= 1
        release_checkpoint(ranks)
        assert _n_persistent(spark) - base == 0


def _ported_loop(name):
    """One call of each loop that runs under ``caching.iterate``."""
    from pyspark.sql import functions as F

    from compss_python_spark.graph.components import connected_components
    from compss_python_spark.graph.kcore import k_core
    from compss_python_spark.graph.lpa import bfs_layers, label_propagation, sssp_weighted
    from compss_python_spark.graph.pagerank import pagerank
    from compss_python_spark.llm.bpe import bpe_train

    def seeds(e):
        return e.select(F.col("src").alias("node")).filter("node % 10 = 0")

    return {
        "cc_star": lambda e: connected_components(e, local_threshold=0),
        "label_propagation": lambda e: label_propagation(e, num_rounds=3),
        "bfs_layers": lambda e: bfs_layers(e, seeds(e), num_rounds=3),
        "sssp_weighted": lambda e: sssp_weighted(
            e.withColumn("weight", F.lit(2.0)), seeds(e), num_rounds=3
        ),
        "k_core": lambda e: k_core(e, 2),
        "pagerank": lambda e: pagerank(e, max_iters=5, local_threshold=0),
        # 5 merges: one checkpoint every 4 rounds plus the initial word table
        "bpe_train": lambda e: bpe_train(
            e.selectExpr("concat_ws(' ', 'ab', 'abc', 'b' || src, 'c' || dst) AS text"),
            num_merges=5,
        ),
    }[name]


@pytest.mark.parametrize(
    "name",
    [
        "cc_star",
        "label_propagation",
        "bfs_layers",
        "sssp_weighted",
        "k_core",
        "pagerank",
        "bpe_train",
    ],
)
def test_ported_loop_leaves_at_most_its_result(spark, name):
    """A successful loop leaves at most its returned checkpoint, and
    releasing the result leaves nothing."""
    from compss_python_spark.caching import release_checkpoint

    _sweep(spark)
    base = _n_persistent(spark)
    edges = spark.createDataFrame(
        [(i % 53, (i * 7 + 1) % 53) for i in range(400)], "src long, dst long"
    )
    out = _ported_loop(name)(edges)
    assert out.count() > 0
    assert _n_persistent(spark) - base <= 1
    release_checkpoint(out)
    assert _n_persistent(spark) - base == 0


@pytest.mark.parametrize("name", ["k_core", "cc_star"])
def test_loop_that_does_not_converge_leaves_nothing(spark, name):
    """A 30-node path needs 15 peel rounds and more than one star round;
    the budgets below are too small, and the raised loop must release
    every checkpoint and cache it made."""
    from compss_python_spark.graph.components import connected_components
    from compss_python_spark.graph.kcore import k_core

    _sweep(spark)
    base = _n_persistent(spark)
    path = spark.createDataFrame([(i, i + 1) for i in range(29)], "src long, dst long")
    run = {
        "k_core": lambda: k_core(path, 2, max_iter=3),
        "cc_star": lambda: connected_components(path, local_threshold=0, max_iters=1),
    }[name]
    with pytest.raises(RuntimeError, match="did not converge"):
        run()
    assert _n_persistent(spark) - base == 0


def test_kmeans_lloyd_leaves_at_most_one_checkpoint(spark, sf_dir):
    from compss_python_spark.ml.clustering import kmeans_lloyd
    from compss_python_spark.plans import table

    _sweep(spark)
    base = _n_persistent(spark)
    emb = table(spark, sf_dir, "embeddings")
    out = kmeans_lloyd(emb, init_ids=[0, 1, 2, 3], iters=3)
    out.count()
    # The centroids live on the driver: the loop persists nothing and the
    # returned scan + project plan owns no storage, so there is nothing to
    # release.
    assert _n_persistent(spark) - base == 0


def test_lsh_cc_pipeline_leaves_at_most_one_checkpoint(spark, sf_dir):
    from compss_python_spark.caching import release_checkpoint
    from compss_python_spark.graph.components import connected_components
    from compss_python_spark.llm import dedup
    from compss_python_spark.plans import table

    _sweep(spark)
    base = _n_persistent(spark)
    docs = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5, collapse_exact=True)
    # local_threshold=0 forces the distributed large-star/small-star loop.
    comp = connected_components(
        pairs, src="id_a", dst="id_b", local_threshold=0
    )
    comp.count()
    # The widened scan is a cache, dropped by clearCache.  The pair
    # table's collapse barrier is released once the eager pair result
    # exists and the CC loop releases each superseded edge set, so only
    # the pair result and the final star forest may remain.
    spark.catalog.clearCache()
    assert _n_persistent(spark) - base <= 2
    release_checkpoint(comp)
    release_checkpoint(pairs)
    assert _n_persistent(spark) - base == 0
    assert _n_persistent(spark) == 0


@pytest.mark.parametrize("ks", ["ks_one_sample_uniform", "ks_one_sample_normal"])
def test_ks_test_releases_its_ranking(spark, ks):
    """The KS test consumes its prefix-rank checkpoint on the driver, so it
    must leave no persistent RDD behind."""
    from compss_python_spark.functions import statistics

    _sweep(spark)
    df = spark.createDataFrame([((i * 37 % 50) / 50.0,) for i in range(50)], "v double")
    base = _n_persistent(spark)
    getattr(statistics, ks)(df, "v")
    assert _n_persistent(spark) - base == 0


def test_widened_scan_survives_a_full_sweep(spark):
    """The width guard's widened scan is shared by its consumers and
    keeps its lineage: neither releasing one consumer's checkpoints, nor
    unpersisting every RDD, nor clearing the cache can break another
    consumer, and clearCache leaves no storage behind."""
    from compss_python_spark.caching import release_checkpoint
    from compss_python_spark.width import ensure_min_partitions

    _sweep(spark)
    base = _n_persistent(spark)
    narrow = spark.range(1000).repartition(1)
    widened = ensure_min_partitions(narrow)
    consumer_a = widened.selectExpr("sum(id) as s")
    consumer_b = widened.selectExpr("count(*) as c")
    assert consumer_a.first()["s"] == 499500
    release_checkpoint(consumer_a)
    _sweep(spark)
    spark.catalog.clearCache()
    assert consumer_b.first()["c"] == 1000
    assert _n_persistent(spark) - base == 0


_QUIET_RELEASE_SCRIPT = """
from pyspark.sql import SparkSession
from compss_python_spark.caching import iterate, release_checkpoint

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("WARN")
out = iterate(spark.range(10), lambda df: df.selectExpr("id + 1 AS id"), 4)
assert out.count() == 10
release_checkpoint(out)
print("released", flush=True)
spark.stop()
"""


def test_release_checkpoint_logs_no_warning():
    """Releasing a checkpoint through the RDD itself logs "RDD N was
    locally checkpointed" once per release, so every loop round wrote a
    warning to stderr.  A loop of 4 rounds plus the final release must
    log none (the JVM's stderr is only visible from outside, hence the
    subprocess)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo)
    run = subprocess.run(
        [sys.executable, "-c", _QUIET_RELEASE_SCRIPT],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert "released" in run.stdout
    assert run.stderr.count("was locally checkpointed") == 0, run.stderr[-2000:]

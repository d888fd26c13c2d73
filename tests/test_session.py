"""Tests for the session factory's host-derived defaults and for the one
session-conf scope every library conf change runs through."""

import sys
import threading
import time

import pytest

from compss_python_spark.session import default_driver_memory, scoped_conf

GiB = 1024**3


def test_default_driver_memory_is_half_of_physical_capped_at_32g():
    assert default_driver_memory(15 * GiB) == "7680m"
    assert default_driver_memory(64 * GiB) == "32768m"
    assert default_driver_memory(128 * GiB) == "32768m"
    assert default_driver_memory(3 * GiB + 1) == "1536m"


_SHUFFLE = "spark.sql.shuffle.partitions"
_COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"
_PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def test_empty_scope_changes_nothing(spark):
    before = spark.conf.getAll
    with scoped_conf(spark, {}):
        assert spark.conf.getAll == before
    assert spark.conf.getAll == before


def test_graph_loop_and_skew_scopes_leave_aqe_on(spark):
    """A PageRank-style AQE-off scope in one thread and ``aqe_skew_scope``
    in another share one lock: the second waits until the first has
    restored AQE, so AQE is on after both exit."""
    from compss_python_spark.operators.joins import aqe_skew_scope
    key = "spark.sql.adaptive.enabled"
    assert spark.conf.get(key) == "true"
    first_in, second_trying, first_out = (threading.Event() for _ in range(3))

    def first():
        with scoped_conf(spark, {key: "false"}):
            first_in.set()
            second_trying.wait(30)
            time.sleep(0.2)  # the second's scope must not get in meanwhile
        first_out.set()

    def second():
        first_in.wait(30)
        second_trying.set()
        with aqe_skew_scope(spark):
            first_out.wait(30)

    threads = [threading.Thread(target=f, daemon=True) for f in (first, second)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, "true")



def test_scopes_on_many_threads_never_overlap(spark):
    """Eight threads, more than the cores, nest scopes on one key with a
    short switch interval: inside each outer scope the key reads that
    thread's own value, and the session's value is back afterwards."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key, None)
    seen = []

    def worker(i):
        for _ in range(10):
            with scoped_conf(spark, {key: str(1000 + i)}):
                with scoped_conf(spark, {key: str(2000 + i)}):
                    pass
                seen.append(spark.conf.get(key) == str(1000 + i))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(i,), daemon=True) for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 80 and all(seen)
    assert spark.conf.get(key, None) == before

def _connected_components(spark, tmp_path):
    from compss_python_spark.graph.components import connected_components

    e = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "src long, dst long")
    assert connected_components(e, local_threshold=0).count() == 5


def _replay_as_stream(spark, tmp_path):
    from compss_python_spark.streaming.windows import replay_as_stream

    path = str(tmp_path / "ids")
    spark.range(5).write.parquet(path)
    schema = spark.read.parquet(path).schema
    out = replay_as_stream(
        spark, path, schema, lambda s: s, "t_scope_unset", output_mode="append"
    )
    assert out.count() == 5


@pytest.mark.parametrize(
    "run, keys",
    [
        (_connected_components, (_SHUFFLE, _COALESCE)),
        (_replay_as_stream, (_PROVIDER,)),
    ],
    ids=["connected_components", "replay_as_stream"],
)
def test_never_set_keys_stay_unset_after_a_scope(spark, tmp_path, run, keys):
    """A key that was never set before a scope goes back to unset, not to
    its built-in default pinned explicitly."""
    # The outer scope only saves the session's values and restores them.
    with scoped_conf(spark, {k: spark.conf.get(k) for k in keys}):
        for k in keys:
            spark.conf.unset(k)
        run(spark, tmp_path)
        after = {k: spark.conf.get(k, None) for k in keys}
    assert after == dict.fromkeys(keys)

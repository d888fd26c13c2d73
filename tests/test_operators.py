"""Unit tests for the operator layer (SURVEY.md §5 strategy: small inline
frames, pandas/numpy-computed expectations) — mirrors the reference's
script-style per-module tests [ref: tests/]."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from compss_python_spark.operators import aggregation, etl, joins, setops
from compss_python_spark.operators import sort as sort_ops


@pytest.fixture(scope="module")
def people(spark):
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3, 4, 5, 6],
            "name": ["a", "b", "c", "d", "e", "f"],
            "age": [30, 25, 40, 25, None, 35],
            "dept": ["x", "y", "x", "y", "x", None],
        }
    )
    return spark.createDataFrame(pdf)


def test_translate_pandas_query():
    assert (
        etl.translate_pandas_query("(a == 'x') and (b > 4) or not (c == 1)")
        == "(a = 'x') AND (b > 4) OR NOT (c = 1)"
    )


def test_translate_pandas_query_extended():
    t = etl.translate_pandas_query
    # keywords inside string literals are never rewritten
    assert t("name == 'rock and roll'") == "name = 'rock and roll'"
    assert t("name.str.contains('or not')") == "contains(name, 'or not')"
    # in / not in with list literals
    assert t("x in ['a', 'b']") == "x IN ('a', 'b')"
    assert t("x not in [1, 2]") == "x NOT IN (1, 2)"
    # ~ negation and chained comparisons
    assert t("~(a == 1)").strip() == "NOT (a = 1)"
    assert t("1 < x <= 5") == "1 < x AND x <= 5"
    assert t("0 <= a < b <= 10") == "0 <= a AND a < b AND b <= 10"


def test_filter_pandas_dialect_extended(people):
    assert sorted(
        r["id"] for r in etl.filter_rows(people, "dept in ['x']").collect()
    ) == [1, 3, 5]
    assert sorted(
        r["id"] for r in etl.filter_rows(people, "25 < age <= 40").collect()
    ) == [1, 3, 6]


def test_filter_pandas_dialect(people):
    out = etl.filter_rows(people, "(dept == 'x') and (age > 25)")
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


def test_select_and_drop(people):
    assert etl.select(people, ["id", "name"]).columns == ["id", "name"]
    assert "age" not in etl.drop_columns(people, ["age"]).columns


def test_cast_invalid_to_null(spark):
    df = spark.createDataFrame(pd.DataFrame({"s": ["42", "3.14", "nope"]}))
    out = etl.cast(df, "s", "integer").collect()
    assert [r["s"] for r in out] == [42, None, None]


def test_replace_values(people):
    out = etl.replace_values(people, {"x": "X"}, subset=["dept"])
    assert sorted(r["dept"] for r in out.collect() if r["dept"]) == ["X", "X", "X", "y", "y"]


def test_clean_missing_modes(people):
    assert etl.clean_missing_remove_row(people, ["age"]).count() == 5
    # dept + age both have nulls → dropped
    out = etl.clean_missing_remove_column(people, ["age", "dept"])
    assert set(out.columns) == {"id", "name"}
    filled = etl.clean_missing_fill_value(people, 0.0, ["age"])
    assert filled.filter("age = 0.0").count() == 1
    mean_filled = etl.clean_missing_fill_stat(people, ["age"], "mean")
    assert mean_filled.filter("age IS NULL").count() == 0
    assert mean_filled.filter("id = 5").first()["age"] == pytest.approx(31.0)
    mode_filled = etl.clean_missing_fill_stat(people, ["age"], "mode")
    assert mode_filled.filter("id = 5").first()["age"] == 25


def test_add_column_positional(spark):
    a = spark.createDataFrame(pd.DataFrame({"k": [10, 20, 30]}))
    b = spark.createDataFrame(pd.DataFrame({"v": ["c", "a", "b"]}))
    out = etl.add_column(a, b, ["k"], ["v"]).orderBy("k").collect()
    # k ascending zips with v ascending: (10,a) (20,b) (30,c)
    assert [(r["k"], r["v"]) for r in out] == [(10, "a"), (20, "b"), (30, "c")]


def test_take_sample_split(people):
    assert etl.take(people, 2, order_by=["id"]).count() == 2
    assert etl.sample(people, n=3, seed=1).count() == 3
    a, b = etl.split(people, 0.5, seed=1)
    assert a.count() + b.count() == 6


def test_partitioning_ops(people):
    assert etl.repartition(people, 3).rdd.getNumPartitions() == 3
    assert etl.hash_partition(people, ["dept"], 4).rdd.getNumPartitions() == 4
    assert etl.range_partition(people, ["id"], 2).rdd.getNumPartitions() == 2
    assert etl.coalesce(etl.repartition(people, 4), 2).rdd.getNumPartitions() == 2


def test_join_modes(spark):
    left = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]}))
    right = spark.createDataFrame(pd.DataFrame({"kk": [2, 3, 4], "w": ["x", "y", "z"]}))
    assert joins.join(left, right, "k", "kk").count() == 2
    assert joins.join(left, right, "k", "kk", mode="left").count() == 3
    assert joins.join(left, right, "k", "kk", mode="right").count() == 3
    assert joins.join(left, right, "k", "kk", mode="outer").count() == 4
    assert joins.cross_join(left, right).count() == 9
    assert joins.semi_join(left, right.withColumnRenamed("kk", "k"), "k").count() == 2
    assert joins.anti_join(left, right.withColumnRenamed("kk", "k"), "k").count() == 1


def test_join_suffixes(spark):
    left = spark.createDataFrame(pd.DataFrame({"k": [1], "v": ["a"]}))
    right = spark.createDataFrame(pd.DataFrame({"kk": [1], "v": ["b"]}))
    out = joins.join(left, right, "k", "kk")
    assert set(out.columns) == {"k", "kk", "v_l", "v_r"}


def test_agg_dict_and_ordered(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a", "a", "b"], "ord": [2, 1, 1], "v": [10.0, 20.0, 30.0]})
    )
    out = aggregation.agg(
        df, ["g"],
        {"v": [("sum", "s"), ("first", "fst"), ("last", "lst"), ("list", "lst_all")]},
        order_within_group="ord",
    )
    rows = {r["g"]: r for r in out.collect()}
    assert rows["a"]["s"] == 30.0
    assert rows["a"]["fst"] == 20.0  # ord=1 → v=20
    assert rows["a"]["lst"] == 10.0
    assert rows["a"]["lst_all"] == [20.0, 10.0]


def test_agg_requires_order_key(spark):
    df = spark.createDataFrame(pd.DataFrame({"g": ["a"], "v": [1.0]}))
    with pytest.raises(ValueError, match="order_within_group"):
        aggregation.agg(df, ["g"], {"v": [("first", "f")]})


def test_distinct_variants(people):
    assert aggregation.distinct(people, ["dept"]).count() == 3
    full = aggregation.distinct(people, ["dept"], keep_all_columns=True)
    assert full.count() == 3 and set(full.columns) == set(people.columns)


def test_setops(spark):
    a = spark.createDataFrame(pd.DataFrame({"x": [1, 1, 2, 3]}))
    b = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 2, 4]}))
    assert setops.union(a, b).count() == 8
    assert sorted(r["x"] for r in setops.intersect(a, b).collect()) == [1, 2]
    assert sorted(r["x"] for r in setops.intersect_all(a, b).collect()) == [1, 2]
    assert sorted(r["x"] for r in setops.subtract(a, b).collect()) == [3]
    assert sorted(r["x"] for r in setops.except_all(a, b).collect()) == [1, 3]


def test_union_by_name_positional(spark):
    a = spark.createDataFrame(pd.DataFrame({"x": [1], "y": ["p"]}))
    b = spark.createDataFrame(pd.DataFrame({"y": ["q"], "x": [2]}))
    out = setops.union_by_name(a, b).orderBy("x").collect()
    assert [(r["x"], r["y"]) for r in out] == [(1, "p"), (2, "q")]


def test_sort_and_topk(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a", "a", "a", "b"], "v": [3, 1, 2, 9], "id": [1, 2, 3, 4]})
    )
    srt = sort_ops.sort(df, ["v"], [False]).collect()
    assert [r["v"] for r in srt] == [9, 3, 2, 1]
    top = sort_ops.top_k_per_group(df, ["g"], [F.col("v").desc()], k=2)
    assert sorted((r["g"], r["v"]) for r in top.collect()) == [("a", 2), ("a", 3), ("b", 9)]


def test_asof_join_edges(spark):
    from compss_python_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c"), (3, 7, "d")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 6, 60.0)],
        "k long, ts long, v double",
    )
    out = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join(left, right, on="ts", by=["k"], value_cols=["v"]).collect()
    }
    assert out[(1, 10)] == 100.0   # equal ts matches (<= semantics)
    assert out[(1, 20)] == 150.0   # latest prior
    assert out[(2, 5)] is None     # right row is later -> no match
    assert out[(3, 7)] is None     # key absent from right


def test_range_join_left_outer_and_how_validation(spark):
    from compss_python_spark.operators.joins import range_join, salted_join

    points = spark.createDataFrame([(1, 5.0), (2, 25.0), (3, 99.0)], "pid long, t double")
    ivals = spark.createDataFrame(
        [(10, 0.0, 10.0), (11, 20.0, 30.0)], "iid long, w_start double, w_end double"
    )
    inner = range_join(points, ivals, "t", "w_start", "w_end", bucket_width=10.0)
    assert sorted((r["pid"], r["iid"]) for r in inner.collect()) == [(1, 10), (2, 11)]
    left = range_join(points, ivals, "t", "w_start", "w_end", bucket_width=10.0, how="left")
    got = sorted((r["pid"], r["iid"]) for r in left.collect())
    assert got == [(1, 10), (2, 11), (3, None)]  # unmatched point survives ONCE
    with pytest.raises(ValueError, match="range_join"):
        range_join(points, ivals, "t", "w_start", "w_end", 10.0, how="full")
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(points, ivals, "pid", how="right")


def test_salted_join_matches_plain(spark):
    from compss_python_spark.operators.joins import salted_join

    left = spark.range(0, 2000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    right = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "k long, name string"
    )
    plain = left.join(right, "k").groupBy("name").count()
    salted = salted_join(left, right, "k").groupBy("name").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_time_bucket_arbitrary_width(spark):
    from compss_python_spark.operators.aggregation import time_bucket

    df = spark.sql(
        "SELECT TIMESTAMP'2024-01-01 00:00:00' + MAKE_INTERVAL(0,0,0,0,0,0,x*40) AS ts "
        "FROM RANGE(6) AS t(x)"
    )
    out = df.select(time_bucket("ts", 90).alias("b")).groupBy("b").count().collect()
    # events at 0,40,80,120,160,200s -> 90s buckets [0,90):3 [90,180):2 [180,270):1
    assert sorted(r["count"] for r in out) == [1, 2, 3]


def test_hypertable_rollup_grains_consistent(spark):
    from compss_python_spark.operators.aggregation import hypertable_rollup
    from compss_python_spark.plans.registry import table

    ev = table(spark, "/root/testdata/sf0.001", "events")
    out = hypertable_rollup(
        ev, "ts", ["event_type"], [F.count("*").alias("n")]
    ).persist()
    total = ev.count()
    # every grain partitions the data: n sums to the event count at each level
    for grain in ("hour", "day", "month"):
        s = out.filter(F.col("grain") == grain).agg(F.sum("n")).first()[0]
        assert s == total, grain


def test_ensure_min_partitions_guard(spark):
    from compss_python_spark.width import ensure_min_partitions

    narrow = spark.range(1000).coalesce(1)
    widened = ensure_min_partitions(narrow)
    assert widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert widened.count() == 1000

    # already-wide input returns the SAME plan — no shuffle added
    wide = spark.range(1000).repartition(spark.sparkContext.defaultParallelism + 4)
    assert ensure_min_partitions(wide) is wide

    # input_partitions hint skips the physical-plan probe entirely:
    # a declared-wide input returns unchanged even though it is narrow,
    # and a declared-narrow wide input still short-circuits on >= target
    assert ensure_min_partitions(narrow, input_partitions=10_000) is narrow
    assert (
        ensure_min_partitions(narrow, input_partitions=1).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_ensure_min_partitions_is_a_filter_barrier(spark):
    """The widened copy is a cached leaf: a filter over it stays above the
    cache, so it runs on the widened partitions instead of being pushed
    below the round-robin exchange onto the one narrow split."""
    from compss_python_spark.width import ensure_min_partitions

    narrow = spark.range(1000).coalesce(1).selectExpr("id", "cast(id as string) as s")
    widened = ensure_min_partitions(narrow)
    plan = (
        widened.filter(F.col("s").rlike("^1.*7$"))
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    above, below = plan.split("InMemoryRelation", 1)
    assert above.lstrip().startswith("Filter")
    assert "RoundRobinPartitioning" in below
    assert "Filter" not in below.split("RoundRobinPartitioning", 1)[1]
    widened.unpersist()


def test_asof_join_directions_and_tolerance(spark):
    import pandas as pd

    from compss_python_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 4, "ts": [1.0, 5.0, 10.0, 20.0], "lv": [1, 2, 3, 4]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 2, "ts": [4.0, 9.0], "rv": [40, 90]})
    )
    back = {r["ts"]: r["rv"] for r in asof_join(
        left, right, on="ts", by=["k"], value_cols=["rv"]).collect()}
    assert back == {1.0: None, 5.0: 40, 10.0: 90, 20.0: 90}
    fwd = {r["ts"]: r["rv"] for r in asof_join(
        left, right, on="ts", by=["k"], value_cols=["rv"], direction="forward").collect()}
    assert fwd == {1.0: 40, 5.0: 90, 10.0: None, 20.0: None}
    tol = {r["ts"]: r["rv"] for r in asof_join(
        left, right, on="ts", by=["k"], value_cols=["rv"], tolerance=2.0).collect()}
    assert tol == {1.0: None, 5.0: 40, 10.0: 90, 20.0: None}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on="ts", by=["k"], direction="nearest")


def test_compact_parquet_file_counts(spark, sf_dir, tmp_path_factory):
    import glob
    import os

    from compss_python_spark.plans.registry import table
    from compss_python_spark.sources.io import compact_parquet

    base = str(tmp_path_factory.mktemp("compact"))
    frag, packed = os.path.join(base, "frag"), os.path.join(base, "packed")
    table(spark, sf_dir, "orders").repartition(16).write.parquet(frag)
    assert len(glob.glob(frag + "/*.parquet")) == 16
    n = compact_parquet(spark, frag, packed, target_file_bytes=1 << 30)
    assert n == 1
    assert len(glob.glob(packed + "/*.parquet")) == 1
    a = spark.read.parquet(packed).count()
    assert a == table(spark, sf_dir, "orders").count()
    # in-place compaction would overwrite the source mid-(lazy-)read
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dst_path must differ"):
        compact_parquet(spark, frag, frag + "/")


def test_asof_join_tolerance_null_value_rows(spark):
    """Regression: the match is the nearest right ROW — a NULL value on the
    nearest row must NOT resurrect an out-of-tolerance older value."""
    import pandas as pd

    from compss_python_spark.operators.joins import asof_join

    left = spark.createDataFrame(pd.DataFrame({"k": ["a"], "ts": [10.0]}))
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a"], "ts": [1.0, 9.0], "rv": [100.0, None]})
    )
    out = asof_join(
        left, right, on="ts", by=["k"], value_cols=["rv"], tolerance=2.0
    ).collect()
    assert out[0]["rv"] is None  # nearest row (ts=9) has NULL, gap 9 > 2 for rv=100
    # and without tolerance: row-wise semantics still pick the nearest ROW's null
    out2 = asof_join(left, right, on="ts", by=["k"], value_cols=["rv"]).collect()
    assert out2[0]["rv"] is None


def test_resample_ffill_gaps(spark):
    """Planted gap days synthesize rows carrying the last aggregate."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import functions as F

    from compss_python_spark.operators.timeseries import resample_ffill

    rows = [
        ("u1", dt.datetime(2024, 1, 1, 5), 10.0),
        ("u1", dt.datetime(2024, 1, 1, 9), 5.0),
        # Jan 2-3 silent
        ("u1", dt.datetime(2024, 1, 4, 1), 7.0),
        ("u2", dt.datetime(2024, 1, 2, 0), 1.0),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "ts", "value"]))
    out = {(r["k"], r["bucket"].day): (r["v"], r["v_ffill"], r["is_gap"])
           for r in resample_ffill(df, "k", "ts", "value").collect()}
    assert out[("u1", 1)] == (15.0, 15.0, False)
    assert out[("u1", 2)] == (None, 15.0, True)
    assert out[("u1", 3)] == (None, 15.0, True)
    assert out[("u1", 4)] == (7.0, 7.0, False)
    assert out[("u2", 2)] == (1.0, 1.0, False)
    assert len(out) == 5
    with pytest.raises(ValueError, match="interval"):
        resample_ffill(df, "k", "ts", "value", interval="fortnight")


def test_resample_interpolate_linear(spark):
    """A 3-day interior gap interpolates linearly between neighbors."""
    import datetime as dt

    import pandas as pd

    from compss_python_spark.operators.timeseries import resample_interpolate

    rows = [
        ("u1", dt.datetime(2024, 1, 1, 12), 10.0),
        # Jan 2-4 silent
        ("u1", dt.datetime(2024, 1, 5, 3), 50.0),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "ts", "value"]))
    out = {r["bucket"].day: r["v_interp"]
           for r in resample_interpolate(df, "k", "ts", "value").collect()}
    assert out == {1: 10.0, 2: 20.0, 3: 30.0, 4: 40.0, 5: 50.0}


def test_zorder_locality_and_write(spark, tmp_path):
    """Z-ordered layout keeps BOTH dimensions tight within contiguous
    blocks (the property row-group pruning exploits), and write_zordered
    round-trips all rows with per-file min/max ranges far narrower than a
    single-dimension sort would give the other dimension."""
    import numpy as np
    import pandas as pd

    from compss_python_spark.operators.layout import zorder_value, write_zordered

    rng = np.random.default_rng(3)
    n = 4096
    pdf = pd.DataFrame({
        "x": rng.integers(0, 1024, size=n),
        "y": rng.integers(0, 1024, size=n),
    })
    df = spark.createDataFrame(pdf)
    rows = (df.withColumn("z", zorder_value(["x", "y"], 10))
            .orderBy("z").collect())
    # within each 256-row contiguous z block, both dims span far less than
    # the full 0..1023 domain (x-sorted data would leave y unconstrained)
    spans = []
    for i in range(0, n, 256):
        blk = rows[i : i + 256]
        xs = [r["x"] for r in blk]
        ys = [r["y"] for r in blk]
        spans.append(max(max(xs) - min(xs), max(ys) - min(ys)))
    assert sum(spans) / len(spans) < 600  # uniform-random would be ~1020

    out = str(tmp_path / "zord")
    write_zordered(df, out, ["x", "y"], bits=10, num_files=8)
    back = spark.read.parquet(out)
    assert back.count() == n
    assert sorted(r["x"] for r in back.collect()) == sorted(pdf["x"].tolist())
    import pytest as _pt

    with _pt.raises(ValueError, match="at least 2"):
        zorder_value(["x"], 10)
    with _pt.raises(ValueError, match="exceeds a long"):
        zorder_value(["x", "y", "x", "y"], 16)


def test_apply_changelog_merge_semantics(spark):
    from compss_python_spark.operators.cdc import apply_changelog

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "name", "val"]
    )
    chg = spark.createDataFrame(
        [
            (2, "b2", 21.0, "U", 5),   # update, later overwritten
            (2, "b3", 22.0, "U", 9),   # last writer wins
            (3, None, None, "D", 4),   # delete
            (4, "d", 40.0, "I", 7),    # insert new key
            (5, "e", 50.0, "D", 2),    # delete of absent key: no row
        ],
        "k int, name string, val double, op string, seq long",
    )
    got = {
        r["k"]: (r["name"], r["val"])
        for r in apply_changelog(snap, chg, ["k"], "seq").collect()
    }
    assert got == {1: ("a", 10.0), 2: ("b3", 22.0), 4: ("d", 40.0)}


def test_scd2_intervals_compress_runs(spark):
    from compss_python_spark.operators.cdc import scd2_intervals

    rows = [
        (1, "x", 1, 1), (1, "x", 2, 2), (1, "y", 3, 3), (1, "x", 4, 4),
        (2, "z", 1, 5),
    ]
    df = spark.createDataFrame(rows, ["ent", "attr", "t", "eid"])
    out = sorted(
        (r["ent"], r["attr"], r["valid_from"], r["valid_to"])
        for r in scd2_intervals(df, "ent", "attr", "t", "eid").collect()
    )
    assert out == [
        (1, "x", 1, 3), (1, "x", 4, None), (1, "y", 3, 4),
        (2, "z", 1, None),
    ]


def test_ntile_distributed_matches_window_ntile(spark):
    from pyspark.sql import Window

    rng = pd.DataFrame(
        {"id": range(997), "v": [(i * 131) % 467 for i in range(997)]}
    )
    df = spark.createDataFrame(rng)
    for b in (3, 4, 7):
        got = aggregation.ntile_distributed(df, ["v", "id"], b, "nt")
        ref = df.withColumn(
            "nt_ref", F.ntile(b).over(Window.orderBy(F.asc("v"), F.asc("id")))
        )
        diff = (
            got.join(ref, ["id", "v"])
            .filter(F.col("nt") != F.col("nt_ref"))
            .count()
        )
        assert diff == 0, f"ntile mismatch at b={b}"


def test_transition_matrix_rows_normalize(spark):
    rows = [
        (1, "a", 1, 1), (1, "b", 2, 2), (1, "a", 3, 3), (1, "a", 4, 4),
        (2, "b", 1, 5), (2, "a", 2, 6),
    ]
    df = spark.createDataFrame(rows, ["u", "s", "t", "eid"])
    out = aggregation.transition_matrix(df, "u", "s", "t", "eid")
    per = out.groupBy("from_state").agg(F.round(F.sum("p"), 4).alias("tot")).collect()
    assert all(abs(r["tot"] - 1.0) < 1e-3 for r in per)
    got = {(r["from_state"], r["to_state"]): r["n"] for r in out.collect()}
    assert got == {("a", "b"): 1, ("b", "a"): 2, ("a", "a"): 1}


def test_weighted_sample_scale_invariant_and_sized(spark):
    from compss_python_spark.llm.sampling import weighted_sample

    pdf = pd.DataFrame({"k": range(300), "w": [1.0 + (i % 17) for i in range(300)]})
    df = spark.createDataFrame(pdf)
    a = [r["k"] for r in weighted_sample(df, "k", "w", 40).collect()]
    assert len(a) == 40 and len(set(a)) == 40
    # scaling all weights by a constant must not change the selection
    df2 = df.withColumn("w", F.col("w") * 1000.0)
    b = [r["k"] for r in weighted_sample(df2, "k", "w", 40).collect()]
    assert sorted(a) == sorted(b)


def test_ewma_bounded_matches_sequential_reference(spark):
    from compss_python_spark.operators.timeseries import ewma_bounded

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    df = spark.createDataFrame(
        [(1, i, i, v) for i, v in enumerate(vals)], ["u", "t", "eid", "v"]
    )
    alpha, L = 0.3, 4
    out = {
        r["t"]: r["ewma"]
        for r in ewma_bounded(df, "u", "t", "v", "eid", alpha, L).collect()
    }
    for t in range(len(vals)):
        lo = max(0, t - L + 1)
        ws = [(1 - alpha) ** (t - i) for i in range(lo, t + 1)]
        ref = sum(w * v for w, v in zip(ws, vals[lo:t + 1])) / sum(ws)
        assert abs(out[t] - ref) < 1e-6, t


def test_profile_columns_one_pass_stats(spark):
    from compss_python_spark.functions.statistics import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "c")], "k int, s string"
    )
    got = {r["col_name"]: r for r in profile_columns(df, ["k", "s"]).collect()}
    assert got["k"]["n"] == 4 and got["k"]["n_null"] == 1
    assert got["k"]["n_distinct"] == 2
    assert got["k"]["min_val"] == "1" and got["k"]["max_val"] == "2"
    assert got["s"]["n_null"] == 1 and got["s"]["n_distinct"] == 3
    assert got["s"]["min_val"] == "a" and got["s"]["max_val"] == "c"


def test_key_skew_report_ranks_and_shares(spark):
    from compss_python_spark.functions.statistics import key_skew_report

    rows = [("hot",)] * 50 + [("warm",)] * 30 + [(f"k{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, ["k"])
    out = key_skew_report(df, "k", top=3).collect()
    assert [r["key"] for r in out] == ["hot", "warm", "k0"]
    assert out[0]["share"] == 0.5 and out[1]["share"] == 0.3
    assert [r["key_rank"] for r in out] == [1, 2, 3]


def test_temporal_join_picks_version_at_event_time(spark):
    from compss_python_spark.operators.cdc import temporal_join

    dim = spark.createDataFrame(
        [(1, "bronze", 0, 10), (1, "silver", 10, 20), (1, "gold", 20, None)],
        "ent int, tier string, valid_from int, valid_to int",
    )
    facts = spark.createDataFrame(
        [(1, 5), (1, 10), (1, 19), (1, 25), (2, 5)], "ent int, t int"
    )
    got = {
        (r["ent"], r["t"]): r["tier"]
        for r in temporal_join(facts, dim, "ent", "t").collect()
    }
    assert got == {
        (1, 5): "bronze", (1, 10): "silver", (1, 19): "silver",
        (1, 25): "gold", (2, 5): None,
    }
    # fact-sized output: no fan-out
    assert temporal_join(facts, dim, "ent", "t").count() == facts.count()


def test_winsorize_clips_to_quantiles(spark):
    vals = list(range(1, 101))  # 1..100
    df = spark.createDataFrame([(float(v),) for v in vals], ["x"])
    out = etl.winsorize(df, ["x"], 0.05, 0.95).select("x", "x_w").collect()
    lo = 1 + 0.05 * 99   # type-7 on 1..100
    hi = 1 + 0.95 * 99
    for r in out:
        assert lo - 1e-9 <= r["x_w"] <= hi + 1e-9
        if lo <= r["x"] <= hi:
            assert r["x_w"] == r["x"]
    import pytest as _pt
    with _pt.raises(ValueError, match="lower"):
        etl.winsorize(df, ["x"], 0.9, 0.1)


def test_mad_outliers_flags_planted_spike(spark):
    from compss_python_spark.operators.timeseries import mad_outliers

    rows = [(1, float(v)) for v in [10, 11, 9, 10, 12, 10, 11, 500]]
    df = spark.createDataFrame(rows, ["u", "value"])
    out = {r["value"]: r["is_outlier"] for r in mad_outliers(df, "u", "value").collect()}
    assert out[500.0] is True
    assert sum(1 for v, f in out.items() if f) == 1  # only the spike


def test_expectations_report_single_job_and_null_safety(spark):
    """Known metric values; an all-null column yields metric NULL ->
    passed False (not an error); the whole suite is ONE aggregate job."""
    from compss_python_spark.functions import quality as Q

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", -1.0), (3, None, 2.0), (3, "c", None)],
        "id int, s string, v double",
    )
    rep = Q.expectations_report(df, [
        Q.completeness("s", 1.0),
        Q.uniqueness("id", 1.0),
        Q.non_negative("v", 1.0),
        Q.in_set("s", ["a", "b", "c"], 0.7),
        Q.in_range("v", 0.0, 10.0, 0.5),
    ])
    rows = {(r["check"], r["column"]): r for r in rep.collect()}
    assert rows[("completeness", "s")]["metric"] == 0.75
    assert not rows[("completeness", "s")]["passed"]
    assert rows[("uniqueness", "id")]["metric"] == 0.75
    # avg over non-null v: 2 of 3 >= 0
    assert rows[("non_negative", "v")]["metric"] == round(2 / 3, 6)
    assert rows[("in_set", "s")]["passed"]
    # all-null column: metric NULL -> passed False, no crash
    nul = spark.createDataFrame([(None,), (None,)], "x string")
    r2 = Q.expectations_report(nul, [Q.matches_regex("x", "^a", 1.0)]).first()
    assert r2["metric"] is None and r2["passed"] is False


def test_snapshot_diff_null_safety_and_column_lists(spark):
    """NULL->value and value->NULL count as changes; NULL==NULL does not;
    absent-side rows classify added/removed even when all payload columns
    are NULL; changed_columns is sorted."""
    from compss_python_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5.0), (3, None, None), (4, "d", 1.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 2.0), (2, "B", 6.0), (3, None, None), (5, None, None)],
        "k int, s string, v double",
    )
    rows = {r["k"]: r for r in snapshot_diff(old, new, ["k"]).collect()}
    assert rows[1]["change_type"] == "changed"          # NULL -> 2.0
    assert rows[1]["changed_columns"] == ["v"]
    assert rows[2]["changed_columns"] == ["s", "v"]     # sorted multi
    assert rows[3]["change_type"] == "unchanged"        # NULL == NULL
    assert rows[4]["change_type"] == "removed" and rows[4]["changed_columns"] == []
    assert rows[5]["change_type"] == "added"            # all-NULL payload


def test_binary_files_sink_and_source_roundtrip(spark, tmp_path):
    """write_binary_files → binaryFile source round-trips payload bytes and
    exposes (path, length, content); glob filter prunes non-matching files."""
    from compss_python_spark.sources.io import read_binary_files, write_binary_files

    payloads = [(1, b"\x00\x01\x02"), (2, b"hello"), (3, bytes(range(256)))]
    df = spark.createDataFrame(payloads, "media_id long, payload binary")
    out = str(tmp_path / "blobs")
    manifest = write_binary_files(df, out, suffix=".bin").collect()
    assert sorted((r["media_id"], r["n_bytes"]) for r in manifest) == [
        (1, 3), (2, 5), (3, 256),
    ]
    # a decoy file the glob must exclude
    (tmp_path / "blobs" / "ignore.txt").write_bytes(b"nope")

    back = read_binary_files(spark, out, glob="*.bin")
    rows = back.select("path", "length", "content").collect()
    got = {
        int(r["path"].rsplit("/", 1)[1].removesuffix(".bin")): bytes(r["content"])
        for r in rows
    }
    assert got == {k: v for k, v in payloads}
    assert all(r["length"] == len(bytes(r["content"])) for r in rows)


def test_binary_files_sink_atomic_overwrite_and_id_sanitization(spark, tmp_path):
    """Round-8 advice: overwrite must not destroy the previous export until
    the new one succeeds, and ids with path separators must be rejected
    (they would write outside the target directory)."""
    import os

    import pytest as _pt

    from compss_python_spark.sources.io import write_binary_files

    out = str(tmp_path / "blobs")
    ok = spark.createDataFrame([("a", b"v1")], "media_id string, payload binary")
    write_binary_files(ok, out).collect()
    assert (tmp_path / "blobs" / "a.bin").read_bytes() == b"v1"

    # a failing overwrite (escaping id) leaves the OLD export intact
    evil = spark.createDataFrame(
        [("b", b"v2"), (f"..{os.sep}escape", b"v2")],
        "media_id string, payload binary",
    )
    with _pt.raises(Exception, match="path separator|outside the target"):
        write_binary_files(evil, out)
    assert (tmp_path / "blobs" / "a.bin").read_bytes() == b"v1"
    assert not (tmp_path / "escape.bin").exists()
    assert not os.path.isdir(out + ".__tmp_export__")  # temp cleaned up

    # a successful overwrite replaces it
    new = spark.createDataFrame([("b", b"v2")], "media_id string, payload binary")
    m = write_binary_files(new, out).collect()
    assert [r["media_id"] for r in m] == ["b"]
    assert m[0]["file"] == os.path.join(out, "b.bin")  # manifest: final path
    assert (tmp_path / "blobs" / "b.bin").read_bytes() == b"v2"
    assert not (tmp_path / "blobs" / "a.bin").exists()


def test_quantiles_exact_selection_matches_percentile(spark):
    """Selection-based exact quantiles reproduce Spark `percentile`
    bit-for-bit under forced multi-pass refinement (tiny max_candidates
    and bins), including a duplicate-heavy column that exercises the
    sub-ulp degenerate arm, NaN/null exclusion, and p=0/p=1 endpoints."""
    import numpy as np

    from compss_python_spark.functions.statistics import (
        quantiles_exact,
        quantiles_exact_selection,
    )

    rng = np.random.default_rng(7)
    vals = rng.lognormal(3.0, 1.0, 5_000).tolist()
    # heavy duplicates: one value holds 40% of the mass around the median
    vals += [42.25] * 3_500
    rows = [(v,) for v in vals] + [(None,), (float("nan"),)]
    df = spark.createDataFrame(rows, "x double")
    probs = [0.0, 0.25, 0.5, 0.9, 1.0]
    # NaN = NaN is TRUE in Spark, so "x = x" would keep NaN — isnan needed
    ref = (
        quantiles_exact(df.filter("x IS NOT NULL AND NOT isnan(x)"), "x", probs)
        .first()
        .asDict()
    )
    got = (
        quantiles_exact_selection(df, "x", probs, bins=16, max_candidates=50)
        .first()
        .asDict()
    )
    assert got == ref, (got, ref)

    # all-duplicate column: histogram can never split — degenerate arm only
    const = spark.createDataFrame([(7.5,)] * 300, "x double")
    cq = quantiles_exact_selection(const, "x", [0.5], bins=8, max_candidates=10)
    assert cq.first()["q50"] == 7.5

    import pytest as _pt
    with _pt.raises(ValueError, match="no non-null"):
        quantiles_exact_selection(
            spark.createDataFrame([(None,)], "x double"), "x", [0.5]
        )

    # ±Infinity: occupies the extreme ranks, must not poison the finite
    # histogram bracket (pre-fix: width=inf -> NaN bracket -> driver spin)
    ninf, pinf = float("-inf"), float("inf")
    ivals = [ninf] * 3 + sorted(rng.normal(0.0, 5.0, 200).tolist()) + [pinf] * 5
    idf = spark.createDataFrame([(v,) for v in ivals], "x double")
    iprobs = [0.0, 0.005, 0.5, 0.97, 0.99, 1.0]
    svals = sorted(ivals)

    def _type7(p):
        # engine's exact form ((1-frac)*lower + frac*higher); numpy's lerp
        # (lower + frac*(higher-lower)) NaNs on equal-infinite brackets
        h = (len(svals) - 1) * p
        flo, frac = int(np.floor(h)), h - np.floor(h)
        return svals[flo] if frac == 0 else (1 - frac) * svals[flo] + frac * svals[flo + 1]

    igot = quantiles_exact_selection(
        idf, "x", iprobs, bins=16, max_candidates=20
    ).first().asDict()
    for p in iprobs:
        g, expect = igot[f"q{int(p * 100)}"], _type7(p)
        if np.isinf(expect):
            assert g == expect, (p, g, expect)
        else:
            assert g == _pt.approx(round(float(expect), 4), abs=1e-9), (p, g, expect)

    # all-infinite column: no finite remainder, pure rank arithmetic
    alli = spark.createDataFrame([(ninf,), (pinf,), (pinf,)], "x double")
    assert quantiles_exact_selection(alli, "x", [0.0, 1.0]).first().asDict() == {
        "q0": ninf, "q100": pinf,
    }


def test_histogram_quantiles_error_bound_and_edges(spark):
    """Histogram quantiles land within one bin width of the exact
    type-7 quantile; constant columns and bad probs handled."""
    import numpy as np

    from compss_python_spark.functions.statistics import histogram_quantiles

    rng = np.random.default_rng(11)
    vals = rng.lognormal(3.0, 1.0, 20_000).tolist()
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    probs = [0.25, 0.5, 0.9, 0.99]
    got = {r["p"]: r["quantile"] for r in
           histogram_quantiles(df, "x", probs, bins=500).collect()}
    w = (max(vals) - min(vals)) / 500.0
    for p in probs:
        exact = float(np.quantile(np.array(vals), p, method="linear"))
        assert abs(got[p] - exact) <= w + 1e-9, (p, got[p], exact, w)

    const = spark.createDataFrame([(7.5,)] * 10, "x double")
    cq = {r["p"]: r["quantile"] for r in
          histogram_quantiles(const, "x", [0.5, 1.0]).collect()}
    assert cq == {0.5: 7.5, 1.0: 7.5}

    import pytest as _pt
    with _pt.raises(ValueError, match="probs"):
        histogram_quantiles(df, "x", [0.0])
    with _pt.raises(ValueError, match="no non-null"):
        histogram_quantiles(
            spark.createDataFrame([], "x double"), "x", [0.5]
        )

    # Regression (round-8 advice): caller-supplied lo ABOVE the data min
    # used to give values below lo negative bucket indices (only the upper
    # end was clamped), shifting the cumulative walk and interpolating
    # quantiles BELOW lo.  They must fold into bucket 0 — every quantile
    # stays within [lo, hi] and upper quantiles stay exact-within-a-bin.
    clamped = {r["p"]: r["quantile"] for r in
               histogram_quantiles(df, "x", [0.5, 0.9], bins=500,
                                   lo=float(np.quantile(vals, 0.10)),
                                   hi=max(vals)).collect()}
    lo10 = float(np.quantile(vals, 0.10))
    w2 = (max(vals) - lo10) / 500.0
    assert all(q >= lo10 - 1e-9 for q in clamped.values()), clamped
    exact90 = float(np.quantile(np.array(vals), 0.9, method="linear"))
    assert abs(clamped[0.9] - exact90) <= w2 + 1e-9


def test_grouped_histogram_quantiles_per_group_error_bound(spark):
    """Per-group quantiles stay within one (global-grid) bin width of the
    exact per-group quantile; groups do not contaminate each other."""
    import numpy as np

    from compss_python_spark.functions.statistics import grouped_histogram_quantiles

    rng = np.random.default_rng(5)
    rows = [("a", float(v)) for v in rng.normal(0, 1, 5000)]
    rows += [("b", float(v)) for v in rng.normal(50, 5, 5000)]
    df = spark.createDataFrame(rows, "g string, x double")
    out = {(r["g"], r["p"]): r["quantile"] for r in
           grouped_histogram_quantiles(df, "x", "g", [0.5, 0.95], bins=400).collect()}
    xs = {g: np.array([v for gg, v in rows if gg == g]) for g in ("a", "b")}
    w = (max(v for _, v in rows) - min(v for _, v in rows)) / 400.0
    for g in ("a", "b"):
        for p in (0.5, 0.95):
            exact = float(np.quantile(xs[g], p, method="linear"))
            assert abs(out[(g, p)] - exact) <= w + 1e-9, (g, p, out[(g, p)], exact)


def test_partition_fingerprints_change_detection(spark):
    """Touching one row changes only its partition's fingerprint; xor
    self-cancellation of duplicate rows is visible via n_rows."""
    from compss_python_spark.functions.statistics import partition_fingerprints

    base = [(1, "x", "a"), (2, "y", "a"), (3, "z", "b"), (4, None, "b")]
    df1 = spark.createDataFrame(base, "id long, v string, part string")
    fp1 = {r["part"]: (r["n_rows"], r["fingerprint"])
           for r in partition_fingerprints(df1, "part", ["id", "v"]).collect()}

    changed = [(1, "x", "a"), (2, "y2", "a"), (3, "z", "b"), (4, None, "b")]
    df2 = spark.createDataFrame(changed, "id long, v string, part string")
    fp2 = {r["part"]: (r["n_rows"], r["fingerprint"])
           for r in partition_fingerprints(df2, "part", ["id", "v"]).collect()}
    assert fp1["a"] != fp2["a"]
    assert fp1["b"] == fp2["b"]

    # NULL vs empty string must differ
    dfn = spark.createDataFrame([(1, None, "a")], "id long, v string, part string")
    dfe = spark.createDataFrame([(1, "", "a")], "id long, v string, part string")
    fn = partition_fingerprints(dfn, "part", ["id", "v"]).first()["fingerprint"]
    fe = partition_fingerprints(dfe, "part", ["id", "v"]).first()["fingerprint"]
    assert fn != fe

    # duplicate pair cancels to xor-0 but n_rows says 2 (documented caveat)
    dup = spark.createDataFrame([(1, "x", "a"), (1, "x", "a")],
                                "id long, v string, part string")
    r = partition_fingerprints(dup, "part", ["id", "v"]).first()
    assert r["fingerprint"] == 0 and r["n_rows"] == 2

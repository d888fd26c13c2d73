"""The driver-held centroid literal must carry every double bit for bit."""

import math
import struct

import pytest
from pyspark.sql import functions as F

from compss_python_spark.centroids import centroid_literal

EDGE_DOUBLES = [0.1, -0.0, 5e-324, 1e-05, 1.7976931348623157e308, -2.5e-300]


def test_centroid_literal_round_trips_doubles_bit_exactly(spark):
    lit = centroid_literal({7: EDGE_DOUBLES, 2: [1.0] * len(EDGE_DOUBLES)})
    rows = spark.range(1).select(F.expr(lit).alias("a")).first()["a"]
    assert [r["cid"] for r in rows] == [2, 7]  # sorted by cid ascending
    bits = [struct.pack("<d", x) for x in rows[1]["c"]]
    assert bits == [struct.pack("<d", x) for x in EDGE_DOUBLES]


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_centroid_literal_rejects_non_finite(bad):
    with pytest.raises(ValueError):
        centroid_literal({0: [0.5, bad]})


@pytest.mark.parametrize("fn", ["ivf_topk", "semantic_dedup"])
def test_quantizers_reject_a_nan_centroid(spark, fn):
    from compss_python_spark.llm.dedup import semantic_dedup
    from compss_python_spark.llm.similarity import ivf_topk

    df = spark.createDataFrame([(0, [0.0, 1.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    cents = [[0.0, 0.0], [math.nan, 1.0]]
    call = {
        "ivf_topk": lambda: ivf_topk(df, df, k=1, centroids=cents, nprobe=1),
        "semantic_dedup": lambda: semantic_dedup(df, centroids=cents, n_cells=2),
    }[fn]
    with pytest.raises(ValueError, match="non-finite"):
        call()

"""Driver-held centroid tables embedded in a plan as ONE constant.

K-means, the IVF coarse quantizer and SemDeDup all assign each row to its
nearest of k centroids, where k × dim is bounded by a parameter, not by the
data.  The centroids stay on the driver and enter the plan as one JSON
string literal under ``from_json``, which the optimizer folds into a single
array constant: one parse and one py4j call, no centroid DataFrame, no
broadcast row, no cross join, and analysis whose cost does not grow with
k × dim.  (Spelled out as a SQL ``array`` of k × dim double literals, the
analyzer walks every element: 0.1 s per use at 8 × 64, 1.3 s at 16 × 768
and 1.7 s at 256 × 64 on a 4-core host, against 0.02–0.03 s for the JSON
string at all three.  One ``F.lit`` per element would add one py4j round
trip per element on top.)

Exactness: ``json.dumps`` writes each double as Python's repr, the shortest
string that round-trips, and Spark's JSON reader parses it back with
``Double.parseDouble``, so the plan holds the driver's doubles bit for bit.
"""

from __future__ import annotations

import json
import math
from typing import Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEMA = "array<struct<cid:int,c:array<double>>>"


def centroid_literal(centroids: Mapping[int, Sequence[float]]) -> str:
    """SQL for the ``array<struct<cid:int, c:array<double>>>`` constant,
    sorted by cid ascending (the order the ties-to-smaller-cid argmin
    relies on).  Raises ``ValueError`` on NaN or ±inf."""
    rows = []
    for cid in sorted(centroids):
        c = [float(x) for x in centroids[cid]]
        if not all(math.isfinite(x) for x in c):
            raise ValueError(f"centroid {cid} holds a non-finite value")
        rows.append({"cid": int(cid), "c": c})
    return f"from_json('{json.dumps(rows)}', '{_SCHEMA}')"


def centroid_dists(vec: str, centroids: Mapping[int, Sequence[float]]) -> Column:
    """Per-row ``array<struct<d2, cid>>`` of squared L2 distances from the
    vector column ``vec`` to every centroid, in cid order.  ``array_min``
    of it is the nearest centroid with ties toward the smaller cid (struct
    comparison orders by d2, then cid); ``array_sort`` ranks them.  The
    fold is sequential, so sums match DuckDB's ``list_sum``."""
    return F.expr(
        f"transform({centroid_literal(centroids)}, s -> struct("
        f"aggregate(zip_with(CAST({vec} AS ARRAY<DOUBLE>), s.c, "
        "(a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x) AS d2, "
        "s.cid AS cid))"
    )

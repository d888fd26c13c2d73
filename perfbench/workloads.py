"""Workload definitions: which registry queries each workload runs, and at
what input size.

Sizes are fractions of ``tools/gen_sf.BASE`` (the sf0.1 row counts).  Every
table is generated, because the DuckDB oracle views every table; the
tables a workload does not read stay at ``MIN_SCALE``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

MIN_SCALE = 0.01


@dataclass(frozen=True)
class Workload:
    name: str
    reads: tuple[str, ...]
    # Queries that round-trip data through the ``sources.io`` writers.
    writes: tuple[str, ...]
    scale: dict[str, float] = field(default_factory=dict)

    @property
    def queries(self) -> tuple[str, ...]:
        return self.reads + self.writes

    def table_scale(self, table: str) -> float:
        return self.scale.get(table, MIN_SCALE)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl",
            reads=(
                "tpch_q18_large_volume_customer",
                # The one shuffle join: operators.joins.salted_join pins a
                # shuffled hash join; every other join here is small enough
                # to broadcast.
                "skew_salted_join",
                "topk_per_group",
                "quantiles_histogram",
            ),
            writes=("io_orc_roundtrip", "io_csv_roundtrip"),
            scale={"lineitem": 0.05, "orders": 0.05, "customer": 0.05, "events": 0.05},
        ),
        Workload(
            "iterative",
            reads=(
                "ml_kmeans_lloyd_fixed_init",
                "graph_pagerank",
                "similarity_topk_ivf_md5",
            ),
            writes=(),
            scale={"embeddings": 0.5, "lineitem": 0.05, "orders": 0.05, "customer": 0.05,
                   "supplier": 0.05},
        ),
    )
}

"""Time the distributed connected-components loop on registry and generated graphs.

    python tools/cc_strategies.py --tree DIR --tag NAME --sf-dir SF_DIR \
        [--reps 4] [--out CC_STRATEGIES.json]

Imports the engine from ``--tree`` (a checkout, e.g. ``git archive`` of a
revision unpacked into a directory), so the same script measures whichever
strategy that revision's ``connected_components`` runs.  Each graph's edge
table is materialized first, then ``connected_components(g,
local_threshold=0, max_iters=1000)`` + ``collect()`` is timed ``--reps``
times, the reps interleaved across graphs in one warm session.  Per graph
it records the median seconds, the Spark jobs per call (the
``dagScheduler().nextJobId()`` delta) and an md5 digest of the sorted
(node, component) rows.

Graphs: the edge tables that ``graph_connected_components``,
``dedup_lsh_cc_survivors_md5``, ``dedup_lsh_cc_survivors`` and
``er_supplier_entities`` pass to ``connected_components`` at ``--sf-dir``,
plus generated paths of 32/128/512 nodes, a 20×20 grid and a seeded random
graph of 300 k edges over 200 k nodes.

The run is stored under ``runs[<tag>]`` of ``--out`` (other tags are kept),
and the script reports, per graph, whether the stored runs' digests agree.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import time

REGISTRY = {
    "registry_cust_supp": "graph_connected_components",
    "lsh_md5_pairs": "dedup_lsh_cc_survivors_md5",
    "lsh_xxhash_pairs": "dedup_lsh_cc_survivors",
    "er_supplier_pairs": "er_supplier_entities",
}


class _Captured(Exception):
    def __init__(self, edges):
        self.edges = edges


def registry_edges(spark, sf_dir: str, query: str):
    """The edge table ``query`` hands to ``connected_components``."""
    import __spark_entry__
    from pyspark.sql import functions as F

    from compss_python_spark.graph import components

    def capture(edges, src="src", dst="dst", **_):
        raise _Captured(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))

    real = components.connected_components
    components.connected_components = capture
    try:
        __spark_entry__.queries()[query](spark, sf_dir)
    except _Captured as c:
        return c.edges
    finally:
        components.connected_components = real
    raise RuntimeError(f"{query} did not call connected_components")


def generated_edges(spark, kind: str, n: int):
    from pyspark.sql import functions as F

    if kind == "path":
        return spark.range(n - 1).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    if kind == "grid":  # n × n, node r*n + c, right and down neighbours
        ids = spark.range(n * n)
        right = ids.filter(F.col("id") % n != n - 1).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        down = ids.filter(F.col("id") < n * (n - 1)).select(
            F.col("id").alias("src"), (F.col("id") + n).alias("dst"))
        return right.union(down)
    # random: 1.5·n edges over n nodes, endpoints from seeded hashes
    return spark.range(n * 3 // 2).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n)).alias("dst"),
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tree", required=True, help="checkout whose engine is measured")
    ap.add_argument("--tag", required=True, help="key of this run in --out")
    ap.add_argument("--sf-dir", required=True, help="scale-factor data directory")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--out", default="CC_STRATEGIES.json")
    a = ap.parse_args(argv)

    sys.path.insert(0, os.path.abspath(a.tree))
    from compss_python_spark.caching import release_checkpoint
    from compss_python_spark.graph.components import connected_components
    from compss_python_spark.session import get_spark

    spark = get_spark()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    graphs = {name: registry_edges(spark, a.sf_dir, q) for name, q in REGISTRY.items()}
    for n in (32, 128, 512):
        graphs[f"path_{n}"] = generated_edges(spark, "path", n)
    graphs["grid_20x20"] = generated_edges(spark, "grid", 20)
    graphs["random_200k_300k"] = generated_edges(spark, "random", 200_000)
    rows_in = {}
    for name, g in graphs.items():
        graphs[name] = g.persist()
        rows_in[name] = graphs[name].count()

    times = {name: [] for name in graphs}
    jobs, digests = {}, {}
    for _ in range(a.reps):
        for name, g in graphs.items():
            j0, t0 = dag.nextJobId(), time.perf_counter()
            out = connected_components(g, local_threshold=0, max_iters=1000)
            rows = out.collect()
            times[name].append(time.perf_counter() - t0)
            jobs[name] = dag.nextJobId() - j0
            release_checkpoint(out)
            text = "\n".join(f"{n}\t{c}" for n, c in sorted((r[0], r[1]) for r in rows))
            digests[name] = hashlib.md5(text.encode()).hexdigest()
            print(f"# {name}: {times[name][-1]:.2f} s, {jobs[name]} jobs", file=sys.stderr)

    run = {
        "sf": os.path.basename(os.path.normpath(a.sf_dir)),
        "reps": a.reps,
        "cores": os.cpu_count(),
        "graphs": {
            name: {
                "edge_rows": rows_in[name],
                "median_s": round(statistics.median(times[name]), 3),
                "times_s": [round(t, 3) for t in times[name]],
                "jobs_per_call": jobs[name],
                "digest": digests[name],
            }
            for name in graphs
        },
    }
    doc = {"runs": {}}
    if os.path.exists(a.out):
        with open(a.out) as f:
            doc = json.load(f)
    doc["runs"][a.tag] = run
    with open(a.out, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")

    runs = doc["runs"]
    for name in graphs:
        seen = {tag: r["graphs"][name]["digest"] for tag, r in runs.items() if name in r["graphs"]}
        same = "equal" if len(set(seen.values())) == 1 else "DIFFER"
        medians = ", ".join(f"{t} {r['graphs'][name]['median_s']} s" for t, r in runs.items()
                            if name in r["graphs"])
        print(f"{name}: digests {same} across {sorted(seen)}; {medians}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

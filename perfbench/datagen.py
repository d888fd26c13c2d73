"""Seeded inputs built with ``tools/gen_sf.build_tables``.

The seed is folded into every xxhash64 salt by wrapping ``gen_sf.u`` (and
``gen_sf.pick`` reaches ``u`` through the module globals), so the same seed
gives byte-identical tables and another seed gives other values of the same
shape.  region and nation are the fixed 5- and 25-row dimension tables of
the repository's testdata.
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

MANIFEST = "manifest.json"
MIN_ROWS = 10


def dir_bytes_files(path: str) -> tuple[int, int]:
    """Bytes and count of the data files under ``path`` (Spark's
    ``_SUCCESS`` markers and ``.crc`` checksums excluded)."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def generate(spark, data_dir: str, seed: int, workload, scale: float = 1.0) -> dict:
    """Write every table for ``workload`` at its scale (times ``scale``)
    under ``data_dir`` and return the manifest (rows and bytes per table).  Writes into a
    sibling temporary directory and renames it, so an interrupted run never
    leaves a half-written cache entry."""
    import gen_sf

    salt_offset = 1009 * (seed % (1 << 40))
    base_u, base_sizes = gen_sf.u, gen_sf.BASE
    rows = {
        t: max(MIN_ROWS, round(n * workload.table_scale(t) * scale))
        for t, n in base_sizes.items()
    }
    gen_sf.u = lambda salt, *cols: base_u(salt + salt_offset, *cols)
    gen_sf.BASE = rows
    tmp = data_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        tables = gen_sf.build_tables(spark, 1)
        tables["region"] = spark.createDataFrame(
            [(i, f"REGION_{i}") for i in range(5)], "r_regionkey int, r_name string"
        )
        tables["nation"] = spark.createDataFrame(
            [(i, f"NATION_{i}", i % 5) for i in range(25)],
            "n_nationkey int, n_name string, n_regionkey int",
        )
        rows.update(region=5, nation=25)

        def write(name):
            path = os.path.join(tmp, f"{name}.parquet")
            tables[name].write.mode("overwrite").parquet(path)
            return name, {"rows": rows[name], "bytes": dir_bytes_files(path)[0]}

        # The tables are small, so one Spark job each leaves most cores
        # idle: write them from concurrent threads.
        with ThreadPoolExecutor(len(tables)) as pool:
            written = dict(pool.map(write, sorted(tables)))
        manifest = {"seed": seed, "workload": workload.name, "tables": written}
    finally:
        gen_sf.u, gen_sf.BASE = base_u, base_sizes
    with open(os.path.join(tmp, MANIFEST), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=1)
    shutil.rmtree(data_dir, ignore_errors=True)
    os.rename(tmp, data_dir)
    return manifest

"""Interleaved parent-vs-change A/B of ``perfbench/run.py``.

    python tools/ab_perfbench.py --workload iterative --base HEAD~1 \
        --seeds 1,2,3,4,5,6,7,8,9,10 [--change REV] [--trace 0|1]

The base side is ``git archive <base>`` unpacked into a fresh directory
(``--workdir``, default a temporary directory removed on exit), so it runs
the committed files of that revision.  The change side is the working tree of
this checkout, or ``git archive <change>`` when ``--change`` is given.
Pair i runs seed ``seeds[i]`` on both sides; even pairs run the base
first and odd pairs the change first, so drift on a shared host does not
favour one side.  Each run lasts ``run_seconds`` from the change side's
``BENCHMARK.json``.  Nothing under ``perfbench/`` or ``BENCHMARK.json`` is
edited: each side runs its own copy unchanged.

For every metric the run reports (the end-to-end ones with ``--trace 0``,
the per-layer ones with ``--trace 1``) the tool prints each side's median
and quartiles, the base side's IQR, and the fraction of pairs the change
won in the metric's ``better`` direction (from ``BENCHMARK.json``).  A run
that prints ``"correct": false`` or no result line is reported and its
pair is dropped from the statistics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str, dest: str) -> str:
    """Unpack the committed files of ``rev`` into ``dest``."""
    os.makedirs(dest)
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run_once(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", repr(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        print(f"# {tree} seed {seed}: exit {proc.returncode}, no result\n{proc.stderr[-2000:]}",
              file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--base", required=True, help="git revision of the parent side")
    ap.add_argument("--change", default=None,
                    help="git revision of the change side (default: this working tree)")
    ap.add_argument("--seeds", required=True, help="comma-separated, one pair per seed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", default=None, help="where to unpack the revisions")
    a = ap.parse_args(argv)

    seeds = [int(s) for s in a.seeds.split(",")]
    workdir = (contextlib.nullcontext(a.workdir) if a.workdir
               else tempfile.TemporaryDirectory(prefix="ab_perfbench-"))
    with workdir as work:
        trees = {
            "base": export(a.base, os.path.join(work, "base")),
            "change": export(a.change, os.path.join(work, "change")) if a.change else ROOT,
        }
        with open(os.path.join(trees["change"], "BENCHMARK.json"), encoding="utf-8") as fh:
            spec = json.load(fh)
        runs = []
        for i, seed in enumerate(seeds):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {}
            for side in order:
                res = run_once(trees[side], a.workload, seed, spec["run_seconds"], a.trace)
                pair[side] = res
                ok = bool(res and res["correct"])
                print(f"# pair {i} seed {seed} {side}: correct={ok} " + (
                    " ".join(f"{k}={v['value']}" for k, v in res["metrics"].items()) if res else ""
                ), flush=True)
            runs.append(pair)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}

    good = [p for p in runs if all(p[s] and p[s]["correct"] for s in ("base", "change"))]
    print(f"# {len(good)} of {len(runs)} pairs correct on both sides")
    if not good:
        return 1
    print(f"{'metric':28s} {'base med [q1, q3]':>28s} {'change med [q1, q3]':>28s} "
          f"{'base IQR':>9s} {'won':>6s}")
    for name in good[0]["base"]["metrics"]:
        b = [p["base"]["metrics"][name]["value"] for p in good]
        c = [p["change"]["metrics"][name]["value"] for p in good]
        sign = 1 if better.get(name, "lower") == "lower" else -1
        won = sum(sign * (cv - bv) < 0 for bv, cv in zip(b, c))
        (bq1, bm, bq3), (cq1, cm, cq3) = quartiles(b), quartiles(c)
        print(f"{name:28s} {bm:10.4g} [{bq1:.4g}, {bq3:.4g}]".ljust(57)
              + f" {cm:10.4g} [{cq1:.4g}, {cq3:.4g}]".ljust(29)
              + f" {bq3 - bq1:9.4g} {won:>2d}/{len(good)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

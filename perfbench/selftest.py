"""Self-test of the benchmark, at tiny scale (about three minutes).

    python3 perfbench/selftest.py

Checks that a one-pass run of every workload prints every metric of
``BENCHMARK.json`` with its unit (untraced and traced), that every output
matches its oracle, that a corrupted expected result is counted as a
failure, and that the benchmark refuses to run without the program.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.2"


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", SCALE, *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return p.returncode, None


def check(ok: bool, what: str, failures: list[str]) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        failures.append(what)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    failures: list[str] = []
    for w in spec["workloads"]:
        for trace, key, passes in ((0, "end_to_end", "1"), (1, "per_layer", "2")):
            rc, res = run(w["name"], trace, "--passes", passes)
            what = f"{w['name']} trace={trace}"
            check(rc == 0 and res is not None, f"{what}: exits 0 with a result line", failures)
            if res is None:
                continue
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{what}: result keys", failures)
            check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                  f"{what}: every output correct ({res['failed']}/{res['attempted']} failed)",
                  failures)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{what}: every {key} metric printed with its unit", failures)

    rc, res = run(spec["workloads"][0]["name"], 0, "--passes", "1", "--corrupt-oracle")
    check(rc == 0 and res is not None and res["failed"] > 0 and not res["correct"],
          "a corrupted expected result counts as failed", failures)

    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        rc, res = run(spec["workloads"][0]["name"], 0, cwd=bare)
        check(rc != 0 and res is None, "without the program: non-zero exit, no result", failures)

    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

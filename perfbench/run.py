"""Seeded benchmark of the DDF engine's query registry.

    python3 perfbench/run.py --workload {etl,iterative} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  One run starts one fresh worker process
(``worker.py``) on ``local[nproc]`` with pinned settings, which times its
start-up, generates the seed's inputs, checks every query's output against
its DuckDB oracle in an untimed pass, then runs steady passes for
``--seconds`` as one closed-loop client.  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` (failed /
attempted is the failure fraction) and ``metrics`` -- the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170.0
# The program under test; without it the benchmark cannot run.
REQUIRED = ("bench.py", "compss_python_spark/session.py", "tools/gen_sf.py",
            "tools/check_correctness.py")

sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def driver_mem() -> str:
    """A quarter of physical memory, between 1 and 4 GiB: the session's
    32g default is larger than small hosts, and the inputs are small."""
    with open("/proc/meminfo", encoding="utf-8") as fh:
        mem_gib = int(fh.readline().split()[1]) / 1024 / 1024
    return f"{int(min(4, max(1, mem_gib // 4)))}g"


def worker_env() -> dict:
    local = os.path.join(WORK, "local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # Keep every JVM's temporary files inside the checkout (no
        # /tmp/hsperfdata either) and the console free of progress bars.
        # JIT: C1 only, and no code cache flushing.  In a one-minute JVM the
        # C2 compiler threads compete with the queries for the cores and
        # keep the passes speeding up; flushing evicts compiled code that a
        # later pass recompiles, which made one pass in five 30-75% slower.
        JAVA_TOOL_OPTIONS=(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                           " -XX:TieredStopAtLevel=1 -XX:-UseCodeCacheFlushing"),
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
        PYTHONDONTWRITEBYTECODE="1",
        # Fixed string hashing, so set iteration order (and any plan built
        # from it) is the same in every run.
        PYTHONHASHSEED="0",
    )
    return env


def spawn(args: list[str], env: dict, deadline: float) -> dict:
    """Run one worker to completion in its own process group; kill the
    whole group if it outlives the run's deadline."""
    out = os.path.join(WORK, f"result-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    t_spawn = time.time()
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args,
           "--t-spawn", repr(t_spawn), "--out", out]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if rc != 0:
        raise SystemExit(f"worker {'timed out' if rc is None else f'exited {rc}'}")
    with open(out, encoding="utf-8") as fh:
        res = json.load(fh)
    os.remove(out)
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies every table size (the self-test runs tiny)")
    ap.add_argument("--passes", type=int, default=0,
                    help="run exactly this many steady passes instead of --seconds of them")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="compare against a wrong expected digest (self-test)")
    a = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    # Turn SIGTERM into SystemExit, so spawn() still kills the worker group.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    tag = f"{a.workload}-s{a.seed}" + (f"-x{a.scale:g}" if a.scale != 1.0 else "")
    data_dir = os.path.join(WORK, "data", tag)
    common = ["--workload", a.workload, "--seed", str(a.seed), "--data", data_dir]
    if a.scale != 1.0:
        common += ["--scale", repr(a.scale)]
    env = worker_env()

    args = [*common, "--seconds", repr(a.seconds), "--passes", str(a.passes)]
    if a.trace:
        args += ["--trace", "--spans", os.path.join(WORK, "spans", f"{tag}.jsonl")]
    if a.corrupt_oracle:
        args.append("--corrupt-oracle")
    res = spawn(args, env, deadline)

    values = dict(res["metrics"])
    values["setup_s"] = res["setup_s"]
    metrics = {}
    for m in wanted:
        if m["name"] not in values:
            raise SystemExit(f"perfbench: metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}

    print(f"# settings {json.dumps(res['info'])}")
    print(f"# inputs {json.dumps(res['manifest']['tables'])} (generated in {res['gen_s']:.1f}s)")
    print(f"# queries {json.dumps(list(WORKLOADS[a.workload].queries))}")
    for err in res["errors"]:
        print(f"# failed {err}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""One benchmark run in a fresh interpreter that starts its own Spark JVM.

    python3 perfbench/worker.py --workload W --seed N --data DIR --t-spawn T \
        --out F [--seconds S] [--passes K] [--trace --spans F] [--scale X] \
        [--corrupt-oracle]

The worker times its start-up (``t_spawn`` is taken by the parent just
before it spawned this process), generates the seed's inputs, runs a check
pass that compares every query's output with its DuckDB oracle (untimed; it
is also the JVM's warm-up), then steady passes for ``--seconds``.  Each
steady query is one closed-loop request: built, fully evaluated through
``bench.force``, then its stray persisted blocks released.  Results go to
``--out`` as JSON; ``run.py`` prints them.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), os.path.dirname(os.path.abspath(__file__))]

from workloads import WORKLOADS  # noqa: E402


T_START = time.time()


def log(msg: str) -> None:
    print(f"# [{time.time() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def start_session(t_spawn: float):
    """Import the program and start Spark; the set-up the benchmark times
    runs from interpreter start (``t_spawn``, taken by the parent just
    before it spawned this process) to ``get_spark`` returning."""
    import bench  # noqa: F401 — imports the query registry and the session module
    from compss_python_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    return spark, start_s, time.time() - t_spawn


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(60)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def settings(spark) -> dict:
    jvm = spark.sparkContext._jvm
    with open("/proc/meminfo", encoding="utf-8") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "SPARK_LOCAL_DIRS": os.path.relpath(os.environ.get("SPARK_LOCAL_DIRS", ""), ROOT),
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(mem_kb / 1024 / 1024, 1),
        "spark": spark.version,
        "java": f"{jvm.System.getProperty('java.vm.name')} {jvm.System.getProperty('java.version')}",
        "python": sys.version.split()[0],
        "jvm_flags": [f for f in os.environ.get("JAVA_TOOL_OPTIONS", "").split()
                      if f.startswith("-XX:")],
    }


def force_digest(df):
    """``bench.force(df)``, returning the bit_xor of the row hashes it
    computes, or None when it fell back to ``count()``.  The digest is read
    by watching the one ``collect`` that ``bench.force`` makes."""
    import bench

    cls = type(df)
    base = cls.collect
    seen = []

    def collect(self):
        rows = base(self)
        seen.append(rows)
        return rows

    cls.collect = collect
    try:
        fell_back = bench.force(df)
    finally:
        cls.collect = base
    return None if fell_back or not seen else seen[-1][0][0]


class Runner:
    """Runs passes over one workload and records what each execution did."""

    def __init__(self, spark, workload, data_dir: str, tracer=None, status=None):
        from compss_python_spark.plans import REGISTRY

        self.spark = spark
        self.workload = workload
        self.data_dir = data_dir
        self.specs = {q: REGISTRY[q] for q in workload.queries}
        self.tracer = tracer
        self.status = status
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.first_digest: dict[str, object] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        log(f"FAILED {msg}")

    def _persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def _release(self) -> float:
        """Drop what the query left persisted; returns the time it took."""
        import bench

        t0 = time.perf_counter()
        self.spark.catalog.clearCache()
        bench._release_stray_blocks(self.spark)
        return time.perf_counter() - t0

    def check_query(self, name: str, oracle, corrupt=False) -> None:
        """Build the query and compare its collected output with the oracle.
        Untimed: the check pass is also the JVM's warm-up."""
        spec = self.specs[name]
        self.attempted += 1
        try:
            why = oracle.check(name, spec, spec.fn(self.spark, self.data_dir), corrupt=corrupt)
        except Exception as e:  # noqa: BLE001 — a failed request is counted, the client goes on
            why = f"raised {type(e).__name__}: {' '.join(str(e).split())[:300]}"
        if why:
            self._fail(f"{name}: oracle {why}")
        self._release()

    def run_query(self, name: str) -> dict:
        """One closed-loop execution.  Timed: build, action, release.
        Untimed: trace bookkeeping."""
        from datagen import dir_bytes_files

        spark, tracer = self.spark, self.tracer
        spec = self.specs[name]
        self.attempted += 1
        rec = {"build_s": 0.0, "action_s": 0.0}
        span_lo = len(tracer.spans) if tracer else 0
        df = digest = None
        span = tracer.span if tracer else (lambda *_: contextlib.nullcontext())
        with span(name, "plans", "query"):
            try:
                t0 = time.perf_counter()
                with span(name, "plans", "build"):
                    df = spec.fn(spark, self.data_dir)
                t1 = time.perf_counter()
                with span(name, "plans", "action"):
                    digest = force_digest(df)
                t2 = time.perf_counter()
                rec["build_s"], rec["action_s"] = t1 - t0, t2 - t1
            except Exception as e:  # noqa: BLE001 — a failed request is counted, the client goes on
                self._fail(f"{name}: {type(e).__name__}: {' '.join(str(e).split())[:300]}")
                df = None
        if df is not None:
            first = self.first_digest.setdefault(name, digest)
            if digest is None:
                self._fail(f"{name}: bench.force fell back to count()")
            elif digest != first:
                self._fail(f"{name}: digest {digest} != first {first}")
        if tracer and tracer.on:
            rec["leaked_rdds"] = self._persisted_rdds()
            span_hi = len(tracer.spans)
            rec["bytes_written"] = rec["files_written"] = 0
            for path in tracer.written_paths(span_lo, span_hi):
                size, files = dir_bytes_files(path)
                rec["bytes_written"] += size
                rec["files_written"] += files
        # The release is the benchmark's own call into ``caching``: keep it
        # out of the layer's spans.
        traced = bool(tracer and tracer.on)
        if traced:
            tracer.on = False
        rec["release_s"] = self._release()
        if traced:
            tracer.on = True
        rec["time_s"] = rec["build_s"] + rec["action_s"] + rec["release_s"]
        return rec

    def run_pass(self) -> dict:
        tracer = self.tracer
        traced = bool(tracer and tracer.on)
        if traced:
            exec_lo = self.status.last_execution_id()
            job_lo, span_lo, t0_ms = tracer.next_job_id(), len(tracer.spans), time.time() * 1000
        recs = {q: self.run_query(q) for q in self.workload.queries}
        log(" ".join(f"{q}={r['time_s']:.2f}" for q, r in recs.items()))
        out = {"time_s": sum(r["time_s"] for r in recs.values()), "queries": recs}
        if traced:
            job_hi, span_hi, t1_ms = tracer.next_job_id(), len(tracer.spans), time.time() * 1000
            layer = tracer.layer_totals(span_lo, span_hi)
            layer["caching.leaked_rdds"] = sum(r["leaked_rdds"] for r in recs.values())
            layer["caching.release_s"] = sum(r["release_s"] for r in recs.values())
            layer["sources.bytes_written_mb"] = sum(r["bytes_written"] for r in recs.values()) / 2**20
            layer["sources.files_written"] = sum(r["files_written"] for r in recs.values())
            counters = self.status.counters(job_lo, job_hi, t0_ms, t1_ms, self.cores)
            counters.update(self.status.joins(exec_lo))
            if counters.pop("exec.missing_jobs"):
                log("some jobs of this pass were already evicted from the status store")
            layer.update(counters)
            out["layer"] = layer
        return out


def cmd_run(a) -> dict:
    spark, start_s, setup_s = start_session(a.t_spawn)
    try:
        return _run(a, spark, start_s, setup_s)
    finally:
        stop_session(spark)
        log("stopped")


def _run(a, spark, start_s, setup_s) -> dict:
    from datagen import generate
    from oracle import Oracle
    from tracing import EXACT, StatusStore, Tracer

    workload = WORKLOADS[a.workload]
    info = settings(spark)
    # Inputs are generated in every run, in this JVM: generation is part of
    # the JVM's warm-up, so the steady passes follow the same work whether
    # or not the seed was seen before.
    t0 = time.perf_counter()
    manifest = generate(spark, a.data, a.seed, workload, a.scale)
    gen_s = time.perf_counter() - t0
    log(f"setup {setup_s:.1f}s, generated inputs in {gen_s:.1f}s")
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tracer = status = None
    if a.trace:
        tracer = Tracer(spark, f"{a.workload}-s{a.seed}-{os.getpid()}")
        status = StatusStore(spark)
    runner = Runner(spark, workload, a.data, tracer, status)

    oracle = Oracle(a.data, cores, manifest["tables"])
    t0 = time.perf_counter()
    try:
        for q in workload.queries:
            runner.check_query(q, oracle, a.corrupt_oracle)
    finally:
        oracle.close()
    log(f"check pass {time.perf_counter() - t0:.1f}s")

    if tracer:
        log(f"traced {tracer.install()} layer functions")
    # Steady passes: --passes of them, or as many as start within
    # --seconds.  The count follows the host's speed, which moves the
    # per-query medians little: with the C1-only JIT (see run.py) the
    # passes after the check pass are close to steady.  Traced runs alternate
    # traced and untraced passes, starting traced, so both see the same
    # drift; the difference of their medians is the tracing overhead.
    min_passes = 3 if tracer else 1
    target, end = max(a.passes, min_passes), time.perf_counter() + a.seconds
    steady, traced_passes = [], []
    while True:
        done = len(steady) + len(traced_passes)
        if done >= target and (a.passes or time.perf_counter() >= end):
            break
        if tracer:
            tracer.on = len(traced_passes) <= len(steady)
        p = runner.run_pass()
        (traced_passes if tracer and tracer.on else steady).append(p)
        log(f"{'traced ' if tracer and tracer.on else ''}pass {p['time_s']:.3f}s")
    if tracer:
        tracer.on = False

    log("steady passes done")
    pid = jvm_pid(spark)
    rss_mb = (vm_hwm_kb(pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024
    res = {
        "setup_s": setup_s,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "errors": runner.errors,
        "info": info,
        "manifest": manifest,
        "gen_s": gen_s,
    }
    med = statistics.median

    def med_sum(passes, queries):
        """Sum over ``queries`` of each one's median time over ``passes``."""
        return sum(med(p["queries"][q]["time_s"] for p in passes) for q in queries)

    if not tracer:
        res["metrics"] = {
            "pass_s": med_sum(steady, workload.queries),
            "read_s": med_sum(steady, workload.reads),
        }
        return res

    keys = sorted({k for p in traced_passes for k in p["layer"]})
    layer = {k: med(p["layer"].get(k, 0) for p in traced_passes) for k in keys}
    inexact = [
        k for k in EXACT
        if len({round(p["layer"].get(k, 0), 6) for p in traced_passes}) > 1
    ]
    for k in inexact:
        log(f"counter {k} did not repeat: {[p['layer'].get(k, 0) for p in traced_passes]}")
    layer["session.start_s"] = start_s
    layer["exec.peak_rss_mb"] = rss_mb
    layer["sources.write_query_s"] = med_sum(steady, workload.writes)
    layer["trace.overhead_s"] = (med_sum(traced_passes, workload.queries)
                                 - med_sum(steady, workload.queries))
    layer["trace.inexact_counters"] = len(inexact)
    res["metrics"] = layer
    os.makedirs(os.path.dirname(a.spans), exist_ok=True)
    tracer.dump(a.spans)
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--passes", type=int, default=0, help="fixed steady pass count")
    ap.add_argument("--scale", type=float, default=1.0, help="multiplies every table size")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--spans", default="")
    ap.add_argument("--corrupt-oracle", action="store_true")
    a = ap.parse_args(argv)
    res = cmd_run(a)
    with open(a.out, "w", encoding="utf-8") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Local stand-in for the driver's t2 correctness gate.

Runs every registry query at the given SF, runs its DuckDB oracle on the
same parquet, and compares row count + column names + order-insensitive
values (sorted rows, column-name-sorted).  Exit code 1 on any mismatch.

Usage: python tools/check_correctness.py [sf_dir] [name_filter...]
                [--skip-superlinear] [--oracle-timeout SECS]
                [--names-file FILE] [--mem-limit SIZE] [--digest]
                [--spark-timeout SECS] [--exclude n1,n2] [--json-out FILE]
                [--oracle-timeout-overrides name=SECS,name=SECS]

Digest mode (`--digest`): instead of collecting both result sets to
pandas and comparing canonicalized cells, each ENGINE computes an
order-insensitive fingerprint of its own output — per row, the sorted
columns are serialized to a canonical string (doubles via an EXACT
mantissa/exponent decomposition, see `_exact_double_cell` — full
64-bit resolution at every magnitude; timestamps via epoch micros,
dates via epoch days; signed zero normalized per the registry's
query-side contracts), md5-hashed to 60 bits, and SUMmed exactly
(DECIMAL(38,0) / HUGEINT).  Compared: (row count, hash sum, sorted
column names).  Nothing is collected, so a 60 M-row row-preserving
output verifies at sfgen100 where the pandas gate hits task-result
limits.  Weaker than the full gate only in the astronomically unlikely
event of 60-bit sum collisions.

SF-aware (dense-fixture) mode: the exactness twins for the set-similarity
operators are deliberately brute-force and super-linear — affordable at the
driver's sf0.01 gate, ruinous at sfgen10 (round 9: the PPJoin all-pairs
twin spilled >70 GB of DuckDB temp).  `--skip-superlinear` skips queries
whose registry spec declares `oracle_cost="superlinear"` (listed in the
summary so a skip can never read as coverage); `--oracle-timeout` interrupts
any ORACLE still running after N seconds and records it as capped, not
failed (the Spark side already completed — a capped row is an oracle-cost
statement, not a correctness statement); `--mem-limit` bounds DuckDB memory
so an unexpected super-linear oracle degrades to a timeout instead of
filling the disk.
"""

from __future__ import annotations

import math
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str):
    con = duckdb.connect()
    # DuckDB defaults to one thread per core; parallel gen-SF gate workers
    # each spinning 32 oracle threads oversubscribe the box 3-4x and starve
    # the Spark side.  GATE_DUCK_THREADS bounds each worker's share.
    if os.environ.get("GATE_DUCK_THREADS"):
        con.execute(f"SET threads={int(os.environ['GATE_DUCK_THREADS'])}")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # driver testdata is one file per table; Spark-generated sets
        # (tools/gen_sf.py, scale replicas) are directories of part files
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def complex_cols(df: pd.DataFrame) -> list[str]:
    """Columns whose cells are raw Python containers (list/dict/ndarray).

    The driver's canonicalizer sorts raw cells and hashes them — it
    cannot hash a list (round-8 red row `embedding_random_projection`:
    ``TypeError: unhashable type: 'list'``).  This gate used to silently
    stringify such cells, so the local canon was LAXER than the driver's
    and green-lit exactly the output the driver rejects.  Any oracled
    query returning one of these must serialize (array_join / sig_csv
    convention) instead."""
    import numpy as np

    bad = []
    for c in df.columns:
        col = df[c].dropna()
        if len(col) and isinstance(col.iloc[0], (list, tuple, dict, set, np.ndarray)):
            bad.append(c)
    return bad


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm_cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            # Full round-trip precision: the driver's hash sees every bit
            # of a double, so the local gate must too (a lax %.9g here let
            # the round-2 math_functions ulp mismatch through locally).
            return repr(v)
        return str(v)

    out = df.copy()
    for c in out.columns:
        out[c] = out[c].map(norm_cell)
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def _duck_resource_error(e: Exception) -> str | None:
    """DuckDB resource boundaries (memory_limit hit with the spill already
    at max_temp_directory_size, or the volume itself full) — cost
    statements about the ORACLE under its configured caps, not correctness
    verdicts on the query; gen-SF sweeps record them as capped.  DuckDB
    spells its OOM 'Out of Memory Error' (the Java-style 'OutOfMemoryError'
    poison signature never matches it)."""
    msg = str(e)
    for sig in (
        "Out of Memory Error",
        "max_temp_directory_size",
        "failed to offload data block",
        "could not allocate block",
        "No space left on device",
    ):
        if sig in msg:
            return sig
    return None


def run_oracle_capped(con, sql: str, timeout: float | None):
    """Run oracle SQL; interrupt after ``timeout`` seconds.

    Returns (df, None) on success, (None, 'timeout') when interrupted —
    duckdb raises InterruptException, which we distinguish from a real
    oracle error by checking whether the timer fired."""
    if not timeout:
        return con.execute(sql).df(), None
    fired = threading.Event()

    def _interrupt():
        fired.set()
        try:
            con.interrupt()
        except Exception:  # noqa: BLE001 — connection already closed/idle
            pass

    timer = threading.Timer(timeout, _interrupt)
    timer.start()
    try:
        return con.execute(sql).df(), None
    except Exception:
        if fired.is_set():
            return None, "timeout"
        raise
    finally:
        timer.cancel()


# Raw control characters (not backslash escapes: Spark SQL would decode
# '' while DuckDB would keep it as six literal chars).  Absent from
# the testdata's ASCII word corpus, so cells can't collide with them.
_D_NULL = "\x1e"  # cell-level NULL sentinel (record separator)
_D_SEP = "\x1f"  # column separator (unit separator)


def _exact_double_cell(c: str, pos_inf: str, neg_inf: str) -> str:
    """EXACT, engine-convention-free serialization of a DOUBLE cell.

    Emits ``<signed-mantissa>p<exponent>`` where the mantissa is the
    significand scaled to ±[2^52, 2^53) — an exactly-representable
    integer — and the exponent is the binary exponent: a SQL ``frexp``
    built from operations that are exact on ANY IEEE-754 engine
    (multiplication/division by powers of two, ABS, FLOOR, integer
    arithmetic).  LOG2 is only a ±1-accurate first guess; one
    normalization step each way makes the result libm-independent.

    Why not DECIMAL(38,6): that form is magnitude-fragile.  Above ~1e10
    one double ulp exceeds 1e-6, and the engines' double→decimal
    conventions differ at the now-sub-ulp 6th decimal (Spark rounds the
    SHORTEST-REPR digits via BigDecimal.valueOf(double); DuckDB rounds
    the EXACT binary expansion) — flagship_revenue_by_nation's
    bit-identical 3.7e10 revenue sums digested differently on 5/10 rows
    at sfgen100.  Mantissa/exponent form has no decimal rounding step at
    all: identical 64 bits → identical string at EVERY magnitude, and
    any single-ulp difference flips the digest (full double resolution,
    the same strength as the collect gate's repr() canon, with one
    documented normalization: -0.0 → '0', matching the registry's
    query-side signed-zero contracts).

    Special arms: NaN/±Inf literals; both zeros → '0'; subnormals scaled
    by 2^537 twice (staged so the intermediate stays finite) → exact
    integer ``s<k>`` form.
    """
    two = "CAST(2.0 AS DOUBLE)"
    k52 = "CAST(4503599627370496 AS DOUBLE)"  # 2^52
    e0 = f"LEAST(GREATEST(CAST(FLOOR(LOG2(ABS({c}))) AS BIGINT), -1021), 1023)"
    m0 = f"({c} / POWER({two}, CAST({e0} AS DOUBLE)))"
    m1 = f"(CASE WHEN ABS({m0}) >= 2.0 THEN {m0} / 2.0 ELSE {m0} END)"
    e1 = f"(CASE WHEN ABS({m0}) >= 2.0 THEN {e0} + 1 ELSE {e0} END)"
    m2 = f"(CASE WHEN ABS({m1}) < 1.0 THEN {m1} * 2.0 ELSE {m1} END)"
    e2 = f"(CASE WHEN ABS({m1}) < 1.0 THEN {e1} - 1 ELSE {e1} END)"
    sub = (
        f"CONCAT('s', CAST(CAST({c} * POWER({two}, CAST(537 AS DOUBLE)) "
        f"* POWER({two}, CAST(537 AS DOUBLE)) AS BIGINT) AS STRING))"
    )
    # The explicit NULL arm is load-bearing: DuckDB's CONCAT *skips* NULL
    # arguments (a NULL mantissa would serialize as 'p', not NULL), while
    # Spark's CONCAT propagates NULL — without this arm a nullable double
    # column (e.g. an as-of left join's carried value) digests differently
    # despite identical data.  NULL here flows to the outer coalesce() and
    # becomes the cell sentinel on both engines.
    return (
        f"CASE WHEN {c} IS NULL THEN NULL "
        f"WHEN isnan({c}) THEN 'NaN' "
        f"WHEN {c} = {pos_inf} THEN 'Inf' "
        f"WHEN {c} = {neg_inf} THEN '-Inf' "
        f"WHEN {c} = 0.0 THEN '0' "
        f"WHEN ABS({c}) < POWER({two}, CAST(-1022 AS DOUBLE)) THEN {sub} "
        f"ELSE CONCAT(CAST(CAST({m2} * {k52} AS BIGINT) AS STRING), 'p', "
        f"CAST({e2} AS STRING)) END"
    )


def _spark_digest_sql(df, view: str, force_double: set[str] | frozenset[str] = frozenset()) -> str:
    """Order-insensitive fingerprint SQL over a registered Spark temp view.

    Canonical per-cell serialization (probed bit-identical vs DuckDB):
    double/float -> exact mantissa/exponent string (`_exact_double_cell`,
    full 64-bit resolution; -0.0 -> '0', NaN/Inf guarded); decimal ->
    rescaled DECIMAL(38,6); timestamp -> epoch micros; date -> epoch days;
    boolean -> 0/1; everything else -> CAST AS STRING.  Row hash = first
    60 bits of md5; aggregate = exact DECIMAL(38,0) sum, returned as a
    string so HUGEINT/DECIMAL compare textually.

    ``force_double``: columns the ORACLE types as floating while Spark
    types them decimal/integer — serialized via the exact-double form on
    BOTH sides so the type-CLASS pairing stays aligned (the mirror of
    the oracle-side bridge below)."""
    cells = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = f"`{f.name}`"
        t = f.dataType.simpleString()
        if t in ("double", "float") or f.name in force_double:
            # FLOAT widens to DOUBLE exactly, so one serializer covers both
            e = _exact_double_cell(
                f"CAST({c} AS DOUBLE)", "double('inf')", "double('-inf')"
            )
        elif t.startswith("decimal"):
            # scale-0 decimals are integer sums — serialize like bigint ('42',
            # not '42.000000') so they match an integer-typed twin
            scale = int(t.rstrip(")").split(",")[1]) if "," in t else 0
            e = (
                f"CAST({c} AS STRING)"
                if scale == 0
                else f"CAST(CAST({c} AS DECIMAL(38,6)) AS STRING)"
            )
        elif t.startswith("timestamp"):  # timestamp + timestamp_ntz (UTC session)
            e = f"CAST(unix_micros(CAST({c} AS TIMESTAMP)) AS STRING)"
        elif t == "date":
            e = f"CAST(datediff({c}, DATE'1970-01-01') AS STRING)"
        elif t == "boolean":
            e = f"CAST(CAST({c} AS INT) AS STRING)"
        else:
            e = f"CAST({c} AS STRING)"
        cells.append(f"coalesce({e}, '{_D_NULL}')")
    row = f"concat_ws('{_D_SEP}', {', '.join(cells)})"
    return (
        "SELECT COUNT(*) AS n, coalesce(CAST(SUM(CAST(conv(substring(md5(rs), 1, 15), 16, 10) "
        "AS DECIMAL(38,0))) AS STRING), '0') AS hs "
        f"FROM (SELECT {row} AS rs FROM {view})"
    )


def _duck_digest_sql(con, sql: str, spark_floating: set[str] | frozenset[str] = frozenset()):
    """DuckDB twin of `_spark_digest_sql` over the oracle subquery.

    Returns (digest_sql, sorted_column_names, duck_floating_names); types
    come from DESCRIBE so the serialization rule per column mirrors the
    Spark side's by TYPE CLASS.  ``spark_floating`` carries the columns
    Spark types as double/float: when the oracle types one of those as
    DECIMAL or INTEGER (a bare `0.25` literal or an integer ratio parses
    as DECIMAL/BIGINT in DuckDB), the cell is bridged with
    CAST(... AS DOUBLE) + the exact-double form, so both engines
    serialize the same CLASS — the old DECIMAL(38,6) form aligned these
    pairs by construction, and dropping the bridge made `0.25` digest as
    '0.250000' against Spark's mantissa/exponent form (quantiles_histogram
    at sfgen100).  The returned duck_floating_names lets the caller apply
    the mirror bridge (oracle floating, Spark decimal) on the Spark side."""
    desc = con.execute(f"DESCRIBE SELECT * FROM ({sql}) AS q").fetchall()
    cells, names, duck_floating = [], [], []
    for row in sorted(desc, key=lambda r: r[0]):
        name, t = row[0], row[1].upper()
        names.append(name)
        c = f'"{name}"'
        if t in ("DOUBLE", "FLOAT", "REAL"):
            duck_floating.append(name)
        if t in ("DOUBLE", "FLOAT", "REAL") or name in spark_floating:
            e = _exact_double_cell(
                f"CAST({c} AS DOUBLE)", "'infinity'::DOUBLE", "'-infinity'::DOUBLE"
            )
        elif t == "HUGEINT":
            e = f"CAST({c} AS VARCHAR)"
        elif t.startswith("DECIMAL"):
            scale = int(t.rstrip(")").split(",")[1]) if "," in t else 0
            e = (
                f"CAST({c} AS VARCHAR)"
                if scale == 0
                else f"CAST(CAST({c} AS DECIMAL(38,6)) AS VARCHAR)"
            )
        elif t.startswith("TIMESTAMP"):
            e = f"CAST(epoch_us({c}) AS VARCHAR)"
        elif t == "DATE":
            e = f"CAST({c} - DATE '1970-01-01' AS VARCHAR)"
        elif t == "BOOLEAN":
            e = f"CAST(CAST({c} AS INT) AS VARCHAR)"
        else:
            e = f"CAST({c} AS VARCHAR)"
        cells.append(f"coalesce({e}, '{_D_NULL}')")
    row_expr = f"concat_ws('{_D_SEP}', {', '.join(cells)})"
    digest = (
        "SELECT COUNT(*) AS n, coalesce(CAST(SUM(CAST('0x' || substr(md5(rs), 1, 15) AS BIGINT)"
        "::HUGEINT) AS VARCHAR), '0') AS hs "
        f"FROM (SELECT {row_expr} AS rs FROM ({sql}) AS q)"
    )
    return digest, names, duck_floating


def _err(e: BaseException) -> str:
    """Flatten an exception message to ONE line (first 2000 chars).

    Py4J error strings carry the Java stack trace on FOLLOWING lines, so a
    reader scanning the log line by line sees only "An error occurred
    while calling oNN.collectToPython." and cannot tell a heap death from a
    digest defect.  Whitespace-collapsing puts the root cause
    (OutOfMemoryError / No space left on device / Connection refused) on
    the SAME ✗ line as the query name.
    """
    return " ".join(str(e).split())[:2000]


def _spark_complex_cols(df) -> list[str]:
    """Schema-level complex-column check (digest mode never collects)."""
    return [
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString().startswith(("array", "map", "struct"))
    ]


def _run_spark_capped(spark, fn, timeout: float | None):
    """Run a thunk of Spark actions; cancel its job group after ``timeout``.

    Spark has no statement timeout — the portable cap is to tag the work
    with a job group from this thread and cancel the group from a timer.
    Returns (result, None) or (None, 'timeout').  A query whose Spark side
    is capped is reported like an oracle cap: a cost statement, not a
    correctness statement (nothing completed to compare).

    The cancel must REPEAT, not fire once: ``cancelJobGroup`` kills only
    the jobs active at that instant, and an iterative construction
    (pagerank: a driver-side loop launching one job per iteration) is
    between jobs for much of its wall-clock.  A one-shot timer that fires
    in such a gap cancels nothing ("Failed to cancel job group … Cannot
    find active jobs") and the gate then blocks UNBOUNDED on fn() — the
    round-12 gen-SF sweeps sat >15 min past the cap on exactly this.
    After the deadline the canceller re-cancels every few seconds until
    fn() returns, so the next job the loop launches dies promptly."""
    if not timeout:
        return fn(), None
    group = f"gate-cap-{time.time_ns()}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "check_correctness spark cap", interruptOnCancel=True)
    fired = threading.Event()
    done = threading.Event()

    def _canceller():
        if done.wait(timeout):
            return
        fired.set()
        while not done.is_set():
            try:
                sc.cancelJobGroup(group)
            except Exception:  # noqa: BLE001 — context already stopped
                return
            done.wait(5.0)

    canceller = threading.Thread(target=_canceller, daemon=True)
    canceller.start()
    try:
        return fn(), None
    except Exception:
        if fired.is_set():
            return None, "timeout"
        raise
    finally:
        done.set()
        sc.setJobGroup(None, None)


def _check_digest(spark, con, name, spec, sf_dir, oracle_timeout, t0, spark_timeout=None) -> str:
    """Digest-mode check for one query.  Returns 'pass' | 'rows_only' |
    'capped' | 'spark_capped' | a failure description.  Prints its own line."""
    try:
        # Construction runs INSIDE the cap: eager queries (FPGrowth fit,
        # k-means, rank selection, sizing passes) launch their jobs at
        # fn() time, and an uncapped construction hangs the whole sweep
        # on one degenerate fixture (observed: MLlib FPGrowth at sfgen100).
        sdf, cap = _run_spark_capped(
            spark, lambda: spec.fn(spark, sf_dir), spark_timeout
        )
        if cap:
            print(f"– {name}: SPARK construction capped after {spark_timeout:.0f}s")
            return "spark_capped"
    except Exception as e:  # noqa: BLE001
        print(f"✗ {name}: SPARK ERROR {_err(e)}")
        return f"SPARK ERROR: {e}"
    if spec.sql is None:
        n, cap = _run_spark_capped(spark, sdf.count, spark_timeout)
        if cap:
            print(f"– {name}: SPARK side capped after {spark_timeout:.0f}s (rows-only)")
            return "spark_capped"
        print(f"• {name}: rows-only, {n} rows ({time.time()-t0:.1f}s)")
        return "rows_only"
    bad = _spark_complex_cols(sdf)
    if bad:
        print(f"✗ {name}: raw complex output columns {bad}")
        return f"complex output columns {bad}"
    view = "digest_gate_q"
    sdf.createOrReplaceTempView(view)
    # Build the oracle digest FIRST (a cheap DESCRIBE, no execution): its
    # column types decide the cross-class bridge — any column either
    # engine types as floating serializes via the exact-double form on
    # BOTH sides (Spark DOUBLE vs a DuckDB DECIMAL `0.25` literal must
    # land in the same serialization class).
    spark_floating = {
        f.name
        for f in sdf.schema.fields
        if f.dataType.simpleString() in ("double", "float")
    }
    try:
        dsql, duck_cols, duck_floating = _duck_digest_sql(
            con, spec.sql, spark_floating
        )
    except Exception as e:  # noqa: BLE001
        print(f"✗ {name}: ORACLE ERROR {_err(e)}")
        return f"ORACLE ERROR: {e}"
    force_double = set(duck_floating) - spark_floating
    try:
        row, cap = _run_spark_capped(
            spark,
            lambda: spark.sql(_spark_digest_sql(sdf, view, force_double)).collect()[0],
            spark_timeout,
        )
    except Exception as e:  # noqa: BLE001
        print(f"✗ {name}: SPARK DIGEST ERROR {_err(e)}")
        return f"SPARK DIGEST ERROR: {e}"
    if cap:
        print(f"– {name}: SPARK side capped after {spark_timeout:.0f}s")
        return "spark_capped"
    n_s, hs_s = row
    try:
        odf, cap_reason = run_oracle_capped(con, dsql, oracle_timeout)
    except Exception as e:  # noqa: BLE001
        res = _duck_resource_error(e)
        if res:
            print(
                f"– {name}: oracle RESOURCE-CAPPED ({res}; spark side OK, "
                f"{n_s} rows in {time.time()-t0:.1f}s)"
            )
            return "capped"
        print(f"✗ {name}: ORACLE ERROR {_err(e)}")
        return f"ORACLE ERROR: {e}"
    if cap_reason:
        print(
            f"– {name}: oracle CAPPED after {oracle_timeout:.0f}s "
            f"(spark side OK, {n_s} rows in {time.time()-t0:.1f}s)"
        )
        return "capped"
    n_d, hs_d = odf.iloc[0]["n"], odf.iloc[0]["hs"]
    sc, dc = sorted(sdf.columns), sorted(duck_cols)
    if sc != dc:
        print(f"✗ {name}: columns {sc} != {dc}")
        return f"columns {sc} != {dc}"
    if int(n_s) != int(n_d):
        print(f"✗ {name}: rows {n_s} != {n_d}")
        return f"rows {n_s} != {n_d}"
    if str(hs_s) != str(hs_d):
        print(f"✗ {name}: digest {hs_s} != {hs_d} ({n_s} rows)")
        return f"digest mismatch over {n_s} rows"
    print(f"✓ {name} (digest, {n_s} rows, {time.time()-t0:.1f}s)")
    return "pass"


def main() -> int:
    args = sys.argv[1:]
    skip_superlinear = "--skip-superlinear" in args
    digest_mode = "--digest" in args
    args = [a for a in args if a not in ("--skip-superlinear", "--digest")]
    oracle_timeout = None
    if "--oracle-timeout" in args:
        i = args.index("--oracle-timeout")
        oracle_timeout = float(args[i + 1])
        del args[i : i + 2]
    # Per-query raises of the oracle budget (name=secs,name=secs).  Lets a
    # SINGLE sweep run convert known-affordable capped oracles (e.g.
    # ml_fpgrowth at gen100) without paying the raised budget for every
    # genuinely expensive oracle — the overrides ride the recorded
    # gate_args, so the artifact stays one-command single-provenance.
    oracle_timeout_overrides: dict[str, float] = {}
    if "--oracle-timeout-overrides" in args:
        i = args.index("--oracle-timeout-overrides")
        for pair in args[i + 1].split(","):
            k, _, v = pair.partition("=")
            oracle_timeout_overrides[k.strip()] = float(v)
        del args[i : i + 2]
    spark_timeout = None
    if "--spark-timeout" in args:
        i = args.index("--spark-timeout")
        spark_timeout = float(args[i + 1])
        del args[i : i + 2]
    mem_limit = None
    if "--mem-limit" in args:
        i = args.index("--mem-limit")
        mem_limit = args[i + 1]
        del args[i : i + 2]
    exact_names: set[str] | None = None
    if "--names-file" in args:
        i = args.index("--names-file")
        exact_names = set(open(args[i + 1]).read().split())
        del args[i : i + 2]
    exclude_names: set[str] = set()
    if "--exclude" in args:
        i = args.index("--exclude")
        exclude_names = set(args[i + 1].split(","))
        del args[i : i + 2]
    json_out = None
    if "--json-out" in args:
        i = args.index("--json-out")
        json_out = args[i + 1]
        del args[i : i + 2]

    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    name_filter = args[1:]

    from compss_python_spark.plans import REGISTRY
    from compss_python_spark.session import get_spark

    spark = get_spark("check_correctness")
    con = duck_connection(sf_dir)
    if mem_limit:
        con.execute(f"SET memory_limit='{mem_limit}'")
        # bound the spill too: an unexpectedly super-linear oracle under a
        # memory limit degrades to DISK spill — at gen SFs one 8-iteration
        # graph CTE filled the remaining ~50 GB of the volume and took an
        # unrelated worker down with ENOSPC.  A bounded temp dir turns that
        # into a per-query resource error the loop records and survives.
        con.execute(
            "SET max_temp_directory_size="
            f"'{os.environ.get('GATE_TEMP_CAP', '20GB')}'"
        )
        # …and a PER-PROCESS temp dir: DuckDB's default is cwd/.tmp with
        # fixed file names (duckdb_temp_storage-N.tmp), so two gate
        # processes sharing a cwd overwrite each other's spill — one
        # parallel gen-SF worker died on a temp file another had truncated.
        import tempfile

        con.execute(
            f"SET temp_directory='{tempfile.mkdtemp(prefix='duckgate_')}'"
        )

    failures, rows_only, passed, skipped, capped = [], [], [], [], []
    excluded = []
    for name, spec in REGISTRY.items():
        if exact_names is not None and name not in exact_names:
            continue
        if name_filter and not any(f in name for f in name_filter):
            continue
        if name in exclude_names:
            excluded.append(name)
            print(f"– {name}: EXCLUDED by flag")
            continue
        if skip_superlinear and spec.oracle_cost == "superlinear":
            skipped.append(name)
            print(f"– {name}: SKIPPED (declared super-linear oracle)")
            continue
        t0 = time.time()
        q_timeout = oracle_timeout_overrides.get(name, oracle_timeout)
        if digest_mode:
            status = _check_digest(
                spark, con, name, spec, sf_dir, q_timeout, t0, spark_timeout
            )
            if status == "pass":
                passed.append(name)
            elif status == "rows_only":
                rows_only.append(name)
            elif status in ("capped", "spark_capped"):
                capped.append(name)
            else:
                failures.append((name, status))
            continue
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"✗ {name}: SPARK ERROR {_err(e)}")
            continue
        if spec.sql is None:
            rows_only.append(name)
            print(f"• {name}: rows-only, {len(sdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            odf, cap_reason = run_oracle_capped(con, spec.sql, q_timeout)
        except Exception as e:  # noqa: BLE001
            res = _duck_resource_error(e)
            if res:
                capped.append(name)
                print(f"– {name}: oracle RESOURCE-CAPPED ({res})")
                continue
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"✗ {name}: ORACLE ERROR {_err(e)}")
            continue
        if cap_reason:
            capped.append(name)
            print(
                f"– {name}: oracle CAPPED after {q_timeout:.0f}s "
                f"(spark side OK, {len(sdf)} rows in {time.time()-t0:.1f}s)"
            )
            continue
        bad = complex_cols(sdf)
        if bad:
            failures.append((name, f"complex output columns {bad}"))
            print(
                f"✗ {name}: raw complex output columns {bad} — the driver "
                "canon cannot hash list/map cells; serialize with array_join"
            )
            continue
        sc, oc = sorted(sdf.columns), sorted(odf.columns)
        if sc != oc:
            failures.append((name, f"columns {sc} != {oc}"))
            print(f"✗ {name}: columns {sc} != {oc}")
            continue
        if len(sdf) != len(odf):
            failures.append((name, f"rows {len(sdf)} != {len(odf)}"))
            print(f"✗ {name}: rows {len(sdf)} != {len(odf)}")
            continue
        a, b = canon(sdf), canon(odf)
        if len(a) == 0 and len(b) == 0:
            passed.append(name)
            print(f"✓ {name} (0 rows, {time.time()-t0:.1f}s)")
            continue
        if not a.equals(b):
            diff_mask = (a != b).any(axis=1)
            sample = pd.concat(
                [a[diff_mask].head(3).add_suffix("_spark"), b[diff_mask].head(3).add_suffix("_duck")],
                axis=1,
            )
            failures.append((name, f"values differ on {int(diff_mask.sum())} rows"))
            print(f"✗ {name}: values differ on {int(diff_mask.sum())}/{len(a)} rows")
            print(sample.to_string()[:2000])
            continue
        passed.append(name)
        print(f"✓ {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")

    extra = ""
    if skipped or capped:
        extra = (
            f", {len(skipped)} skipped (super-linear oracle: {sorted(skipped)})"
            f", {len(capped)} oracle-capped ({sorted(capped)})"
        )
    print(
        f"\n{len(passed)} matched, {len(rows_only)} rows-only, {len(failures)} failed"
        f"{extra} (of {len(REGISTRY)} registered)"
    )
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "mode": "digest" if digest_mode else "collect",
                    "oracle_timeout": oracle_timeout,
                    "oracle_timeout_overrides": oracle_timeout_overrides,
                    "spark_timeout": spark_timeout,
                    "registered": len(REGISTRY),
                    "matched": sorted(passed),
                    "rows_only": sorted(rows_only),
                    "capped": sorted(capped),
                    "skipped_superlinear": sorted(skipped),
                    "excluded": sorted(excluded),
                    "failures": {n: msg for n, msg in failures},
                },
                fh,
                indent=1,
            )
        print(f"# wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

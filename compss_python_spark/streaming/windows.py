"""Structured Streaming extension surface (SURVEY.md §2.10).

The reference has NO streaming (COMPSs is batch-only); this module is the
engine extension the driver's `events` table motivates.  The same window
expressions run identically in batch (queries_agg.tumbling_window_agg /
session_window_agg use them through F.window/F.session_window), so batch
oracle checks validate the streaming semantics; tests additionally replay
the events table through a real stream (parquet source → memory sink) and
assert stream/batch equivalence.

At scale: watermarks bound state (late data beyond the horizon is dropped);
`dropDuplicatesWithinWatermark` gives bounded-state streaming dedup;
`foreachBatch` is the exactly-once sink adapter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from compss_python_spark.session import scoped_conf


def tumbling_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window count/sum with late-data watermark.

    Works on both batch and streaming DataFrames (watermark is a no-op in
    batch).
    """
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, window).alias("w"), *group_cols)
        .agg(F.count("*").alias("n"), F.round(F.sum(value_col), 2).alias("total"))
        .select(F.col("w.start").alias("w_start"), *group_cols, "n", "total")
    )


def sliding_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, window, slide).alias("w"), *group_cols)
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), *group_cols, "n")
    )


def session_window_stats(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    key_col: str = "user_id",
) -> DataFrame:
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window(ts_col, gap).alias("sw"), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            key_col,
            "n_events",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Bounded-state streaming dedup — state is purged past the watermark."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    within: str = "10 minutes",
    watermark: str = "20 minutes",
    right_suffix: str = "_r",
) -> DataFrame:
    """Stream–stream inner join on ``key`` with a time-interval condition:
    right.ts in [left.ts, left.ts + within].

    Both sides carry watermarks, so join state is bounded: a buffered left
    row can be dropped once the right watermark passes left.ts + within.
    Works identically on batch DataFrames (watermarks are no-ops), which is
    how the oracle validates it.
    """
    l = (left.withWatermark(ts_col, watermark) if left.isStreaming else left).alias("l")
    r = (right.withWatermark(ts_col, watermark) if right.isStreaming else right).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {within}"))
    )
    keep_l = [c for c in left.columns]
    keep_r = [c for c in right.columns if c != key]
    return l.join(r, cond, "inner").select(
        *[F.col(f"l.{c}").alias(c) for c in keep_l],
        *[F.col(f"r.{c}").alias(f"{c}{right_suffix}") for c in keep_r],
    )


def replay_as_stream(
    spark,
    parquet_path: str,
    schema,
    query_builder,
    query_name: str = "stream_out",
    output_mode: str = "complete",
    max_files_per_trigger: int | None = None,
    sink: str = "memory",
    sink_dir: str | None = None,
) -> DataFrame:
    """Test harness: drive a parquet table through a real streaming query
    into a memory sink, synchronously (processAllAvailable), and return the
    materialized result.  ``max_files_per_trigger`` forces multiple
    micro-batches (exercises cross-batch state).

    State lives in the ROCKSDB state store for the query's duration: the
    default (HDFSBacked) provider keeps every key's state AND retained
    versions on the JVM heap, which OOMs a 24 g local driver at 15 M
    session keys (measured, sfgen1000 r11 sweep — the JVM died, not the
    query); RocksDB spills state to local disk, which is also the
    production-cluster recommendation this harness should mirror.  The
    conf is scoped (``session.scoped_conf``) so batch queries in the
    same session are untouched; results are state-store-independent
    (re-proven at sf0.01 across all streaming rows when this landed).

    ``sink="parquet"`` (append-mode only — the file sink's contract)
    writes the stream to ``sink_dir`` and returns a READ of that path
    instead of a memory-sink table: the memory sink is a driver collect,
    which at sfgen1000 blew spark.driver.maxResultSize on a 300 M-row
    deduped stream (measured, r11 sweep).  Row-preserving replays (dedup,
    interval join, per-session appends) use the file sink — exactly what
    an unbounded production topology does; small window aggregates keep
    the memory sink."""
    _PROVIDER = "spark.sql.streaming.stateStore.providerClass"
    _ROCKS = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    with scoped_conf(spark, {_PROVIDER: _ROCKS}):
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(parquet_path)
        out = query_builder(stream)
        writer = out.writeStream.outputMode(output_mode)
        if sink == "parquet":
            if output_mode != "append":
                raise ValueError("parquet sink: append mode only")
            if not sink_dir:
                raise ValueError("parquet sink needs sink_dir")
            import shutil

            shutil.rmtree(sink_dir, ignore_errors=True)
            shutil.rmtree(sink_dir + "_ckpt", ignore_errors=True)
            writer = writer.format("parquet").option("path", sink_dir).option(
                "checkpointLocation", sink_dir + "_ckpt"
            )
        else:
            writer = writer.format("memory").queryName(query_name)
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    if sink == "parquet":
        return spark.read.schema(out.schema).parquet(sink_dir)
    return spark.table(query_name)


def stream_static_enrich(stream: DataFrame, static_dim: DataFrame, on: str) -> DataFrame:
    """Stream–static enrichment join: every micro-batch joins against the
    (broadcast) static dimension — no state, no watermark needed; the
    planner re-resolves the static side per batch, so a refreshed dim
    table is picked up on the next trigger.  The standard shape for
    attaching user/document metadata to an event stream at any scale:
    the stream never shuffles when the dim broadcasts."""
    return stream.join(F.broadcast(static_dim), on, "left")


def sessionize(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: float = 1800.0,
    tiebreak: str | None = None,
    out_col: str = "session_no",
) -> DataFrame:
    """Assign per-key session numbers: a new session starts when the gap to
    the previous event exceeds ``gap_seconds`` (the batch twin of
    ``session_window`` aggregation, but yielding a session ID per EVENT —
    the shape joins/attribution need).  lag → boundary flag → running sum,
    all in ONE window over (key, ts): a single hash exchange, no
    self-join.  ``tiebreak`` orders equal timestamps deterministically."""
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    t = F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(1e6)
    prev = F.lag(F.col(ts_col)).over(w)
    prev_t = F.unix_micros(prev.cast("timestamp")) / F.lit(1e6)
    boundary = F.when(prev.isNull() | ((t - prev_t) > gap_seconds), 1).otherwise(0)
    return events.withColumn(
        out_col,
        F.sum(boundary).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )

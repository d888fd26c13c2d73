"""Sources and sinks.

Reference surface [ref: ddf_library/bases/data_reader.py,
ddf_library/bases/data_saver.py]: csv + json (local FS / HDFS via the
hdfspycompss connector), ``parallelize`` (local pandas → distributed)
[ref: ddf_library/functions/etl/parallelize.py], and per-fragment save.
The reference has no Parquet/ORC support; we add Parquet as the primary
columnar format (driver testdata is parquet) — at 100 TB, columnar scan with
predicate pushdown + column pruning is non-negotiable.

Scale notes:
- ``spark.read.parquet`` gives partition pruning, predicate pushdown, and
  column pruning for free — verified via ``.explain`` (PushedFilters /
  ReadSchema) in tests/test_plans.py.
- CSV/JSON readers accept an explicit schema: at scale, ``inferSchema`` is a
  full extra pass over the data — callers should pass one.
- Writers default to snappy parquet; ``partition_by`` maps to hive-style
  directory partitioning which enables partition pruning downstream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    sep: str = ",",
    schema=None,
    infer_schema: bool = False,
) -> DataFrame:
    """CSV scan [ref: ddf_library/bases/data_reader.py read.csv].

    The reference signature is (path, num_of_parts, header, sep, dtype...);
    partition count is Spark's splittable-file planning instead of
    num_of_parts, and dtype is a proper schema.
    """
    reader = spark.read.option("header", str(header).lower()).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines scan [ref: ddf_library/bases/data_reader.py read.json]."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None) -> None:
    """ORC sink — the second columnar interchange format Spark supports
    natively (predicate pushdown + column pruning apply as with parquet)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files (≥1).  The small-files
    problem is THE operational failure mode of long-lived ingestion at
    scale (every file costs a task + footer read + namenode entry); a
    periodic compaction pass keeps scan parallelism matched to data size.
    Returns the output file count.  Uses coalesce (no shuffle) when
    shrinking file count; repartition only when growing it.

    ``dst_path`` must differ from ``src_path``: the write is
    mode('overwrite') while the read of ``src_path`` is lazy, so an
    in-place call would delete the source mid-read and lose the data.
    Compact-in-place = write to a temp sibling, then rename."""
    import math
    import os.path

    if os.path.normpath(src_path.rstrip("/")) == os.path.normpath(dst_path.rstrip("/")):
        raise ValueError(
            "compact_parquet: dst_path must differ from src_path — the "
            "overwrite-write would delete the source while it is still "
            "being (lazily) read.  Write to a temp directory and rename "
            "for in-place compaction."
        )
    df = spark.read.parquet(src_path)
    # Size via the Hadoop FileSystem API so hdfs:// and s3a:// paths work —
    # a driver-local glob would see 0 bytes there and silently coalesce
    # everything into one task.  df.inputFiles() is the scan's own listing.
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = root.getFileSystem(hconf)
    # ONE round-trip for the directory size (a per-file loop would issue
    # thousands of sequential py4j + FS calls in exactly the many-small-
    # files scenario this function exists to fix)
    total = fs.getContentSummary(root).getLength()
    n_files = max(1, math.ceil(total / target_file_bytes))
    cur = df.rdd.getNumPartitions()
    out = df.coalesce(n_files) if n_files < cur else df.repartition(n_files)
    out.write.mode("overwrite").parquet(dst_path)
    return n_files


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """CSV sink [ref: ddf_library/functions/etl/save_data.py] — the
    reference writes one file per fragment; Spark writes one per partition."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols,
    num_buckets: int = 32,
    sort_cols=None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist as a BUCKETED managed table (hive-style bucketing metadata).

    Bucketing is the co-located-join primitive at 100 TB: two tables
    bucketed on the same keys with the same bucket count join WITHOUT a
    shuffle — each task zips bucket i with bucket i (SortMergeJoin with no
    Exchange; verified in tests/test_plans.py).  Same benefit for
    aggregations keyed on the bucket columns.  Spark only reads bucketing
    metadata through the catalog, so this writes `saveAsTable` (parquet
    format); plain `.parquet(path)` cannot carry bucket info.
    """
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = (
        df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    )
    sort_cols = [sort_cols] if isinstance(sort_cols, str) else sort_cols
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text source: one row per line, column ``value``.
    The raw-corpus ingestion format (one document/record per line)."""
    return spark.read.text(path)


def write_text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write a single STRING column as line-oriented text.  Raises if the
    frame has more than one column (text files carry no schema — callers
    concat/serialize explicitly, keeping the escaping contract visible)."""
    if len(df.columns) != 1:
        raise ValueError(
            f"write_text: expected exactly 1 string column, got {df.columns}"
        )
    df.write.mode(mode).text(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Spark's built-in ``binaryFile`` source: one row per file with
    (path, modificationTime, length, content) — the ingestion format for
    raw multimodal corpora (images / audio / arbitrary blobs) before any
    decode step.  ``glob`` maps to ``pathGlobFilter`` (pushed into the
    file LISTING, so non-matching files are never opened); ``recursive``
    walks nested date/shard directories.  At 100 TB the source
    parallelizes over files; pack small objects into archives or parquet
    binary columns upstream to avoid small-file listing overhead."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


def write_binary_files(
    df: DataFrame,
    path: str,
    id_col: str = "media_id",
    payload_col: str = "payload",
    suffix: str = ".bin",
    mode: str = "overwrite",
) -> DataFrame:
    """One file per row: ``<path>/<id><suffix>`` gets the row's binary
    payload — the inverse of :func:`read_binary_files`, for exporting
    blobs to object storage.  Executor-side writes (Arrow-batched, no
    driver collect); ``path`` must be storage every executor can reach
    (shared FS / fuse mount) — true for local[*] and for clusters writing
    to a mounted bucket.  EAGER like the other write_* sinks: the export
    job runs inside this call (so overwrite never destroys the previous
    export without replacing it in the same call — clearing the directory
    at plan time against a write that might never be materialized would
    be silent data loss), and the returned manifest (id, file, n_bytes)
    is a checkpointed leaf.  The manifest id column keeps the INPUT id
    type (a string media id must not be coerced to long).

    Overwrite is ATOMIC-ON-SUCCESS: the export job writes into a temp
    sibling directory and the old export is replaced by a rename only
    after the job finishes — a mid-job failure leaves the previous export
    untouched (rmtree-before-job would destroy it and leave a partial new
    tree).  Ids whose string form contains a path separator or is a
    relative-path token are rejected executor-side (they would escape the
    target directory)."""
    import shutil

    id_type = dict(df.dtypes)[id_col]
    atomic = mode == "overwrite"
    write_dir = f"{path.rstrip(os.sep)}.__tmp_export__" if atomic else path
    if atomic and os.path.isdir(write_dir):
        shutil.rmtree(write_dir)  # stale temp from a crashed prior call
    os.makedirs(write_dir, exist_ok=True)
    final_dir = path

    def dump(batches):
        import pandas as pd

        for pdf in batches:
            files, sizes = [], []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                name = f"{mid}{suffix}"
                if (
                    os.sep in str(mid)
                    or (os.altsep and os.altsep in str(mid))
                    or str(mid) in ("", ".", "..")
                ):
                    raise ValueError(
                        f"write_binary_files: id {mid!r} contains a path "
                        "separator or is a relative-path token — it would "
                        "write outside the target directory"
                    )
                data = bytes(p)
                with open(os.path.join(write_dir, name), "wb") as f:
                    f.write(data)
                # manifest records the FINAL location, not the temp dir
                files.append(os.path.join(final_dir, name))
                sizes.append(len(data))
            yield pd.DataFrame(
                {id_col: pdf[id_col], "file": files, "n_bytes": sizes}
            )

    manifest = df.select(id_col, payload_col).mapInPandas(
        dump, f"{id_col} {id_type}, file string, n_bytes long"
    )
    try:
        manifest = manifest.localCheckpoint(eager=True)  # runs the export job
    except Exception:
        if atomic:
            shutil.rmtree(write_dir, ignore_errors=True)
        raise
    if atomic:
        if os.path.isdir(final_dir):
            shutil.rmtree(final_dir)
        os.rename(write_dir, final_dir)
    return manifest

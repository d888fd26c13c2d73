"""Fluent DDF facade — reference-parity public API.

Mirrors the method surface of the reference's ``DDF`` class
[ref: ddf_library/ddf.py] and ``COMPSsContext`` [ref:
ddf_library/context.py], delegating every operator to the plain-function
layer in :mod:`compss_python_spark.operators`.  The facade is a thin wrapper
over a ``pyspark.sql.DataFrame`` — laziness, lineage, stage fusion and
memoization all come from Catalyst (SURVEY.md §3), so there is no task
catalog here.

Users of the reference can switch by replacing::

    from ddf_library.context import COMPSsContext
    cc = COMPSsContext()
    ddf = cc.read.csv(path).select(...).filter(...)

with::

    from compss_python_spark import Context
    cc = Context()                      # wraps a SparkSession
    ddf = cc.read.csv(path).select(...).filter(...)
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from compss_python_spark.operators import aggregation, etl, joins, setops
from compss_python_spark.operators import sort as sort_ops
from compss_python_spark.sources import io as io_mod


class DDF:
    """Distributed DataFrame facade [ref: ddf_library/ddf.py]."""

    def __init__(self, df: DataFrame):
        self.df = df

    # -- §2.2 projections / filters / row ops --------------------------------
    def select(self, cols: Sequence[str]) -> "DDF":
        return DDF(etl.select(self.df, cols))

    def select_expression(self, *exprs: str) -> "DDF":
        return DDF(etl.select_expression(self.df, *exprs))

    def filter(self, expr) -> "DDF":
        return DDF(etl.filter_rows(self.df, expr))

    def map(self, expr, alias: str, return_type: str = "string") -> "DDF":
        """[ref: ddf_library/functions/etl/map.py] — add/overwrite a column.

        Fast path: a SQL expression string or Column (JVM codegen).  Parity
        path: a Python callable, applied per row exactly like the
        reference's ``ddf.map(lambda row: ..., alias)`` — executed as an
        Arrow-batched pandas UDF (``return_type`` required for callables;
        the reference infers it from pandas, Spark cannot).
        """
        if callable(expr):  # Column/str are not callable — Python lambda path
            fn = expr

            def batched(pdf):
                return pdf.apply(fn, axis=1)

            return DDF(etl.map_pandas(self.df, alias, batched, return_type))
        return DDF(etl.map_column(self.df, alias, expr))

    def drop(self, cols: Sequence[str]) -> "DDF":
        return DDF(etl.drop_columns(self.df, cols))

    def with_column_renamed(self, old: str, new: str) -> "DDF":
        return DDF(etl.rename(self.df, {old: new}))

    def cast(self, cols, types) -> "DDF":
        return DDF(etl.cast(self.df, cols, types))

    def replace(self, to_replace: Mapping, subset=None) -> "DDF":
        return DDF(etl.replace_values(self.df, to_replace, subset))

    def clean_missing(self, subset=None, mode: str = "REMOVE_ROW", value=None) -> "DDF":
        if mode == "REMOVE_ROW":
            return DDF(etl.clean_missing_remove_row(self.df, subset))
        if mode == "REMOVE_COLUMN":
            return DDF(etl.clean_missing_remove_column(self.df, subset))
        if mode == "VALUE":
            return DDF(etl.clean_missing_fill_value(self.df, value, subset))
        if mode in ("MEAN", "MEDIAN", "MODE"):
            return DDF(etl.clean_missing_fill_stat(self.df, subset, mode.lower()))
        raise ValueError(f"unknown clean_missing mode {mode!r}")

    def add_column(self, other: "DDF", order_by1, order_by2, suffixes=("_l", "_r")) -> "DDF":
        return DDF(etl.add_column(self.df, other.df, order_by1, order_by2, suffixes))

    # -- §2.3 joins ----------------------------------------------------------
    def join(self, other: "DDF", key1, key2=None, mode: str = "inner",
             suffixes=("_l", "_r"), broadcast_right: bool = False) -> "DDF":
        return DDF(joins.join(self.df, other.df, key1, key2, mode, suffixes, broadcast_right))

    def cross_join(self, other: "DDF") -> "DDF":
        return DDF(joins.cross_join(self.df, other.df))

    def asof_join(self, other: "DDF", on: str = "ts", by=None,
                  value_cols=None, direction: str = "backward",
                  tolerance: float | None = None) -> "DDF":
        """Nearest-prior (or nearest-following) match per key — one shuffle,
        no range self-join; see operators/joins.asof_join."""
        return DDF(joins.asof_join(self.df, other.df, on, by, value_cols,
                                   direction=direction, tolerance=tolerance))

    def range_join(self, other: "DDF", point_col: str, start_col: str,
                   end_col: str, bucket_width: float, how: str = "inner") -> "DDF":
        """Point-in-interval join via bucket explode + equi-join."""
        return DDF(joins.range_join(self.df, other.df, point_col, start_col,
                                    end_col, bucket_width, how))

    def salted_join(self, other: "DDF", on, how: str = "inner",
                    salt_buckets: int = 16) -> "DDF":
        """Skew-resistant equi-join: hot keys spread over salt_buckets reducers."""
        return DDF(joins.salted_join(self.df, other.df, on, how, salt_buckets))

    def semi_join(self, other: "DDF", on) -> "DDF":
        return DDF(joins.semi_join(self.df, other.df, on))

    def anti_join(self, other: "DDF", on) -> "DDF":
        return DDF(joins.anti_join(self.df, other.df, on))

    def unpivot(self, ids: Sequence[str], values: Sequence[str],
                var_name: str = "metric", value_name: str = "value") -> "DDF":
        """Wide→long melt (inverse of pivot) — a pure Expand, no shuffle."""
        return DDF(self.df.unpivot(list(ids), list(values), var_name, value_name))

    # -- §2.4 aggregation ----------------------------------------------------
    def group_by(self, cols: Sequence[str]) -> "GroupedDDF":
        return GroupedDDF(self, list(cols))

    def count_rows(self) -> int:
        return aggregation.count_rows(self.df)

    def distinct(self, subset=None, keep_all_columns: bool = False) -> "DDF":
        return DDF(aggregation.distinct(self.df, subset, keep_all_columns))

    def drop_duplicates(self, subset=None) -> "DDF":
        return DDF(aggregation.distinct(self.df, subset, keep_all_columns=True))

    # -- §2.5 sort / take / sample / partitioning ----------------------------
    def sort(self, cols: Sequence[str], ascending=True) -> "DDF":
        return DDF(sort_ops.sort(self.df, cols, ascending))

    def take(self, n: int, order_by=None) -> "DDF":
        return DDF(etl.take(self.df, n, order_by))

    def sample(self, n=None, fraction=None, seed: int = 42) -> "DDF":
        return DDF(etl.sample(self.df, n, fraction, seed))

    def split(self, percentage: float, seed: int = 42) -> tuple["DDF", "DDF"]:
        a, b = etl.split(self.df, percentage, seed)
        return DDF(a), DDF(b)

    def repartition(self, nfrag: int) -> "DDF":
        return DDF(etl.repartition(self.df, nfrag))

    def hash_partition(self, cols, nfrag=None) -> "DDF":
        return DDF(etl.hash_partition(self.df, cols, nfrag))

    def range_partition(self, cols, nfrag=None) -> "DDF":
        return DDF(etl.range_partition(self.df, cols, nfrag))

    def balancer(self) -> "DDF":
        return DDF(etl.balancer(self.df))

    def num_of_partitions(self) -> int:
        return self.df.rdd.getNumPartitions()

    # -- §2.6 set ops --------------------------------------------------------
    def union(self, other: "DDF") -> "DDF":
        return DDF(setops.union(self.df, other.df))

    def union_by_name(self, other: "DDF") -> "DDF":
        return DDF(setops.union_by_name(self.df, other.df))

    def intersect(self, other: "DDF") -> "DDF":
        return DDF(setops.intersect(self.df, other.df))

    def intersect_all(self, other: "DDF") -> "DDF":
        return DDF(setops.intersect_all(self.df, other.df))

    def subtract(self, other: "DDF") -> "DDF":
        return DDF(setops.subtract(self.df, other.df))

    def except_all(self, other: "DDF") -> "DDF":
        return DDF(setops.except_all(self.df, other.df))

    # -- §2.3/§2.9 geo -------------------------------------------------------
    def geo_within(
        self,
        shp_ddf: "DDF",
        lat_col: str,
        lon_col: str,
        polygon_col: str = "points",
        attributes: Sequence[str] | None = None,
    ) -> "DDF":
        """[ref: ddf_library/functions/geo.py geo_within]"""
        from compss_python_spark.geo import geo_within as _geo_within

        return DDF(
            _geo_within(
                self.df,
                shp_ddf.df,
                lat_col=lat_col,
                lon_col=lon_col,
                polygon_col=polygon_col,
                attributes=list(attributes) if attributes else None,
            )
        )

    # -- §2.7 statistics (scalar results) ------------------------------------
    def correlation(self, col1: str, col2: str) -> float:
        from compss_python_spark.functions import statistics
        return statistics.correlation(self.df, col1, col2)

    def covariance(self, col1: str, col2: str) -> float:
        from compss_python_spark.functions import statistics
        return statistics.covariance(self.df, col1, col2)

    def cross_tab(self, col1: str, col2: str) -> "DDF":
        from compss_python_spark.functions import statistics
        return DDF(statistics.cross_tab(self.df, col1, col2))

    def describe(self, cols=None) -> "DDF":
        from compss_python_spark.functions import statistics
        return DDF(statistics.describe(self.df, cols))

    def freq_items(self, cols, support: float = 0.01) -> list:
        from compss_python_spark.functions import statistics
        return statistics.freq_items(self.df, cols, support)

    def kolmogorov_smirnov_one_sample(self, col: str, distribution: str = "norm"):
        """[ref: ddf_library/functions/statistics/kolmogorov_smirnov.py] —
        one-sample KS test vs the normal distribution."""
        from compss_python_spark.functions import statistics

        if distribution != "norm":
            raise NotImplementedError("only 'norm' is supported (as in tests)")
        return statistics.ks_one_sample_normal(self.df, col)

    # -- LLM-pipeline extensions (engine additions beyond the reference
    # surface — SURVEY.md §2.12; same fluent style) --------------------------
    def dedup_exact(self, cols, id_col: str) -> "DDF":
        """Exact dedup on `cols`, min-id survivor (deterministic)."""
        from compss_python_spark.llm.dedup import exact_dedup

        return DDF(exact_dedup(self.df, cols, id_col))

    def dedup_exact_by_hash(self, text_col: str, id_col: str) -> "DDF":
        """Exact text dedup via md5 of normalized text (32-byte shuffle keys)."""
        from compss_python_spark.llm.dedup import exact_dedup_by_hash

        return DDF(exact_dedup_by_hash(self.df, text_col, id_col))

    def minhash_lsh_pairs(self, id_col: str = "doc_id", text_col: str = "text",
                          **kw) -> "DDF":
        """MinHash+banded-LSH near-duplicate candidate pairs."""
        from compss_python_spark.llm.dedup import minhash_lsh_pairs

        return DDF(minhash_lsh_pairs(self.df, id_col=id_col, text_col=text_col, **kw))

    def quality_score(self, text_col: str = "text") -> "DDF":
        """Heuristic document-quality score column in [0, 1]."""
        from compss_python_spark.llm.text import quality_score

        return DDF(quality_score(self.df, text_col))

    def language_id(self, text_col: str = "text") -> "DDF":
        """Marker-word language-ID prediction column."""
        from compss_python_spark.llm.text import language_id

        return DDF(language_id(self.df, text_col))

    def similarity_topk(self, queries: "DDF", k: int = 5,
                        id_col: str = "vec_id", vec_col: str = "embedding") -> "DDF":
        """Exact cosine top-k of `queries` (broadcast) against this corpus."""
        from compss_python_spark.llm.similarity import brute_force_topk

        return DDF(brute_force_topk(self.df, queries.df, k=k, id_col=id_col, vec_col=vec_col))

    def sample_stratified(self, stratum_col: str, n_per_stratum: int, key: str) -> "DDF":
        """Deterministic per-stratum sample by md5(key) order."""
        return DDF(etl.stratified_sample_hash(self.df, stratum_col, n_per_stratum, key))

    def repetition_stats(self, id_col: str = "doc_id", text_col: str = "text",
                         ngram_n: int = 2) -> "DDF":
        """Gopher-style dup-token / dup-n-gram / top-n-gram fractions."""
        from compss_python_spark.llm.text import repetition_stats

        return DDF(repetition_stats(self.df, id_col, text_col, ngram_n))

    def pii_stats(self, text_col: str = "text") -> "DDF":
        """Per-document PII match counts (email / phone / ipv4)."""
        from compss_python_spark.llm.text import pii_stats

        return DDF(pii_stats(self.df, text_col))

    def pii_redact(self, text_col: str = "text", alias: str = "redacted") -> "DDF":
        """Replace PII matches with [KIND] placeholders."""
        from compss_python_spark.llm.text import pii_redact

        return DDF(pii_redact(self.df, text_col, alias))

    def decontaminate(self, benchmark: "DDF", id_col: str = "doc_id",
                      text_col: str = "text", n: int = 8, min_hits: int = 1) -> "DDF":
        """Flag rows sharing ≥ min_hits word n-grams with the benchmark set."""
        from compss_python_spark.llm.dedup import decontaminate

        return DDF(decontaminate(self.df, benchmark.df, id_col, text_col, n, min_hits))

    def connected_components(
        self, src: str = "src", dst: str = "dst", max_iters: int = 20
    ) -> "DDF":
        """(node, component) labels of this edge table's undirected graph.

        Raises if the distributed loop needs more than ``max_iters``
        rounds rather than returning unconverged labels; its rounds grow
        with the log of the graph diameter (see graph/components.py).
        """
        from compss_python_spark.graph.components import connected_components

        return DDF(connected_components(self.df, src, dst, max_iters=max_iters))

    def pagerank(self, src: str = "src", dst: str = "dst",
                 damping: float = 0.85, max_iters: int = 10) -> "DDF":
        """(node, rank) over this edge table, Σrank = 1, dangling-aware
        (bounded small graphs route to the driver kernel; larger graphs run
        the distributed loop — see graph/pagerank.py)."""
        from compss_python_spark.graph.pagerank import pagerank

        return DDF(pagerank(self.df, src, dst, damping=damping, max_iters=max_iters))

    def triangle_count(self, src: str = "src", dst: str = "dst") -> "DDF":
        """Single-row (n_triangles) via low-id degree orientation."""
        from compss_python_spark.graph.triangles import triangle_count

        return DDF(triangle_count(self.df, src, dst))

    # -- actions / misc [ref: ddf_library/ddf.py] ----------------------------
    def duplicate_spans(self, id_col: str = "doc_id", text_col: str = "text",
                        n: int = 5, min_docs: int = 2, **kw) -> "DDF":
        """Per-doc duplicate-span stats + cleaned-text fingerprint (C4 /
        Lee et al. passage dedup)."""
        from compss_python_spark.llm.dedup import duplicate_spans

        return DDF(duplicate_spans(self.df, id_col, text_col, n, min_docs, **kw))

    def probe_media(self, id_col: str = "media_id",
                    payload_col: str = "payload") -> "DDF":
        """Typed container-header metadata (format/width/height/channels/
        sample_rate) parsed from opaque binary payloads — real byte-level
        PNG/JPEG/WAV header decode, no codec libraries."""
        from compss_python_spark.llm.multimodal import probe_media

        return DDF(probe_media(self.df, id_col, payload_col))

    def extract_media_features(self) -> "DDF":
        """mapInPandas featurizer over binary payloads (pixel decode is a
        deterministic stub — no codecs in-container; header decode is real,
        see probe_media)."""
        from compss_python_spark.llm.multimodal import extract_features

        return DDF(extract_features(self.df))

    def cache(self) -> "DDF":
        self.df.persist()
        return self

    def uncache(self) -> "DDF":
        self.df.unpersist()
        return self

    def to_df(self):
        """Collect to local pandas [ref: ddf_library/ddf.py to_df]."""
        return self.df.toPandas()

    def show(self, n: int = 20) -> None:
        self.df.show(n)

    def schema(self):
        return self.df.schema

    def columns(self) -> list[str]:
        return self.df.columns

    @property
    def save(self) -> "Saver":
        return Saver(self.df)


class GroupedDDF:
    """[ref: ddf_library/ddf.py GroupedDDF] — sugar over aggregation.agg."""

    def __init__(self, parent: DDF, cols: list[str]):
        self._parent = parent
        self._cols = cols

    def agg(self, aggs: Mapping[str, Sequence[tuple[str, str]]],
            order_within_group: str | None = None) -> DDF:
        return DDF(aggregation.agg(self._parent.df, self._cols, aggs, order_within_group))

    def count(self) -> DDF:
        return DDF(self._parent.df.groupBy(*self._cols).agg(F.count("*").alias("count")))

    def _simple(self, func, cols) -> DDF:
        exprs = [func(c).alias(f"{func.__name__}_{c}") for c in cols]
        return DDF(self._parent.df.groupBy(*self._cols).agg(*exprs))

    def sum(self, cols) -> DDF:
        return self._simple(F.sum, cols)

    def avg(self, cols) -> DDF:
        return self._simple(F.avg, cols)

    mean = avg

    def min(self, cols) -> DDF:
        return self._simple(F.min, cols)

    def max(self, cols) -> DDF:
        return self._simple(F.max, cols)

    def list(self, cols, order_within_group: str) -> DDF:
        return self.agg({c: [("list", f"list_{c}")] for c in cols}, order_within_group)

    def set(self, cols) -> DDF:
        return self.agg({c: [("set", f"set_{c}")] for c in cols})

    def first(self, cols, order_within_group: str) -> DDF:
        return self.agg({c: [("first", f"first_{c}")] for c in cols}, order_within_group)

    def last(self, cols, order_within_group: str) -> DDF:
        return self.agg({c: [("last", f"last_{c}")] for c in cols}, order_within_group)


class Saver:
    """[ref: ddf_library/bases/data_saver.py] — ``ddf.save.csv(path)`` etc."""

    def __init__(self, df: DataFrame):
        self._df = df

    def csv(self, path: str, header: bool = True, mode: str = "overwrite") -> None:
        io_mod.write_csv(self._df, path, mode, header)

    def json(self, path: str, mode: str = "overwrite") -> None:
        io_mod.write_json(self._df, path, mode)

    def parquet(self, path: str, mode: str = "overwrite", partition_by=None) -> None:
        io_mod.write_parquet(self._df, path, mode, partition_by)

    def orc(self, path: str, mode: str = "overwrite", partition_by=None) -> None:
        io_mod.write_orc(self._df, path, mode, partition_by)


class Reader:
    """[ref: ddf_library/bases/data_reader.py] — ``cc.read.csv(...)``."""

    def __init__(self, spark: SparkSession):
        self._spark = spark

    def csv(self, path: str, header: bool = True, sep: str = ",", schema=None,
            infer_schema: bool = True) -> DDF:
        return DDF(io_mod.read_csv(self._spark, path, header, sep, schema, infer_schema))

    def json(self, path: str, schema=None) -> DDF:
        return DDF(io_mod.read_json(self._spark, path, schema))

    def parquet(self, path: str) -> DDF:
        return DDF(io_mod.read_parquet(self._spark, path))

    def orc(self, path: str) -> DDF:
        return DDF(io_mod.read_orc(self._spark, path))


class Context:
    """[ref: ddf_library/context.py COMPSsContext]."""

    def __init__(self, spark: SparkSession | None = None):
        from compss_python_spark.session import get_spark
        self.spark = spark or get_spark()

    @property
    def read(self) -> Reader:
        return Reader(self.spark)

    def parallelize(self, pandas_df, nfrag: int | None = None) -> DDF:
        """[ref: ddf_library/functions/etl/parallelize.py]"""
        df = self.spark.createDataFrame(pandas_df)
        if nfrag:
            df = df.repartition(nfrag)
        return DDF(df)

    def import_compss_data(self, frames, nfrag: int | None = None) -> DDF:
        """[ref: ddf_library/context.py import_compss_data] — wrap a list of
        local pandas fragments."""
        import pandas as pd
        return self.parallelize(pd.concat(frames, ignore_index=True), nfrag)

    def stop(self) -> None:
        self.spark.stop()

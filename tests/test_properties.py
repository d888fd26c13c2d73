"""Property-based tests (hypothesis): operator semantics vs pandas ground
truth on arbitrary generated frames — catches edge cases (empty frames,
single rows, duplicate keys, extreme values, NaN-free ints) that
fixture-based tests miss."""

from __future__ import annotations

import pandas as pd
from conftest import retry_under_load
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from compss_python_spark.operators import aggregation, etl, setops
from compss_python_spark.operators import sort as sort_ops
from compss_python_spark.session import scoped_conf

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-3, max_value=3),          # key (forces duplicates)
        st.integers(min_value=-(10**9), max_value=10**9),  # value
    ),
    min_size=0,
    max_size=40,
)

SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    pdf = pd.DataFrame(rows, columns=["k", "v"]).astype("int64")
    return spark.createDataFrame(pdf) if len(pdf) else spark.createDataFrame([], "k long, v long")


@given(rows=ROWS)
@SETTINGS
def test_groupby_sum_matches_pandas(spark, rows):
    df = _df(spark, rows)
    got = {
        r["k"]: r["s"]
        for r in aggregation.agg(df, ["k"], {"v": [("sum", "s")]}).collect()
    }
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    want = pdf.groupby("k")["v"].sum().to_dict() if len(pdf) else {}
    assert got == want


@given(rows=ROWS)
@SETTINGS
def test_sort_is_total_and_stable_under_key(spark, rows):
    df = _df(spark, rows)
    got = [(r["k"], r["v"]) for r in sort_ops.sort(df, ["k", "v"], [True, True]).collect()]
    assert got == sorted([(k, v) for k, v in rows])


@given(rows=ROWS)
@SETTINGS
def test_distinct_matches_set(spark, rows):
    df = _df(spark, rows)
    got = {(r["k"], r["v"]) for r in aggregation.distinct(df).collect()}
    assert got == set(rows)


@given(rows=ROWS, rows2=ROWS)
@SETTINGS
def test_except_all_bag_semantics(spark, rows, rows2):
    from collections import Counter

    a, b = _df(spark, rows), _df(spark, rows2)
    got = Counter((r["k"], r["v"]) for r in setops.except_all(a, b).collect())
    want = Counter(rows) - Counter(rows2)
    assert got == want


@given(rows=ROWS, frac_n=st.integers(min_value=0, max_value=10))
@SETTINGS
def test_take_bounded(spark, rows, frac_n):
    df = _df(spark, rows)
    out = etl.take(df, frac_n, order_by=["k", "v"]).collect()
    assert len(out) == min(frac_n, len(rows))
    got = [(r["k"], r["v"]) for r in out]
    assert got == sorted(rows)[:frac_n]


def test_duplicate_spans_invariants(spark):
    """Random corpora: coverage is bounded by doc length; docs with globally
    unique tokens are never touched; fp of untouched docs == md5(original)."""
    import hashlib

    import pandas as pd

    from compss_python_spark.llm.dedup import duplicate_spans

    # deterministic pseudo-random corpus with a planted shared passage
    shared = "s0 s1 s2 s3 s4 s5"
    texts = []
    for i in range(30):
        words = [f"w{i}_{j}" for j in range(10)]  # unique per doc
        if i % 5 == 0:
            words[3:3] = shared.split()  # plant the passage in every 5th doc
        texts.append(" ".join(words))
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(30), "text": texts}))
    out = {r["doc_id"]: r for r in duplicate_spans(df, n=5).collect()}
    for i in range(30):
        r = out[i]
        assert 0 <= r["n_covered"] <= r["n_tokens"]
        if i % 5 == 0:
            assert r["n_covered"] >= 6, "planted shared passage must be covered"
        else:
            assert r["n_covered"] == 0
            assert r["clean_fp"] == hashlib.md5(texts[i].encode()).hexdigest()


@given(st.binary(min_size=0, max_size=200))
@settings(max_examples=300, deadline=None)
def test_media_header_parser_total(payload):
    """parse_media_header never raises on arbitrary bytes (pure function,
    no Spark) and always returns the 5-tuple contract."""
    from compss_python_spark.llm.multimodal import parse_media_header

    out = parse_media_header(payload)
    assert isinstance(out, tuple) and len(out) == 5


@given(st.binary(min_size=0, max_size=64))
@settings(max_examples=200, deadline=None)
def test_media_header_parser_prefix_robust(junk):
    """Truncating or prefix-corrupting a real container must parse as the
    right format or None — never a wrong-format misparse, never a raise."""
    from compss_python_spark.llm.multimodal import (
        _build_png,
        parse_media_header,
    )

    real = _build_png(33, 44)
    for cut in (0, 8, 12, 20, len(real)):
        out = parse_media_header(junk + real[:cut])
        assert out[0] in (None, "png", "jpeg", "wav")


ASOF_TS = st.lists(
    st.integers(min_value=0, max_value=50), min_size=1, max_size=12, unique=True
)


@given(lts=ASOF_TS, rts=ASOF_TS, direction=st.sampled_from(["backward", "forward"]),
       tol=st.sampled_from([None, 3.0, 10.0]))
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_join_matches_pandas_merge_asof(spark, lts, rts, direction, tol):
    """asof_join == pandas merge_asof for every (direction, tolerance)
    combination on random unique timestamps."""
    left = pd.DataFrame({"k": "a", "ts": sorted(float(t) for t in lts)})
    right = pd.DataFrame(
        {"k": "a", "ts": sorted(float(t) for t in rts)}
    )
    right["rv"] = right["ts"] * 10 + 1
    from compss_python_spark.operators.joins import asof_join

    rows = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on="ts", by=["k"], value_cols=["rv"],
        direction=direction,
        tolerance=tol,
    ).collect()
    assert len(rows) == len(left)  # one output row per left row, no dupes
    got = {r["ts"]: r["rv"] for r in rows}
    expected_pdf = pd.merge_asof(
        left, right, on="ts", by="k", direction=direction, tolerance=tol
    )
    expected = {
        row.ts: (None if pd.isna(row.rv) else row.rv)
        for row in expected_pdf.itertuples()
    }
    assert got == expected
    # row multiplicity: exactly one output row per left row
    assert len(got) == len(left)


EDGE_LISTS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=12), st.integers(min_value=0, max_value=12)),
    min_size=1,
    max_size=20,
)


@given(edges=EDGE_LISTS)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_local_equals_distributed(spark, edges):
    """Driver union-find fast path == distributed large-star/small-star
    loop on arbitrary small graphs (self-loops, duplicates, isolated
    pairs)."""
    from compss_python_spark.graph.components import connected_components

    df = spark.createDataFrame(edges, "src long, dst long")
    local = {r["node"]: r["component"]
             for r in connected_components(df).collect()}
    dist = {r["node"]: r["component"]
            for r in connected_components(df, local_threshold=0).collect()}
    assert local == dist


@given(edges=EDGE_LISTS)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_star_equals_local(spark, edges):
    """Large-star/small-star on the reversed edge list == driver union-find
    on the original: the loop treats edges as undirected, whichever
    endpoint comes first."""
    from compss_python_spark.graph.components import connected_components

    df = spark.createDataFrame(edges, "src long, dst long")
    rev = spark.createDataFrame([(d, s) for s, d in edges], "src long, dst long")
    local = {r["node"]: r["component"]
             for r in connected_components(df).collect()}
    star = {r["node"]: r["component"]
            for r in connected_components(rev, local_threshold=0).collect()}
    assert star == local


def test_connected_components_star_log_diameter_path(spark):
    """A 256-node path graph: the distributed loop halves the diameter per
    round, so the default call converges within a 12-round budget (min-label
    propagation needed Θ(diameter) = 255) with the exact union-find
    labels."""
    from compss_python_spark.graph.components import connected_components

    n = 256
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    expect = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert expect == {i: 0 for i in range(n)}
    dist = {
        r["node"]: r["component"]
        for r in connected_components(df, local_threshold=0, max_iters=12).collect()
    }
    assert dist == expect


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    ch=st.sampled_from([1, 3, 4]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    filters=st.one_of(
        st.none(),
        st.integers(min_value=0, max_value=4),
        st.lists(st.integers(min_value=0, max_value=4), min_size=40, max_size=40),
    ),
)
@settings(max_examples=40, deadline=None)
def test_png_codec_roundtrip_property(w, h, ch, seed, filters):
    """encode_png∘decode_png_pixels == identity for ANY 8-bit image and any
    per-row filter assignment (pure-Python property — no Spark session)."""
    import numpy as np

    from compss_python_spark.llm import multimodal as mm

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    if isinstance(filters, list):
        filters = filters[:h]
    png = mm.encode_png(arr, filters=filters)
    dec = mm.decode_png_pixels(png)
    assert dec is not None and np.array_equal(dec, arr)
    # header parse agrees with pixel decode on dimensions
    fmt, pw, ph, pch, _ = mm.parse_media_header(png)
    assert (fmt, pw, ph, pch) == ("png", w, h, ch)


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["footer line", "header bar", "body alpha",
                             "body beta", "unique gamma", ""]),
            min_size=1, max_size=6,
        ),
        min_size=1, max_size=8,
    ),
    min_docs=st.integers(2, 3),
)
@SETTINGS
def test_duplicate_lines_properties(spark, texts, min_docs):
    """Invariants on random line corpora: (1) after removal, no non-blank
    line occurs in >= min_docs distinct docs; (2) kept lines preserve
    original relative order; (3) n_lines == input line count."""
    from compss_python_spark.llm import dedup

    pdf = pd.DataFrame({
        "doc_id": range(len(texts)),
        "text": ["\n".join(t) for t in texts],
    })
    out = {r["doc_id"]: r for r in dedup.duplicate_lines(
        spark.createDataFrame(pdf), min_docs=min_docs).collect()}
    import collections
    docs_per_line = collections.defaultdict(set)
    for i, t in enumerate(texts):
        for ln in t:
            if ln.strip():
                docs_per_line[ln].add(i)
    dup = {ln for ln, ds in docs_per_line.items() if len(ds) >= min_docs}
    for i, t in enumerate(texts):
        kept = [ln for ln in t if ln not in dup or not ln.strip()]
        assert out[i]["clean_text"] == "\n".join(kept), (i, t)
        assert out[i]["n_lines"] == len(t)
        assert out[i]["n_dup_lines"] == sum(1 for ln in t if ln in dup and ln.strip())


@given(
    keys=st.lists(st.text(alphabet="abcdef", min_size=1, max_size=6),
                  min_size=1, max_size=30, unique=True),
    probes=st.lists(st.text(alphabet="abcdefgh", min_size=1, max_size=6),
                    min_size=1, max_size=20, unique=True),
    m=st.sampled_from([64, 256]),
    k=st.integers(2, 4),
)
@SETTINGS
def test_bloom_no_false_negatives_property(spark, keys, probes, m, k):
    from compss_python_spark.llm import bloom

    kdf = spark.createDataFrame(pd.DataFrame({"x": keys}))
    pdf_ = spark.createDataFrame(pd.DataFrame({"x": probes}))
    bf = bloom.bloom_build(kdf, "x", m=m, k=k)
    got = {r["x"]: r["bloom_member"]
           for r in bloom.bloom_contains(pdf_, "x", bf).collect()}
    for p in probes:
        if p in set(keys):
            assert got[p] is True  # false negatives are impossible


@given(
    vals=st.lists(st.integers(0, 8), min_size=1, max_size=60),
    width=st.sampled_from([2, 8, 64]),
)
@SETTINGS
def test_cms_upper_bound_property(spark, vals, width):
    from compss_python_spark.functions import sketches

    df = spark.createDataFrame(pd.DataFrame({"x": vals}))
    keys = spark.createDataFrame(pd.DataFrame({"x": sorted(set(vals))}))
    sk = sketches.cms_build(df, "x", width=width, depth=3)
    est = {r["x"]: r["est_count"]
           for r in sketches.cms_estimate(sk, keys, "x", width=width, depth=3).collect()}
    import collections
    true = collections.Counter(vals)
    total = len(vals)
    for v, c in true.items():
        assert est[v] >= c          # never underestimates
        assert est[v] <= total      # bounded by stream size


CDC_CHANGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),      # key
        st.integers(min_value=0, max_value=99),     # payload
        st.sampled_from(["I", "U", "D"]),           # op
    ),
    min_size=0,
    max_size=25,
)


@given(changes=CDC_CHANGES)
@SETTINGS
def test_apply_changelog_matches_sequential_replay(spark, changes):
    from compss_python_spark.operators.cdc import apply_changelog

    snap_rows = [(k, -k) for k in range(0, 4)]
    snap = spark.createDataFrame(
        pd.DataFrame(snap_rows, columns=["k", "val"]).astype("int64")
    )
    chg_rows = [
        (k, val, op, seq) for seq, (k, val, op) in enumerate(changes)
    ]
    chg = spark.createDataFrame(
        chg_rows, "k long, val long, op string, seq long"
    ) if chg_rows else spark.createDataFrame([], "k long, val long, op string, seq long")

    got = {
        r["k"]: r["val"] for r in apply_changelog(snap, chg, ["k"], "seq").collect()
    }
    # sequential replay reference
    state = dict(snap_rows)
    for k, val, op in changes:
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = val
    assert got == state


NTILE_ROWS = st.lists(
    st.integers(min_value=-50, max_value=50), min_size=1, max_size=60
)


# Keep every range partition of a shuffle: AQE would coalesce inputs this
# small into one, and the per-partition offsets would go untested.
_KEEP_RANGE_PARTITIONS = {"spark.sql.adaptive.coalescePartitions.enabled": "false"}


@given(vals=NTILE_ROWS, b=st.integers(min_value=1, max_value=9))
@SETTINGS
def test_ntile_distributed_matches_sql_ntile_property(spark, vals, b):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pdf = pd.DataFrame({"id": range(len(vals)), "v": vals}).astype("int64")
    df = spark.createDataFrame(pdf)
    with scoped_conf(spark, _KEEP_RANGE_PARTITIONS):
        got = aggregation.ntile_distributed(df, ["v", "id"], b, "nt")
        ref = df.withColumn(
            "nt_ref", F.ntile(b).over(Window.orderBy(F.asc("v"), F.asc("id")))
        )
        assert (
            got.join(ref, ["id", "v"]).filter(F.col("nt") != F.col("nt_ref")).count()
            == 0
        )


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-20, max_value=20),
            st.integers(min_value=0, max_value=5),
        ),
        min_size=0,
        max_size=60,
    ),
    weighted=st.booleans(),
)
@SETTINGS
def test_rows_before_matches_pandas_prefix_sum_property(spark, rows, weighted):
    """The prefix-rank kernel against a pandas cumulative sum, over every
    range partition of the session's shuffle width (empty ones included):
    ``_before`` is the weight of the rows strictly before each row in a
    total order, and the total is the weight of all rows."""
    pdf = pd.DataFrame(rows, columns=["v", "w"]).astype("int64")
    pdf["id"] = range(len(pdf))
    df = (
        spark.createDataFrame(pdf)
        if len(pdf)
        else spark.createDataFrame([], "v long, w long, id long")
    )
    with scoped_conf(spark, _KEEP_RANGE_PARTITIONS):
        got, total = etl._rows_before(df, ["v", "id"], "w" if weighted else None)
        got = {r["id"]: r["_before"] for r in got.collect()}
    ref = pdf.sort_values(["v", "id"])
    w = ref["w"] if weighted else pd.Series(1, index=ref.index)
    want = dict(zip(ref["id"], (w.cumsum() - w).tolist()))
    assert got == want
    assert total == int(w.sum())


WORDS = st.lists(
    st.text(alphabet="abcd", min_size=1, max_size=5), min_size=1, max_size=20
)


@given(words=WORDS, r=st.integers(min_value=1, max_value=5))
@SETTINGS
def test_bpe_train_matches_reference_property(spark, words, r):
    from compss_python_spark.llm.bpe import bpe_train
    from tests.test_llm import _reference_bpe

    corpus = " ".join(words)
    df = spark.createDataFrame([(0, corpus)], ["doc_id", "text"])
    freqs = {}
    for w in corpus.split():
        freqs[w] = freqs.get(w, 0) + 1
    ref, _ = _reference_bpe(freqs, r)
    got = [
        (x["lhs"], x["rhs"], x["pair_count"])
        for x in bpe_train(df, num_merges=r).orderBy("merge_rank").collect()
    ]
    assert got == ref


SERIES = st.lists(
    st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    min_size=1,
    max_size=30,
)


@given(vals=SERIES, L=st.integers(min_value=1, max_value=8))
@SETTINGS
def test_ewma_bounded_matches_reference_property(spark, vals, L):
    from compss_python_spark.operators.timeseries import ewma_bounded

    df = spark.createDataFrame(
        [(1, i, i, float(v)) for i, v in enumerate(vals)],
        "u long, t long, eid long, v double",
    )
    alpha = 0.3
    got = {
        r["t"]: r["ewma"]
        for r in ewma_bounded(df, "u", "t", "v", "eid", alpha, L).collect()
    }
    for t in range(len(vals)):
        lo = max(0, t - L + 1)
        ws = [(1 - alpha) ** (t - i) for i in range(lo, t + 1)]
        ref = sum(w * float(v) for w, v in zip(ws, vals[lo:t + 1])) / sum(ws)
        assert abs(got[t] - ref) < 1e-5, (t, got[t], ref)


@given(
    words=st.lists(st.text(alphabet="ab #.", min_size=1, max_size=6),
                   min_size=1, max_size=30)
)
@SETTINGS
def test_gopher_rules_match_pandas_reference(spark, words):
    from compss_python_spark.llm.text import GOPHER_STOPWORDS, gopher_rules

    text_val = " ".join(words)
    df = spark.createDataFrame([(0, text_val)], ["doc_id", "text"])
    r = gopher_rules(df, min_words=2, stop_hits=1).collect()[0]

    toks = text_val.split()
    n = max(len(toks), 1)
    non_space = len("".join(text_val.split()))
    import re as _re

    n_sym = len(_re.findall(r"#|\.\.\.", text_val))
    alpha_words = sum(1 for w in toks if _re.search("[A-Za-z]", w))
    stop = len({w.lower() for w in toks} & set(GOPHER_STOPWORDS))
    assert r["r_word_count"] == (2 <= len(toks) <= 100000)
    assert r["r_mean_word_len"] == (3.0 <= non_space / n <= 10.0)
    assert r["r_symbol_ratio"] == (n_sym / n <= 0.1)
    assert r["r_alpha_words"] == (alpha_words / n >= 0.80)
    assert r["r_stopwords"] == (stop >= 1)


@given(
    avail=st.lists(st.integers(min_value=1, max_value=1000), min_size=1, max_size=8),
    weights=st.lists(st.integers(min_value=1, max_value=9), min_size=8, max_size=8),
    budget=st.integers(min_value=1, max_value=4000),
)
@SETTINGS
def test_mixture_allocation_properties(spark, avail, weights, budget):
    """Invariants of water-filling: 0 <= a_s <= available_s; Σa =
    min(budget, Σ available) (up to rounding); unsaturated sources split
    the residual budget weight-proportionally (equal allocation/weight)."""
    from compss_python_spark.llm.sampling import mixture_allocation

    srcs = [f"s{i}" for i in range(len(avail))]
    w = {s: float(weights[i]) for i, s in enumerate(srcs)}
    rows = [(s, float(a)) for s, a in zip(srcs, avail)]
    df = spark.createDataFrame(rows, "src string, toks double")
    out = mixture_allocation(df, "src", "toks", w, float(budget)).collect()
    a = {r["source"]: r["allocation"] for r in out}
    sat = {r["source"]: r["saturated"] for r in out}
    for i, s in enumerate(srcs):
        assert -1e-6 <= a[s] <= avail[i] + 1e-6
    assert abs(sum(a.values()) - min(budget, sum(avail))) < 1e-3
    lams = [a[s] / w[s] for s in srcs if not sat[s]]
    assert all(abs(l - lams[0]) < 1e-6 for l in lams[1:])


@given(
    labels=st.lists(st.integers(min_value=0, max_value=1), min_size=2, max_size=30),
    scores=st.lists(st.integers(min_value=-5, max_value=5), min_size=30, max_size=30),
)
@SETTINGS
@retry_under_load()
def test_roc_auc_matches_pair_counting(spark, labels, scores):
    """AUC == (concordant + 0.5*tied) / (n_pos*n_neg), brute-forced."""
    from compss_python_spark.ml.evaluation import roc_auc

    if sum(labels) in (0, len(labels)):
        labels = labels + [1 - labels[0]]
    scores = scores[: len(labels)]
    rows = list(zip(labels, [float(s) for s in scores]))
    df = spark.createDataFrame(rows, "label int, score double")
    got = roc_auc(df).first()["auc"]
    pos = [s for l, s in rows if l == 1]
    neg = [s for l, s in rows if l == 0]
    num = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg)
    assert abs(got - num / (len(pos) * len(neg))) < 1e-6

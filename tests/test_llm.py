"""Tests for the LLM-pipeline operators: dedup estimate quality, langid
accuracy, LSH recall, fingerprint/text stats invariants."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from compss_python_spark.llm import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from compss_python_spark.plans.registry import table

    return table(spark, sf_dir, "documents").persist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from compss_python_spark.plans.registry import table

    return table(spark, sf_dir, "embeddings").persist()


def _exact_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(max(1, len(toks) - n + 1))}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_minhash_estimates_match_exact_jaccard(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.3).collect()
    assert pairs, "planted near-duplicates must be found"
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    for r in pairs[:20]:
        exact = _exact_jaccard(texts[r["id_a"]], texts[r["id_b"]])
        # 64 hashes → σ ≈ sqrt(J(1-J)/64) ≤ 0.063; allow 3σ
        assert abs(r["est_jaccard"] - exact) < 0.2, (r["id_a"], r["id_b"], exact, r["est_jaccard"])


def test_minhash_finds_planted_duplicate(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    near = base.replace("lazy", "sleepy")
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, "entirely different words here xyz"]})
    df = spark.createDataFrame(pdf)
    pairs = dedup.minhash_lsh_pairs(df, threshold=0.5).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]


def test_minhash_lsh_drop_metrics_on_storm(spark):
    """A boilerplate storm (one bucket over max_bucket in every band) must
    be observable: drop_metrics reports the dropped buckets and their row
    volume instead of the pairs silently vanishing."""
    storm = [(i, "the same boilerplate footer text repeated everywhere always forever")
             for i in range(40)]
    normal = [(100 + i, f"unique document number {i} with distinct words entirely {i * 7}")
              for i in range(4)]
    df = spark.createDataFrame(pd.DataFrame(storm + normal, columns=["doc_id", "text"]))
    metrics: dict = {}
    out = dedup.minhash_lsh_pairs(df, max_bucket=10, drop_metrics=metrics)
    assert out.count() == 0  # storm dropped; normals share nothing
    assert metrics["dropped_buckets"] >= 1
    assert metrics["max_bucket_size"] == 40
    assert metrics["dropped_bucket_rows"] >= 40
    # quiet corpus → zeroed metrics, no drops
    quiet: dict = {}
    dedup.minhash_lsh_pairs(
        spark.createDataFrame(pd.DataFrame(normal, columns=["doc_id", "text"])),
        max_bucket=10, drop_metrics=quiet,
    ).count()
    assert quiet["dropped_buckets"] == 0 and quiet["dropped_bucket_rows"] == 0


def test_simhash_hamming_small_for_near_dup(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 10
    near = base.replace("gamma", "gamma2")
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": [base, near]})
    pairs = dedup.simhash_pairs(spark.createDataFrame(pdf), max_hamming=16).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] <= 16


def test_simhash_pairs_bucket_cap(spark):
    """Capped == uncapped when no bucket exceeds the cap; a corpus of
    identical texts (every doc in the same band buckets) drops entirely
    past the cap — the documented boilerplate-storm guard."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 10
    near = base.replace("gamma", "gamma2")
    small = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [base, near]})
    )
    uncapped = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_pairs(small, max_hamming=16).collect()
    )
    capped = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_pairs(small, max_hamming=16, max_bucket=50).collect()
    )
    assert capped == uncapped and len(capped) == 1

    storm = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(20)), "text": [base] * 20})
    )
    assert dedup.simhash_pairs(storm, max_hamming=16, max_bucket=10).count() == 0


def test_ngram_jaccard_blocked(spark, docs):
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.3, block_col="lang")
    rows = out.collect()
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    for r in rows:
        assert r["jaccard"] == pytest.approx(_exact_jaccard(texts[r["id_a"]], texts[r["id_b"]]), abs=1e-6)


def test_exact_dedup_keeps_min_id(spark):
    pdf = pd.DataFrame({"doc_id": [5, 3, 9], "text": ["same text", "same text", "other"]})
    out = dedup.exact_dedup_by_hash(spark.createDataFrame(pdf), "text", "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [3, 9]


def test_exact_dedup_tiebreak_cols(spark):
    """With duplicate ids inside a key, tiebreak_cols makes the survivor a
    total order (not whichever physical row the shuffle delivered first)."""
    df = spark.createDataFrame(
        [("k", 1, "b"), ("k", 1, "a"), ("k", 2, "z"), ("x", 7, "q")],
        "key string, id long, payload string",
    ).repartition(8)
    out = dedup.exact_dedup(df, "key", "id", tiebreak_cols="payload")
    rows = {r["key"]: (r["id"], r["payload"]) for r in out.collect()}
    assert rows == {"k": (1, "a"), "x": (7, "q")}


def test_language_id_accuracy(spark):
    # the documents fixture's lang column is random wrt its (English word
    # soup) text, so accuracy is asserted on real-language samples instead
    samples = {
        "en": "the cat is in the house and it was good for everyone that came",
        "de": "der hund ist nicht in das haus und die katze ist mit den kindern",
        "es": "el perro es un animal que vive en la casa de los abuelos por una razón",
        "fr": "le chien est un animal qui vit dans la maison et les enfants pour que",
        "zh": "我 是 一个 人 在 这 里 的 和 不 有 了",
    }
    pdf = pd.DataFrame({"doc_id": range(5), "lang": list(samples), "text": list(samples.values())})
    out = text.language_id(spark.createDataFrame(pdf))
    assert out.filter(F.col("lang_pred") == F.col("lang")).count() == 5


def test_quality_and_char_stats(docs):
    out = text.quality_score(text.char_stats(docs))
    row = out.first()
    assert 0.0 <= row["quality"] <= 1.0
    assert row["n_chars_calc"] == len(row["text"])
    total = out.agg(F.min("quality").alias("mn"), F.max("quality").alias("mx")).first()
    assert 0.0 <= total["mn"] <= total["mx"] <= 1.0


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": ["hello, world! abc123456789"]}))
    n = df.select(text.bpe_ish_token_count("text").alias("n")).first()["n"]
    # hello , world ! abc 123 456 789 → 8 pieces
    assert n == 8


def test_fingerprint_normalization(spark):
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["Hello   World", "hello world"]})
    out = text.fingerprint(spark.createDataFrame(pdf)).collect()
    assert out[0]["fp"] == out[1]["fp"]


def test_brute_force_topk_is_exact(emb):
    """Top-1 via the operator == top-1 via a local numpy computation."""
    import numpy as np

    out = similarity.brute_force_topk(emb, emb.filter("vec_id < 3"), k=1).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in emb.collect()}
    for r in out:
        q = vecs[r["query_id"]]
        best_id, best_cos = None, -2
        for vid, v in vecs.items():
            if vid == r["query_id"]:
                continue
            cos = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            if cos > best_cos + 1e-12:
                best_id, best_cos = vid, cos
        assert r["neighbor_id"] == best_id
        assert r["cosine"] == pytest.approx(best_cos, abs=1e-5)


def test_lsh_topk_recall(emb):
    exact = similarity.brute_force_topk(emb, emb.filter("vec_id < 20"), k=5)
    approx = similarity.lsh_topk(
        emb, emb.filter("vec_id < 20"), k=5, num_planes=4, num_tables=8
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall > 0.5, f"LSH recall {recall} too low for 4 planes × 8 tables"


def test_lsh_multiprobe_recall_dominates_single_table(emb):
    """Multi-probe candidates are a superset of the single-table home-bucket
    candidates (same seed → same hyperplanes for table 0), so its recall is
    deterministically ≥ the single-table recall — the OR-amplification
    replacement it exists to be."""
    exact = similarity.brute_force_topk(emb, emb.filter("vec_id < 20"), k=5)
    single = similarity.lsh_topk(
        emb, emb.filter("vec_id < 20"), k=5, num_planes=4, num_tables=1
    )
    multi = similarity.lsh_multiprobe_topk(
        emb, emb.filter("vec_id < 20"), k=5, num_planes=4
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    s = {(r["query_id"], r["neighbor_id"]) for r in single.collect()}
    m = {(r["query_id"], r["neighbor_id"]) for r in multi.collect()}
    assert len(e & m) >= len(e & s)
    assert len(e & m) / len(e) > 0.5, f"multi-probe recall {len(e & m)/len(e)} too low"


def test_embedding_near_dup_symmetric_bound(emb):
    out = dedup.embedding_near_dup_pairs(emb, min_cosine=0.5, allow_full_scan=True).collect()
    for r in out:
        assert r["id_a"] < r["id_b"]
        assert -1.0 <= r["cosine"] <= 1.0


def test_embedding_near_dup_lsh_subset_and_recall(emb, spark, sf_dir):
    from compss_python_spark.plans.registry import REGISTRY

    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(
            emb, min_cosine=0.35, allow_full_scan=True
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in REGISTRY["embedding_near_dup_lsh"].fn(spark, sf_dir).collect()
    }
    assert lsh <= exact, "LSH-blocked pairs must be a subset of exact pairs"
    assert len(lsh) / len(exact) > 0.3, f"recall {len(lsh)/len(exact):.2f} too low"


def test_unblocked_pair_ops_raise(emb, docs):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="block_fn"):
        dedup.embedding_near_dup_pairs(emb, min_cosine=0.5)
    with _pytest.raises(ValueError, match="block_col"):
        dedup.ngram_jaccard_pairs(docs)


def test_ivf_topk_recall(emb):
    exact = similarity.brute_force_topk(emb, emb.filter("vec_id < 20"), k=5)
    approx = similarity.ivf_topk(
        emb, emb.filter("vec_id < 20"), k=5, n_cells=8, nprobe=4
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall > 0.5, f"IVF recall {recall} too low for nprobe=4/8 cells"


def test_repetition_stats_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z w q r"), (3, "solo")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}
    # doc 1: 6 tokens 2 distinct; bigrams [a b, b a, a b, b a, a b] → top 3/5
    assert abs(rows[1]["dup_token_frac"] - 4 / 6) < 1e-6
    assert abs(rows[1]["dup_ngram_frac"] - 3 / 5) < 1e-6
    assert abs(rows[1]["top_ngram_frac"] - 3 / 5) < 1e-6
    assert rows[2]["dup_token_frac"] == 0.0 and rows[2]["dup_ngram_frac"] == 0.0
    # short doc: one whole-text gram, no crash
    assert rows[3]["top_ngram_frac"] == 1.0


def test_pii_stats_and_redact(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b@x.co and c@d.org call +123456789 host 10.0.0.1"),
         (2, "clean text only")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.pii_redact(text.pii_stats(df)).collect()}
    assert (out[1]["n_email"], out[1]["n_phone"], out[1]["n_ipv4"]) == (2, 1, 1)
    assert out[1]["redacted"] == "mail [EMAIL] and [EMAIL] call [PHONE] host [IPV4]"
    assert (out[2]["n_email"], out[2]["n_phone"], out[2]["n_ipv4"]) == (0, 0, 0)
    assert out[2]["redacted"] == "clean text only"


def test_decontaminate_flags_overlap(spark):
    corpus = spark.createDataFrame(
        [(1, "one two three four five six"), (2, "totally different words here now")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "zero one two three four five")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dedup.decontaminate(corpus, bench, n=5).collect()}
    # corpus doc 1 shares the 5-gram "one two three four five"
    assert out[1]["contaminated"] and out[1]["n_hits"] == 1
    assert not out[2]["contaminated"] and out[2]["n_hits"] == 0
    # string-key variant agrees with the hashed default
    out_s = {
        r["doc_id"]: r["n_hits"]
        for r in dedup.decontaminate(corpus, bench, n=5, use_hash=False).collect()
    }
    assert out_s == {k: v["n_hits"] for k, v in out.items()}


def test_connected_components_shapes(spark):
    from compss_python_spark.graph.components import connected_components

    # path graph (worst diameter), a clique, and an isolated pair
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (11, 12), (20, 21)]
    e = spark.createDataFrame(edges, "src long, dst long")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    comp = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert all(comp[n] == 1 for n in (1, 2, 3, 4, 5))
    assert all(comp[n] == 10 for n in (10, 11, 12))
    assert comp[20] == comp[21] == 20
    # shuffle conf restored
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    # distributed label-propagation loop (local_threshold=0 forces it)
    # must agree exactly with the driver union-find fast path
    comp_d = {
        r["node"]: r["component"]
        for r in connected_components(e, local_threshold=0).collect()
    }
    assert comp_d == comp
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_connected_components_null_endpoints(spark):
    """Null src/dst rows are excluded by contract on BOTH strategies (same
    contract as pagerank) — a null endpoint is not a node, and letting one
    through would corrupt the local path's integer schema via pandas
    null→float64 while the distributed loop silently carried it."""
    from compss_python_spark.graph.components import connected_components

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 7), (7, None), (10, 11)], "src long, dst long"
    )
    expect = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    local = {r["node"]: r["component"] for r in connected_components(e).collect()}
    dist = {
        r["node"]: r["component"]
        for r in connected_components(e, local_threshold=0).collect()
    }
    assert local == expect and dist == expect
    # node 7 (only ever seen next to a null endpoint) must not appear
    assert 7 not in local and 7 not in dist


def test_duplicate_spans_planted(spark):
    """A 5-gram shared by two docs covers exactly its positions in both;
    the xxhash64 fast path and the md5 oracle path agree on everything."""
    import pandas as pd

    from compss_python_spark.llm import dedup

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            "alpha beta gamma delta epsilon zeta eta",
            "one two alpha beta gamma delta epsilon done",
            "completely different content with no overlap at all",
        ],
    }))
    for use_hash in (False, True):
        out = {r["doc_id"]: r for r in
               dedup.duplicate_spans(docs, use_hash=use_hash).collect()}
        # the one shared 5-gram "alpha beta gamma delta epsilon":
        # doc1 start 0 -> positions 0..4; doc2 start 2 -> positions 2..6
        assert out[1]["n_dup_grams"] == 1 and out[1]["n_covered"] == 5
        assert out[2]["n_dup_grams"] == 1 and out[2]["n_covered"] == 5
        assert out[3]["n_dup_grams"] == 0 and out[3]["n_covered"] == 0
    # cleaned text of doc3 is unchanged -> fp equals md5 of original
    import hashlib
    orig = "completely different content with no overlap at all"
    assert out[3]["clean_fp"] == hashlib.md5(orig.encode()).hexdigest()


def test_duplicate_lines_boilerplate(spark):
    """Lines repeated across >= min_docs docs are dropped everywhere;
    unique lines and blank lines survive, order preserved; the xxhash64
    fast path and the md5 oracle path agree."""
    import pandas as pd

    from compss_python_spark.llm import dedup

    footer = "all rights reserved"
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            f"unique first line\n\nbody of doc one\n{footer}",
            f"{footer}\nanother body here\n{footer}",
            "totally unique document\nwith two lines",
        ],
    }))
    for use_hash in (False, True):
        out = {r["doc_id"]: r for r in
               dedup.duplicate_lines(docs, use_hash=use_hash).collect()}
        # footer appears in docs 1 and 2 -> removed from both, including
        # BOTH occurrences in doc 2
        assert out[1]["n_lines"] == 4 and out[1]["n_dup_lines"] == 1
        assert out[1]["clean_text"] == "unique first line\n\nbody of doc one"
        assert out[2]["n_lines"] == 3 and out[2]["n_dup_lines"] == 2
        assert out[2]["clean_text"] == "another body here"
        # untouched doc: identical round-trip (blank line kept in doc 1)
        assert out[3]["n_dup_lines"] == 0
        assert out[3]["clean_text"] == "totally unique document\nwith two lines"


def test_html_to_text_extraction(spark):
    """Handcrafted page: script/style CONTENT vanishes (including the fake
    tags inside the script string), comments vanish, block closers and <br>
    become newlines, entities decode, whitespace collapses."""
    import pandas as pd

    from compss_python_spark.llm import text as t

    html = (
        '<html><head><style>h{color:red}</style>'
        '<script type="x">if (a<b) { alert("<p>no</p>"); }</script></head>'
        "<body><h1>Head</h1><p>one &amp; two</p><ul><li>a</li><li>b</li></ul>"
        "<div>x<br>y</div><!-- gone -->tail&nbsp;&lt;z&gt;</body></html>"
    )
    df = spark.createDataFrame(pd.DataFrame({"h": [html]}))
    out = df.select(t.html_to_text("h").alias("x")).first()["x"]
    assert out == "Head\none & two\na\nb\nx\ny\ntail <z>"


def test_canonicalize_url(spark):
    """Fragment stripped, scheme/host case-folded (path case preserved),
    default ports dropped, dot segments resolved, tracking params removed
    with surviving-param order preserved, emptied query drops its '?'."""
    import pandas as pd

    from compss_python_spark.llm import text as t

    cases = {
        "HTTPS://Example.COM:443/a/b/../c/./D?utm_source=x&id=5&fbclid=y#frag":
            "https://example.com/a/c/D?id=5",
        "http://Host.com:80": "http://host.com/",
        "http://h/p?utm_a=1": "http://h/p",
        "http://h/p?b=2&a=1&ref=spam": "http://h/p?b=2&a=1",
        "http://h:8080/x/./y/../z?": "http://h:8080/x/z",
        "https://h:80/q": "https://h:80/q",  # :80 is NOT default for https
    }
    df = spark.createDataFrame(pd.DataFrame({"u": list(cases)}))
    out = {r["u"]: r["c"] for r in df.select("u", t.canonicalize_url("u").alias("c")).collect()}
    assert out == cases
    # canonical form is a fixed point: re-canonicalizing changes nothing
    df2 = spark.createDataFrame(pd.DataFrame({"u": list(cases.values())}))
    out2 = {r["u"]: r["c"] for r in df2.select("u", t.canonicalize_url("u").alias("c")).collect()}
    assert out2 == {v: v for v in cases.values()}


def test_filter_boilerplate_lines(spark):
    """Separator runs, punctuation bursts and one-word lines drop; prose
    lines survive in order."""
    import pandas as pd

    from pyspark.sql import functions as F
    from compss_python_spark.llm import text as t

    doc = "real prose sentence here\n====\n* * * * *\nOK\nanother good long line"
    df = spark.createDataFrame(pd.DataFrame({"x": [doc]}))
    out = df.select(t.filter_boilerplate_lines("x").alias("k")).first()["k"]
    assert out == "real prose sentence here\nanother good long line"


def test_bloom_filter_membership(spark):
    """No false negatives ever; sparse and dense builds produce identical
    bitmaps; bloom_filter_out never keeps a true member."""
    import pandas as pd

    from compss_python_spark.llm import bloom

    keys = spark.createDataFrame(
        pd.DataFrame({"k": [f"seen-{i}" for i in range(200)]})
    )
    probe = spark.createDataFrame(
        pd.DataFrame({"k": [f"seen-{i}" for i in range(100)]
                          + [f"novel-{i}" for i in range(300)]})
    )
    sparse = bloom.bloom_build(keys, "k", m=4096, k=4, method="sparse")
    dense = bloom.bloom_build(keys, "k", m=4096, k=4, method="dense")
    assert (sparse.bits == dense.bits).all() and sparse.n_set_bits > 0
    out = {r["k"]: r["bloom_member"]
           for r in bloom.bloom_contains(probe, "k", sparse).collect()}
    assert all(out[f"seen-{i}"] for i in range(100))  # no false negatives
    fp = sum(out[f"novel-{i}"] for i in range(300))
    # m/n = 20 bits/key, k=4 -> fp rate ~ (1-e^-0.2)^4 ~ 0.1%; allow slack
    assert fp <= 15
    kept = bloom.bloom_filter_out(probe, "k", sparse).collect()
    assert all(r["k"].startswith("novel-") for r in kept)
    assert len(kept) == 300 - fp
    # the pure-JVM literal-bitmap path (m <= 2^16) is bit-identical to the
    # Arrow-gather path on the same filter
    orig = bloom._LITERAL_BITMAP_MAX_BITS
    bloom._LITERAL_BITMAP_MAX_BITS = 0
    try:
        arrow_out = {r["k"]: r["bloom_member"]
                     for r in bloom.bloom_contains(probe, "k", sparse).collect()}
    finally:
        bloom._LITERAL_BITMAP_MAX_BITS = orig
    assert arrow_out == out


def test_bloom_prejoin_exact_and_pruning(spark):
    """bloom_prejoin returns EXACTLY the plain join's rows (false positives
    die in the join, no false negatives exist), while the pre-join prune
    actually drops the non-matching majority of the big side; outer joins
    are rejected (pruning would drop their unmatched rows)."""
    import pandas as pd
    import pytest as _pt

    from compss_python_spark.llm import bloom

    big = spark.createDataFrame(
        pd.DataFrame({"k": [f"k{i}" for i in range(1000)], "v": range(1000)})
    )
    small = spark.createDataFrame(
        pd.DataFrame({"k": [f"k{i}" for i in range(0, 1000, 50)], "w": range(20)})
    )
    want = {(r["k"], r["v"], r["w"]) for r in big.join(small, "k").collect()}
    for m in (4096, None):  # explicit and auto-sized bitmap
        got = {(r["k"], r["v"], r["w"]) for r in bloom.bloom_prejoin(big, small, "k", m=m, k=4).collect()}
        assert got == want and len(want) == 20
    bf = bloom.bloom_build(small, "k", m=4096, k=4)
    pruned = bloom.bloom_contains(big, "k", bf, "_m").filter("_m").count()
    assert pruned < 100  # 20 true matches + few false positives, not 1000
    with _pt.raises(ValueError, match="inner/semi"):
        bloom.bloom_prejoin(big, small, "k", how="left")
    # over-budget auto-sizing degrades to the exact plain join, not an error
    orig = bloom._MAX_BITMAP_BYTES
    bloom._MAX_BITMAP_BYTES = 1
    try:
        got = {(r["k"], r["v"], r["w"]) for r in bloom.bloom_prejoin(big, small, "k").collect()}
        assert got == want
    finally:
        bloom._MAX_BITMAP_BYTES = orig
    # a pre-existing _bloom_member column on the big side survives (the
    # internal prune flag picks a collision-free name)
    big2 = big.withColumn("_bloom_member", big["v"] % 2 == 0)
    out2 = bloom.bloom_prejoin(big2, small, "k", m=4096, k=4)
    assert "_bloom_member" in out2.columns
    want2 = {(r["k"], r["v"], r["_bloom_member"]) for r in big2.join(small, "k").collect()}
    got2 = {(r["k"], r["v"], r["_bloom_member"]) for r in out2.collect()}
    assert got2 == want2


def test_bloom_null_keys(spark):
    """Null keys: excluded from the build, reported as non-members in
    bloom_contains (no crash in the Arrow gather), kept by filter_out."""
    import pandas as pd

    from compss_python_spark.llm import bloom

    keys = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b", None, "c"]}), "k string"
    )
    bf = bloom.bloom_build(keys, "k", m=1024, k=3)
    probe = spark.createDataFrame(
        pd.DataFrame({"k": ["a", None, "zzz-novel"]}), "k string"
    )
    out = {r["k"]: r["bloom_member"]
           for r in bloom.bloom_contains(probe, "k", bf).collect()}
    assert out["a"] is True and out[None] is False
    kept = [r["k"] for r in bloom.bloom_filter_out(probe, "k", bf).collect()]
    assert None in kept  # null = "never seen" -> survives decontamination


def test_sketch_null_keys(spark):
    """CMS and HLL exclude null keys: counts/cardinalities over non-null
    values only, no idx=null register rows."""
    import pandas as pd

    from compss_python_spark.functions import sketches

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["x", "x", None, "y", None]}), "k string"
    )
    sk = sketches.cms_build(df, "k", width=64, depth=2)
    est = {r["k"]: r["est_count"]
           for r in sketches.cms_estimate(sk, df.distinct(), "k", 64, 2).collect()}
    assert est == {"x": 2, "y": 1}  # null key dropped from the probe too
    regs = sketches.hll_build(df, "k")
    assert regs.filter("idx IS NULL").count() == 0
    assert sketches.hll_estimate(regs).first()["n_registers_used"] <= 2


def test_bloom_build_guards(spark):
    import pandas as pd
    import pytest as _pt

    from compss_python_spark.llm import bloom

    keys = spark.createDataFrame(pd.DataFrame({"k": ["a"]}))
    with _pt.raises(ValueError, match="broadcast budget"):
        bloom.bloom_build(keys, "k", m=1 << 40)
    with _pt.raises(ValueError, match="unknown method"):
        bloom.bloom_build(keys, "k", m=64, method="nope")


def test_bloom_sharded_equivalence_and_budget(spark):
    """Sharded build: n_shards=1 is bit-identical to the monolithic build;
    multi-shard has zero false negatives and auto-shards to fit the budget;
    the raise fires only when a pinned shard count can't fit."""
    import pandas as pd
    import pytest as _pt

    from compss_python_spark.llm import bloom

    keys = spark.createDataFrame(
        pd.DataFrame({"k": [f"seen-{i}" for i in range(300)]})
    )
    mono = bloom.bloom_build(keys, "k", m=4096, k=4, method="sparse")
    one = bloom.bloom_build_sharded(keys, "k", m_total=4096, k=4, n_shards=1)
    assert one.n_shards == 1 and (one.shards[0].bits == mono.bits).all()

    sh = bloom.bloom_build_sharded(keys, "k", m_total=4096, k=4, n_shards=4)
    assert sh.n_shards == 4 and sh.m == 1024
    probe = spark.createDataFrame(
        pd.DataFrame({"k": [f"seen-{i}" for i in range(300)]
                          + [f"novel-{i}" for i in range(300)] + [None]})
    )
    out = {r["k"]: r["bloom_member"]
           for r in bloom.bloom_contains_sharded(probe, "k", sh).collect()}
    assert all(out[f"seen-{i}"] for i in range(300))  # no false negatives
    assert out[None] is False
    assert sum(out[f"novel-{i}"] for i in range(300)) <= 20  # ~13 bits/key, k=4

    # auto n_shards: budget of 64 bytes forces ceil(512/64) = 8 shards
    auto = bloom.bloom_build_sharded(keys, "k", m_total=4096, k=4, budget_bytes=64)
    assert auto.n_shards == 8 and (auto.m + 7) // 8 <= 64
    with _pt.raises(ValueError, match="shard exceeds"):
        bloom.bloom_build_sharded(keys, "k", m_total=4096, k=4, n_shards=2,
                                  budget_bytes=64)


def test_duplicate_lines_blank_exempt(spark):
    """Blank lines occur in every doc but are exempt from removal."""
    import pandas as pd

    from compss_python_spark.llm import dedup

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["a\n\nb", "c\n\nd"],
    }))
    out = {r["doc_id"]: r for r in dedup.duplicate_lines(docs).collect()}
    assert out[1]["clean_text"] == "a\n\nb" and out[1]["n_dup_lines"] == 0
    assert out[2]["clean_text"] == "c\n\nd" and out[2]["n_dup_lines"] == 0


def test_ivfpq_recall_clustered(spark):
    """IVF-PQ on clustered vectors (realistic embedding structure): ADC
    alone ranks far above chance; the standard exact-refine on the ADC
    short-list recovers near-perfect recall.  Also: trained codebooks are
    deterministic under a fixed seed."""
    import numpy as np
    import pandas as pd

    from compss_python_spark.llm import similarity as S

    rng = np.random.default_rng(3)
    C = rng.normal(0, 5.0, (40, 64))
    X = np.repeat(C, 12, axis=0) + rng.normal(0, 0.5, (480, 64))
    emb = spark.createDataFrame(pd.DataFrame(
        {"vec_id": range(480), "embedding": [r.tolist() for r in X]}
    ))
    q = emb.filter("vec_id < 20")
    exact = set()
    for i in range(20):
        d2 = ((X - X[i]) ** 2).sum(1)
        d2[i] = np.inf
        for j in np.argsort(d2)[:5]:
            exact.add((i, int(j)))
    adc = S.ivfpq_topk(emb, q, k=5, n_cells=8, nprobe=4, m_sub=8, ksub=32)
    got_adc = {(r["query_id"], r["neighbor_id"]) for r in adc.collect()}
    assert len(exact & got_adc) / len(exact) >= 0.25  # chance is ~0.01
    ref = S.ivfpq_topk(emb, q, k=5, n_cells=8, nprobe=4, m_sub=8, ksub=32,
                       refine_factor=4)
    got_ref = {(r["query_id"], r["neighbor_id"]) for r in ref.collect()}
    assert len(exact & got_ref) / len(exact) >= 0.9
    # seeded training is deterministic
    b1 = S.train_pq_codebooks_sample(emb, "embedding", 4, 8, seed=7)
    b2 = S.train_pq_codebooks_sample(emb, "embedding", 4, 8, seed=7)
    assert b1 == b2


def test_pq_codebooks_md5_shape_and_guard(spark):
    from compss_python_spark.llm import similarity as S

    books = S.pq_codebooks_md5(64, 4, 16)
    assert len(books) == 4 and len(books[0]) == 16 and len(books[0][0]) == 16
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_codebooks_md5(64, 7, 16)


def test_set_similarity_join_equals_brute_force(spark):
    """Prefix filtering loses no recall: output == python brute force over
    token sets, at two thresholds."""
    import itertools

    import pandas as pd

    from compss_python_spark.llm import dedup

    texts = {
        1: "apple banana cherry date egg fig",
        2: "apple banana cherry date egg grape",
        3: "apple banana cherry date egg fig",
        4: "totally different words entirely here now",
        5: "apple zebra yak xylophone walrus vulture",
    }
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(texts), "text": list(texts.values())}
    ))
    for thr in (0.5, 0.99):
        expect = set()
        for a, b in itertools.combinations(sorted(texts), 2):
            sa, sb = set(texts[a].split()), set(texts[b].split())
            if len(sa & sb) / len(sa | sb) >= thr:
                expect.add((a, b))
        got = {(r["id_a"], r["id_b"])
               for r in dedup.set_similarity_join(df, threshold=thr).collect()}
        assert got == expect, (thr, got, expect)


def test_fuzzy_string_pairs_complete(spark):
    """q-gram filtered pairs == python brute force; the min-length guard
    raises when the filter could lose pairs."""
    import itertools

    import pandas as pd

    from compss_python_spark.llm import dedup

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    names = ["blue widget", "blue widgets", "glue widget", "red gearbox",
             "red gearbux", "green anvil", "blue widget"]
    df = spark.createDataFrame(pd.DataFrame({"n": names}))
    got = {(r["s_a"], r["s_b"], r["distance"])
           for r in dedup.fuzzy_string_pairs(df, "n", max_distance=2, q=2).collect()}
    uniq = sorted(set(names))
    expect = {(a, b, lev(a, b)) for a, b in itertools.combinations(uniq, 2)
              if lev(a, b) <= 2}
    assert got == expect and len(got) >= 2

    # short / mixed-length corpus: the deletion-neighborhood path keeps
    # exact recall where the shared-gram bound degenerates (no raise, no
    # pre-scan) — including short x long pairs across the boundary
    mixed = ["ab", "cd", "abc", "abcd", "abcde", "abcdef", "abcdefg",
             "zz", "z", "", "qqqqqq", "qqqqqeq", "blue widget"]
    dfm = spark.createDataFrame(pd.DataFrame({"n": mixed}))
    got_m = {(r["s_a"], r["s_b"], r["distance"])
             for r in dedup.fuzzy_string_pairs(dfm, "n", max_distance=2, q=2).collect()}
    uniq_m = sorted(set(mixed))
    expect_m = {(a, b, lev(a, b)) for a, b in itertools.combinations(uniq_m, 2)
                if lev(a, b) <= 2}
    assert got_m == expect_m
    # sanity: the expectation actually crosses the short/long boundary
    assert ("abcde", "abcdefg") in {(a, b) for a, b, _ in expect_m}
    assert ("ab", "abc") in {(a, b) for a, b, _ in expect_m}


def test_pack_sequences_greedy_and_determinism(spark):
    """Exact shard-local greedy: budget boundaries, oversized docs get
    their own flagged sequence, and the assignment is partition-invariant."""
    import pandas as pd

    from compss_python_spark.llm.packing import (
        SEQ_SPAN,
        pack_sequences,
        packing_stats,
    )

    rows = pd.DataFrame({
        "doc_id": [0, 8, 16, 24, 32],       # all shard 0 (mod 8)
        "n_tokens": [50, 60, 200, 90, 10],  # budget 100: [50,60?]no ->
    })
    df = spark.createDataFrame(rows)
    out = {r["doc_id"]: r for r in
           pack_sequences(df, budget=100, n_shards=8).collect()}
    # greedy in id order: 50 | 60 | 200(own, truncated) | 90, 10
    assert out[0]["seq_id"] == 0 * SEQ_SPAN + 0
    assert out[8]["seq_id"] == 1          # 50+60 > 100 -> new seq
    assert out[16]["seq_id"] == 2 and out[16]["truncated"]
    assert out[24]["seq_id"] == 3 and out[32]["seq_id"] == 3  # 90+10 fits
    a = sorted((r["doc_id"], r["seq_id"])
               for r in pack_sequences(df, budget=100, n_shards=8).collect())
    b = sorted((r["doc_id"], r["seq_id"])
               for r in pack_sequences(df.repartition(5), budget=100,
                                       n_shards=8).collect())
    assert a == b  # partition-invariant
    st = packing_stats(pack_sequences(df, budget=100, n_shards=8), 100).first()
    assert st["n_sequences"] == 4 and st["n_docs"] == 5
    assert st["n_truncated_docs"] == 1
    assert st["total_tokens"] == 50 + 60 + 100 + 90 + 10  # truncated capped
    import pytest as _pt

    with _pt.raises(ValueError, match="positive"):
        pack_sequences(df, budget=0)


def test_stratified_rebalance_rates_and_guards(spark):
    """Rates follow the max-feasible-total formula, one stratum is kept
    whole, off-target strata drop, and the sample is deterministic."""
    import pandas as pd
    import pytest as _pt

    from compss_python_spark.llm.sampling import stratified_rebalance

    rows = pd.DataFrame({
        "k": range(1000),
        "s": ["a"] * 700 + ["b"] * 200 + ["c"] * 100,
    })
    df = spark.createDataFrame(rows)
    out = stratified_rebalance(df, "s", {"a": 0.5, "b": 0.5}, "k")
    got = out.groupBy("s").count().collect()
    counts = {r["s"]: r["count"] for r in got}
    # T = min(700/.5, 200/.5) = 400 -> b kept whole (rate 1), a at 200/700
    assert counts["b"] == 200 and "c" not in counts
    assert 140 <= counts["a"] <= 260  # hash-binomial around 200
    rates = {r["s"]: r["keep_rate"] for r in
             out.select("s", "keep_rate").distinct().collect()}
    assert rates["b"] == 1.0 and abs(rates["a"] - 200 / 700) < 1e-4
    # determinism across partitionings
    ka = sorted(r["k"] for r in out.collect())
    kb = sorted(r["k"] for r in stratified_rebalance(
        df.repartition(7), "s", {"a": 0.5, "b": 0.5}, "k").collect())
    assert ka == kb
    with _pt.raises(ValueError, match="sum to 1"):
        stratified_rebalance(df, "s", {"a": 0.5}, "k")
    with _pt.raises(ValueError, match="absent"):
        stratified_rebalance(df, "s", {"a": 0.5, "zz": 0.5}, "k")


def test_collapse_exact_preserves_components(spark):
    """collapse_exact cuts exact-copy pair cross products but yields the
    SAME connected components and survivors as the all-pairs form."""
    from compss_python_spark.graph.components import connected_components

    base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    near = base.replace("lazy", "sleepy")
    other = "completely different text about oceans and mountains " * 6
    rows = []
    for copy in range(8):  # 8 exact copies of each text, distinct ids
        rows += [(copy * 100 + 1, base), (copy * 100 + 2, near),
                 (copy * 100 + 3, other)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    def survivors(pairs):
        comp = connected_components(pairs, src="id_a", dst="id_b")
        return {(r["component"], r["survivor"], r["n_members"]) for r in
                comp.groupBy("component")
                .agg(F.min("node").alias("survivor"),
                     F.count("*").alias("n_members"))
                .collect()}

    full = dedup.minhash_lsh_pairs(df, threshold=0.5)
    coll = dedup.minhash_lsh_pairs(df, threshold=0.5, collapse_exact=True)
    assert coll.count() < full.count()  # the cross products are gone
    assert survivors(full) == survivors(coll)
    # members of an exact group attach to their rep at est 1.0
    ones = coll.filter("est_jaccard = 1.0").count()
    assert ones >= 21  # 3 texts x 7 non-rep copies


def test_chunk_documents_windows(spark):
    """Chunk boundaries, overlap, short-doc single chunk, and guards."""
    from compss_python_spark.llm.text import chunk_documents

    toks = " ".join(str(i) for i in range(10))  # tokens 0..9
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2], "text": [toks, "only three words"],
    }))
    out = {(r["doc_id"], r["chunk_idx"]): r for r in
           chunk_documents(df, chunk_tokens=4, overlap=2).collect()}
    # stride 2, ceil((10-2)/2) = 4 chunks: [0..3], [2..5], [4..7], [6..9]
    assert out[(1, 0)]["chunk_text"] == "0 1 2 3"
    assert out[(1, 1)]["chunk_text"] == "2 3 4 5"
    assert out[(1, 3)]["chunk_text"] == "6 7 8 9"
    assert (1, 4) not in out  # the 4th chunk already reaches the last token
    assert (2, 0) in out and (2, 1) not in out  # short doc: one chunk
    # ragged tail: 11 tokens -> 5th chunk holds the leftover 3 tokens
    df11 = spark.createDataFrame(pd.DataFrame({
        "doc_id": [3], "text": [" ".join(str(i) for i in range(11))],
    }))
    tail = {r["chunk_idx"]: r for r in
            chunk_documents(df11, chunk_tokens=4, overlap=2).collect()}
    assert tail[4]["chunk_text"] == "8 9 10" and tail[4]["n_tokens"] == 3
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_mean_pool_and_l2_normalize(spark):
    import numpy as np

    from compss_python_spark.llm.similarity import l2_normalize, mean_pool

    df = spark.createDataFrame(pd.DataFrame({
        "g": [1, 1, 2],
        "embedding": [[1.0, 2.0, 3.0], [3.0, 2.0, 1.0], [0.0, 0.0, 0.0]],
    }))
    pooled = {r["g"]: r["pooled"] for r in mean_pool(df, ["g"]).collect()}
    assert pooled[1] == [2.0, 2.0, 2.0] and pooled[2] == [0.0, 0.0, 0.0]
    normed = {r["g"]: r["nv"] for r in
              mean_pool(df, ["g"])
              .select("g", l2_normalize(F.col("pooled")).alias("nv"))
              .collect()}
    assert np.allclose(normed[1], [1 / np.sqrt(3)] * 3)
    assert normed[2] == [0.0, 0.0, 0.0]  # zero vector passes through
    # partition invariance
    p2 = {r["g"]: r["pooled"] for r in
          mean_pool(df.repartition(5), ["g"]).collect()}
    assert p2 == pooled


def test_bigram_lm_score_orders_quality(spark):
    """Cross-entropy separates typical text from word salad: repeated
    natural bigrams score low, a doc of never-repeated transitions scores
    high; single-token docs are excluded."""
    from compss_python_spark.llm.text import bigram_lm_score

    common = "the cat sat on the mat"
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": [common, common, common,
                 "zq xv jk wp mn bz qx vz",  # salad: every bigram unique
                 "one"],                      # < 2 tokens -> no row
    })
    out = {r["doc_id"]: r for r in
           bigram_lm_score(spark.createDataFrame(docs)).collect()}
    assert 5 not in out
    assert out[1]["cross_entropy"] == out[2]["cross_entropy"]
    assert out[4]["cross_entropy"] > out[1]["cross_entropy"]
    assert out[1]["n_pairs"] == 5 and out[4]["n_pairs"] == 7


def test_leakage_safe_split_cluster_integrity(spark):
    """Near-dup clusters never straddle the split; exact copies follow
    their representative; fractions are sane; guard raises."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("dog", "cat")
    rows = [(i, f"unique filler document number {i} {i*13} {i*29}")
            for i in range(40)]
    rows += [(100, base), (101, near), (102, base)]  # one cluster of 3
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = dedup.leakage_safe_split(df, test_fraction=0.3).collect()
    splits = {r["doc_id"]: r["split"] for r in out}
    clusters = {r["doc_id"]: r["cluster_id"] for r in out}
    assert clusters[100] == clusters[101] == clusters[102] == 100
    assert splits[100] == splits[101] == splits[102]
    assert {"train", "test"} >= set(splits.values()) and len(out) == 43
    n_test = sum(1 for s in splits.values() if s == "test")
    assert 1 <= n_test <= 25  # hash-binomial around 0.3 * 41 clusters
    with pytest.raises(ValueError, match="test_fraction"):
        dedup.leakage_safe_split(df, test_fraction=1.5)


def test_gopher_rules_flags_and_keep(spark):
    rows = [
        # long clean doc with a stopword: passes everything
        (0, "the quick brown fox jumps over lazy dogs " * 8),
        # too short
        (1, "the tiny doc"),
        # symbol-heavy: '#' per word ratio above 0.1
        (2, " ".join(["word #"] * 40)),
        # bullet lines dominate
        (3, "\n".join(["- bullet item here"] * 10) + "\n" + "the tail " * 45),
        # no stopwords at all
        (4, "zzz qqq vvv www " * 20),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in text.gopher_rules(df, min_words=20, stop_hits=1).collect()
    }
    assert out[0]["gopher_keep"]
    assert not out[1]["r_word_count"] and not out[1]["gopher_keep"]
    assert not out[2]["r_symbol_ratio"]
    assert not out[3]["r_bullets"]
    assert not out[4]["r_stopwords"]


def test_zipf_fit_recovers_planted_slope(spark):
    # Plant an exact Zipf corpus: term t_r appears round(1000 / r) times.
    words = []
    for r in range(1, 51):
        words += [f"t{r:03d}"] * round(1000 / r)
    df = spark.createDataFrame([(0, " ".join(words))], ["doc_id", "text"])
    row = text.zipf_fit(df, top_n=50).collect()[0]
    assert row["n_terms"] == 50
    assert abs(row["slope"] - (-1.0)) < 0.01
    assert row["r2"] > 0.999


def _reference_bpe(word_freqs, num_merges):
    """Pure-Python reference BPE (Sennrich et al. 2016 pseudo-code),
    greedy left-to-right pair replacement, tie-break (count desc, lhs, rhs)."""
    states = {w: tuple(list(w) + ["</w>"]) for w in word_freqs}
    merges = []
    for _ in range(num_merges):
        counts = {}
        for w, syms in states.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_freqs[w]
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, c))
        for w, syms in states.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            states[w] = tuple(out)
    return merges, states


def test_bpe_train_matches_reference_implementation(spark):
    from compss_python_spark.llm import bpe

    corpus = [
        (0, "low low low low lower lower newest newest newest widest"),
        (1, "new new newer wider wide widest lowest low"),
        # repeated symbols: greedy left-to-right merge of (a, a)
        (2, "aaa aaaa aa aaa aaa banana bananas"),
    ]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    freqs = {}
    for _, t in corpus:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    ref_merges, ref_states = _reference_bpe(freqs, 8)

    got = [
        (r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe.bpe_train(df, num_merges=8).orderBy("merge_rank").collect()
    ]
    assert got == ref_merges

    seg = {
        r["word"]: tuple(r["subtokens"])
        for r in bpe.bpe_segment_words(df, [(a, b) for a, b, _ in got]).collect()
    }
    assert seg == ref_states


def test_bpe_subtoken_counts_sum_over_doc_tokens(spark, docs):
    from compss_python_spark.llm import bpe

    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe.bpe_train(docs, num_merges=4).collect()
    ]
    out = bpe.bpe_doc_subtoken_counts(docs, merges)
    n_docs = docs.count()
    assert out.count() == n_docs
    # every doc has at least (n_tokens) subtokens (each word >= 1 symbol
    # even fully merged, plus </w> can merge away only into the last piece)
    joined = (
        out.join(docs.select("doc_id", F.size(text.tokens("text")).alias("nt")), "doc_id")
        .filter(F.col("n_subtokens") < F.col("nt"))
        .count()
    )
    assert joined == 0


def test_int8_quantize_error_bounded_by_half_step(spark, emb):
    out = similarity.int8_quantize_stats(emb).persist()
    n = emb.count()
    assert out.count() == n
    # per-dim scale s => dequant error <= s/254 + eps (half a quant step);
    # with corpus max|v| ~ 0.6 the bound is ~0.0024
    dims = emb.select(F.posexplode("embedding").alias("i", "v"))
    max_s = dims.agg(F.max(F.abs("v"))).collect()[0][0]
    bad = out.filter(F.col("max_abs_err") > max_s / 254.0 + 1e-9).count()
    assert bad == 0
    # q in [-127, 127] always => sum_sq_q <= 127^2 * dim
    dim = len(emb.select("embedding").first()[0])
    assert out.filter(F.col("sum_sq_q") > 127 * 127 * dim).count() == 0
    out.unpersist()


def test_domain_cap_bounds_every_group_deterministically(spark, docs):
    from compss_python_spark.llm.sampling import domain_cap

    out = domain_cap(docs, "source", "doc_id", cap=7)
    sizes = out.groupBy("source").count().collect()
    assert all(r["count"] <= 7 for r in sizes)
    # deterministic: same survivors on re-run
    a = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in domain_cap(docs, "source", "doc_id", cap=7).select("doc_id").collect())
    assert a == b
    # groups smaller than the cap survive whole
    small = docs.filter("source = 'src3'").count()
    kept3 = out.filter("source = 'src3'").count()
    assert kept3 == min(small, 7)


def test_top_keywords_prefers_rare_terms(spark):
    rows = [
        (0, "alpha alpha alpha common common"),
        (1, "beta beta common common"),
        (2, "gamma common"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.top_keywords(df, k=1).collect()
    best = {r["doc_id"]: r["term"] for r in out}
    # 'common' appears in every doc -> idf-flattened; doc-specific terms win
    assert best == {0: "alpha", 1: "beta", 2: "gamma"}


def test_bigram_pmi_finds_planted_collocation(spark):
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for d in range(40):
        ws = [rng.choice(vocab) for _ in range(30)]
        # plant a strong collocation
        for j in range(0, 30, 10):
            ws[j:j + 2] = ["san", "francisco"]
        docs.append((d, " ".join(ws)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = text.bigram_pmi(df, min_count=5, top=10).collect()
    top1 = min(out, key=lambda r: r["pmi_rank"])
    assert (top1["w1"], top1["w2"]) == ("san", "francisco")


def test_source_vocab_jaccard_bounds_and_identity(spark):
    rows = [
        (0, "a b c d", "s1"), (1, "a b c d", "s2"),   # identical vocab
        (2, "x y z", "s3"),                            # disjoint from s1/s2
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        (r["src_a"], r["src_b"]): r["jaccard"]
        for r in text.source_vocabulary_jaccard(df).collect()
    }
    assert got[("s1", "s2")] == 1.0
    assert ("s1", "s3") not in got or got[("s1", "s3")] == 0.0  # no common term -> no row


def test_bm25_ranks_conjunctive_match_first(spark):
    """A doc containing BOTH query terms outscores single-term docs; a
    doc with neither never appears; repeated terms raise tf
    monotonically (saturating)."""
    from compss_python_spark.llm.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "hash join hash join probe"),
            (2, "hash table lookup build side"),
            (3, "sort merge join spill"),
            (4, "parquet scan column prune"),
        ],
        "doc_id int, text string",
    )
    q = spark.createDataFrame([(1, "hash"), (1, "join")], "query_id int, term string")
    got = bm25_topk(docs, q, k=4).orderBy("rank").collect()
    assert [r["doc_id"] for r in got][0] == 1
    assert 4 not in {r["doc_id"] for r in got}
    assert all(got[i]["score"] >= got[i + 1]["score"] for i in range(len(got) - 1))


def test_bm25_length_normalization(spark):
    """Same tf, longer doc -> lower score (b > 0 length penalty)."""
    from compss_python_spark.llm.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "needle " + "pad " * 50), (2, "needle pad")],
        "doc_id int, text string",
    )
    q = spark.createDataFrame([(1, "needle")], "query_id int, term string")
    got = {r["doc_id"]: r["score"] for r in bm25_topk(docs, q, k=2).collect()}
    assert got[2] > got[1]


def test_embedding_outliers_flags_planted_outlier(spark):
    """A vector far off the cluster is flagged; cluster members are not;
    dist is the true euclidean distance to the centroid."""
    import math

    from compss_python_spark.llm.similarity import embedding_outliers

    base = [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [0.0, 0.0]] * 5
    rows = [(i, v) for i, v in enumerate(base)] + [(99, [100.0, 100.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = {r["vec_id"]: r for r in embedding_outliers(df, z_threshold=3.0).collect()}
    assert out[99]["is_outlier"]
    assert sum(r["is_outlier"] for r in out.values()) == 1
    # centroid = (mean of 21 vectors); check one distance by hand
    cx = (sum(v[0] for v in base) + 100.0) / 21
    cy = (sum(v[1] for v in base) + 100.0) / 21
    want = math.sqrt((1.0 - cx) ** 2 + (0.0 - cy) ** 2)
    assert abs(out[0]["dist"] - want) < 1e-6


def test_mixture_allocation_water_filling(spark):
    """Hand-verified water-filling: saturated smalls redistribute surplus
    weight-proportionally; under-supplied budget -> plain proportional;
    budget >= corpus -> everything saturates at availability."""
    from compss_python_spark.llm.sampling import mixture_allocation

    rows = [("a", 2.0), ("b", 4.0), ("c", 100.0)]
    df = spark.createDataFrame(
        [(s, 1, t) for s, t in rows], "src string, doc int, toks double"
    )
    w = {"a": 1.0, "b": 1.0, "c": 1.0}
    got = {r["source"]: r for r in
           mixture_allocation(df, "src", "toks", w, budget=12.0).collect()}
    assert got["a"]["allocation"] == 2.0 and got["a"]["saturated"]
    assert got["b"]["allocation"] == 4.0 and got["b"]["saturated"]
    assert got["c"]["allocation"] == 6.0 and not got["c"]["saturated"]
    # nobody saturates: 10 split evenly under caps (8, 9)
    df2 = spark.createDataFrame(
        [("a", 1, 8.0), ("b", 1, 9.0)], "src string, doc int, toks double"
    )
    got2 = {r["source"]: r for r in
            mixture_allocation(df2, "src", "toks", {"a": 1, "b": 1}, 10.0).collect()}
    assert got2["a"]["allocation"] == 5.0 and not got2["a"]["saturated"]
    assert got2["b"]["allocation"] == 5.0 and not got2["b"]["saturated"]
    # budget exceeds the corpus: allocation == availability everywhere
    got3 = {r["source"]: r for r in
            mixture_allocation(df2, "src", "toks", {"a": 1, "b": 1}, 100.0).collect()}
    assert got3["a"]["allocation"] == 8.0 and got3["a"]["saturated"]
    assert got3["b"]["allocation"] == 9.0 and got3["b"]["saturated"]
    # unequal weights: b gets 2x of the unsaturated share
    df3 = spark.createDataFrame(
        [("a", 1, 1.0), ("b", 1, 50.0), ("c", 1, 50.0)],
        "src string, doc int, toks double",
    )
    got4 = {r["source"]: r for r in
            mixture_allocation(df3, "src", "toks", {"a": 1, "b": 2, "c": 1}, 31.0).collect()}
    # a saturates at 1; remaining 30 split 2:1 -> b 20, c 10
    assert got4["a"]["allocation"] == 1.0
    assert got4["b"]["allocation"] == 20.0
    assert got4["c"]["allocation"] == 10.0


def test_semantic_dedup_matches_brute_force_within_cells(spark, emb):
    """Planted near-duplicates in the same cell are marked; verdicts equal
    a brute-force within-cell recomputation; survivors ∪ dups = corpus."""
    cents = similarity.md5_planes(64, 8, table_id=23)
    out = dedup.semantic_dedup(emb, centroids=cents, min_cosine=0.35).toPandas()
    assert len(out) == emb.count()
    assert set(out.columns) == {"vec_id", "cell", "is_semantic_dup"}

    # brute force: recompute assignment + within-cell pairs in python
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    C = np.array(cents)
    assign = {}
    for vid, v in V.items():
        d2 = ((C - v) ** 2).sum(axis=1)
        assign[vid] = int(np.argmin(d2))
    got_cells = dict(zip(out.vec_id, out.cell))
    assert assign == got_cells

    dup_expect = set()
    ids = sorted(V)
    by_cell = {}
    for vid in ids:
        by_cell.setdefault(assign[vid], []).append(vid)
    for cell_ids in by_cell.values():
        for i, a in enumerate(cell_ids):
            for b in cell_ids[i + 1 :]:
                cos = float(
                    V[a] @ V[b] / (np.linalg.norm(V[a]) * np.linalg.norm(V[b]))
                )
                if round(cos, 6) >= 0.35:
                    dup_expect.add(b)
    got_dups = set(out[out.is_semantic_dup].vec_id)
    assert got_dups == dup_expect


def test_semantic_dedup_trained_quantizer_and_guard(spark):
    """centroids=None trains a sample quantizer (verdicts still
    deterministic given the seed); an over-tight max_cluster_rows raises
    the loud plan-side guard instead of planning the giant self-join."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 8))
    # plant one exact duplicate pair: ids 100/101 share a vector
    rows = [(100, base[0].tolist()), (101, base[0].tolist())] + [
        (i, base[i].tolist()) for i in range(1, 40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.semantic_dedup(
        df, centroids=None, n_cells=4, min_cosine=0.99, seed=3
    ).toPandas()
    assert bool(out[out.vec_id == 101].is_semantic_dup.iloc[0])
    assert not bool(out[out.vec_id == 100].is_semantic_dup.iloc[0])

    with pytest.raises(Exception, match="max_cluster_rows"):
        dedup.semantic_dedup(
            df, centroids=None, n_cells=2, min_cosine=0.99, max_cluster_rows=5
        ).collect()


def test_dsir_select_prefers_target_like_docs(spark):
    """Raw docs written in the target's vocabulary outrank off-target
    docs; ranks are deterministic and weights reproducible."""
    from compss_python_spark.llm.sampling import dsir_select

    target_rows = [(1000 + i, "alpha beta gamma delta epsilon") for i in range(10)]
    raw_rows = (
        [(i, "alpha beta gamma delta") for i in range(5)]          # target-like
        + [(10 + i, "zip zap zoom quux flurb") for i in range(5)]  # off-target
    )
    target = spark.createDataFrame(target_rows, "doc_id long, text string")
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    out = dsir_select(raw, target, k=5, num_buckets=64).toPandas()
    assert list(out.columns) == ["doc_id", "log_weight", "rank"]
    assert sorted(out.doc_id) == [0, 1, 2, 3, 4]
    assert list(out["rank"]) == [1, 2, 3, 4, 5]
    # identical docs share identical weights; ties broken by id
    assert out.log_weight.nunique() == 1
    assert list(out.doc_id) == [0, 1, 2, 3, 4]

    # rerun is bit-identical (hash features, no RNG anywhere)
    again = dsir_select(raw, target, k=5, num_buckets=64).toPandas()
    pd.testing.assert_frame_equal(out, again)


def test_kneser_ney_matches_sequential_reference(spark):
    """Distributed KN scores equal a from-scratch sequential implementation
    on a small corpus; probabilities are a proper distribution per head."""
    import math

    from compss_python_spark.llm.text import kneser_ney_lm_score

    corpus = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the rug"),
        (3, "a cat and a dog"),
        (4, "one"),  # < 2 tokens → excluded
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_pairs"], r["cross_entropy"])
        for r in kneser_ney_lm_score(df).collect()
    }
    assert 4 not in out

    # sequential reference
    D = 0.75
    pairs = {}
    doc_pairs = {}
    for did, txt in corpus:
        toks = txt.split()
        ps = list(zip(toks, toks[1:]))
        if ps:
            doc_pairs[did] = ps
        for p in ps:
            pairs[p] = pairs.get(p, 0) + 1
    heads, n1f, n1b = {}, {}, {}
    for (w1, w2), c in pairs.items():
        heads[w1] = heads.get(w1, 0) + c
        n1f[w1] = n1f.get(w1, 0) + 1
        n1b[w2] = n1b.get(w2, 0) + 1
    T = len(pairs)

    def pkn(w1, w2):
        return (
            max(pairs[(w1, w2)] - D, 0.0) / heads[w1]
            + D * n1f[w1] / heads[w1] * n1b[w2] / T
        )

    for did, ps in doc_pairs.items():
        ce = -sum(math.log(pkn(*p)) for p in ps) / len(ps)
        assert out[did][0] == len(ps)
        assert abs(out[did][1] - round(ce, 5)) < 1e-9

    # P_KN(.|w1) sums to 1 over observed continuations + reserved mass:
    # with every continuation observed, sum over vocab of the interpolated
    # term ≈ 1 (exact when summing over all w2 with n1b defined)
    for w1 in heads:
        s = sum(
            max(pairs.get((w1, w2), 0) - D, 0.0) / heads[w1]
            + D * n1f[w1] / heads[w1] * n1b[w2] / T
            for w2 in n1b
        )
        assert s <= 1.0 + 1e-9


def test_hard_negatives_label_mismatch_and_ordering(spark, emb):
    """Every mined negative has a different label from its query; within a
    query, cosines are non-increasing; no self matches; ≤ k per query."""
    out = similarity.hard_negatives(emb, emb.filter("vec_id < 20"), k=5).toPandas()
    assert (out.query_label != out.neighbor_label).all()
    assert (out.query_id != out.neighbor_id).all()
    for qid, g in out.groupby("query_id"):
        g = g.sort_values("rn")
        assert len(g) <= 5
        assert (g.cosine.diff().dropna() <= 1e-12).all()


def test_minhash_index_probe_matches_batch_lsh(spark, docs, tmp_path):
    """Probing a persisted index with a new shard finds exactly the
    cross-shard pairs the batch md5-LSH finds on the union (no recall
    loss from the index split), and the index survives a parquet
    round-trip."""
    sub = docs.filter("doc_id < 200")
    old = sub.filter("doc_id % 5 != 0")
    new = sub.filter("doc_id % 5 = 0")

    index = dedup.minhash_index(old)
    # parquet round-trip: the operational path (bucket by bkey at scale)
    p = str(tmp_path / "mh_index")
    index.write.mode("overwrite").parquet(p)
    index_rt = spark.read.parquet(p)

    got = {
        (r["new_id"], r["index_id"], r["est_jaccard"])
        for r in dedup.minhash_index_probe(
            index_rt, new, threshold=0.2, max_bucket=10**6
        ).collect()
    }

    batch = dedup.minhash_lsh_pairs_md5(
        sub, threshold=0.2, max_bucket=10**6
    ).collect()
    old_ids = {r["doc_id"] for r in old.select("doc_id").collect()}
    want = set()
    for r in batch:
        a, b, j = r["id_a"], r["id_b"], r["est_jaccard"]
        if (a in old_ids) != (b in old_ids):  # cross-shard only
            nid, iid = (b, a) if a in old_ids else (a, b)
            want.add((nid, iid, j))
    assert got == want and len(want) > 0


def test_normalize_text_rules_and_toggles(spark):
    """Each normalization rule does its job; toggles disable independently;
    idempotent on already-normal text."""
    messy = "“Hello  WORLD” — café​!\x07\n\tx  y"
    df = spark.createDataFrame([(1, messy), (2, "plain text")], "id long, t string")
    out = {r["id"]: r["n"] for r in text.normalize_text(df, "t", "n").collect()}
    assert out[1] == '"hello world" - café! x y'
    assert out[2] == "plain text"
    # toggles: keep case, keep quotes
    keep = text.normalize_text(
        df, "t", "n", lowercase=False, normalize_quotes=False
    ).collect()
    got = {r["id"]: r["n"] for r in keep}
    assert "Hello" in got[1] and "“" in got[1]
    # idempotent
    again = text.normalize_text(
        spark.createDataFrame([(1, out[1])], "id long, t string"), "t", "n"
    ).first()["n"]
    assert again == out[1]


def test_skipgram_cooccurrence_window_and_pmi(spark):
    """A collocation at distance 2 is found (window=2) but not at
    distance 3; PMI ordering favors exclusive pairs."""
    docs = [("alpha mid beta filler",)] * 6 + [("gamma noise delta x y z",)] * 6
    extra = [("common w1 common w2 common w3",)] * 6
    df = spark.createDataFrame(docs + extra, "text string")
    out = text.skipgram_cooccurrence(df, window=2, min_count=3, top=100).toPandas()
    pairs = {(r.w1, r.w2) for r in out.itertuples()}
    assert ("alpha", "beta") in pairs          # distance 2
    assert ("alpha", "filler") not in pairs    # distance 3
    assert ("gamma", "x") not in pairs         # distance 3 (canonical order)
    # exclusive pair (alpha,beta) must outrank the promiscuous 'common' pairs
    pmi = {(r.w1, r.w2): r.pmi for r in out.itertuples()}
    common_pmis = [v for (a, b), v in pmi.items() if a == "common" or b == "common"]
    assert pmi[("alpha", "beta")] > max(common_pmis)


def test_minhash_band_geometry_validation(spark, docs):
    """bands must divide num_hashes: degenerate geometries raise loudly
    instead of collapsing the corpus into one bucket per band."""
    sub = docs.limit(10)
    with pytest.raises(ValueError, match="divisor"):
        dedup.minhash_lsh_pairs(sub, num_hashes=16, bands=32).collect()
    with pytest.raises(ValueError, match="divisor"):
        dedup.minhash_lsh_pairs_md5(sub, num_hashes=16, bands=3)
    with pytest.raises(ValueError, match="divisor"):
        dedup.minhash_index(sub, num_hashes=16, bands=0)


def test_hard_negatives_null_label_contract(spark):
    """Unlabeled corpus rows are excluded; unlabeled query rows raise."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 1), (3, [0.8, 0.2], None)],
        "vec_id long, embedding array<double>, label int",
    )
    q = corpus.filter("vec_id = 1")
    out = similarity.hard_negatives(corpus, q, k=5).collect()
    assert {r["neighbor_id"] for r in out} == {2}  # null-labeled 3 excluded

    nullq = spark.createDataFrame(
        [(9, [1.0, 0.0], None)], "vec_id long, embedding array<double>, label int"
    )
    with pytest.raises(Exception, match="non-null"):
        similarity.hard_negatives(corpus, nullq, k=5).collect()


def test_dsir_target_total_counts_unseen_target_buckets(spark):
    """The target model normalizer sums ALL target buckets, including
    those no raw gram hits — two raw docs with identical raw-side
    profiles keep equal weights when the target gains off-raw vocabulary,
    and weights shift by the same constant for every raw gram."""
    from compss_python_spark.llm.sampling import dsir_importance_weights

    raw = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb")], "doc_id long, text string"
    )
    t1 = spark.createDataFrame([(10, "aa bb")], "doc_id long, text string")
    # same target plus a doc whose grams are (almost surely) in buckets
    # the raw corpus never touches
    t2 = spark.createDataFrame(
        [(10, "aa bb"), (11, "zz qq ww ee rr tt yy uu")],
        "doc_id long, text string",
    )
    w1 = {r["doc_id"]: r["log_weight"]
          for r in dsir_importance_weights(raw, t1, num_buckets=4096).collect()}
    w2 = {r["doc_id"]: r["log_weight"]
          for r in dsir_importance_weights(raw, t2, num_buckets=4096).collect()}
    assert w1[1] == w1[2] and w2[1] == w2[2]
    # enlarging the target total must strictly lower raw docs' weights
    assert w2[1] < w1[1]


def test_semantic_dedup_srp_matches_brute_force(spark, emb):
    """The k∝n SRP variant: cell = sign bits of the md5-plane projections
    with b = ceil(log2(n/rows_per_cell)); verdicts equal a brute-force
    within-cell recomputation (same min-id-keeper tail as the centroid
    variant)."""
    import math

    import numpy as np

    n = emb.count()
    rows_per_cell = 8
    b = max(1, math.ceil(math.log2(n / rows_per_cell)))
    planes = np.array(similarity.md5_planes(64, b, table_id=29))
    out = dedup.semantic_dedup_srp(
        emb, min_cosine=0.35, rows_per_cell=rows_per_cell, table_id=29, dim=64
    ).toPandas()
    assert len(out) == n

    rows = emb.select("vec_id", "embedding").collect()
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    assign = {
        vid: sum((1 << i) for i in range(b) if float(planes[i] @ v) > 0)
        for vid, v in V.items()
    }
    assert assign == dict(zip(out.vec_id, out.cell))

    by_cell = {}
    for vid in sorted(V):
        by_cell.setdefault(assign[vid], []).append(vid)
    dup_expect = set()
    for cell_ids in by_cell.values():
        for i, a in enumerate(cell_ids):
            for bb in cell_ids[i + 1 :]:
                cos = float(V[a] @ V[bb] / (np.linalg.norm(V[a]) * np.linalg.norm(V[bb])))
                if round(cos, 6) >= 0.35:
                    dup_expect.add(bb)
    assert set(out[out.is_semantic_dup].vec_id) == dup_expect


def test_semantic_dedup_srp_guard_and_lazy_hint(spark):
    """n_rows short-circuits the eager sizing count; the shared cluster
    guard fires through the SRP path too."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(32)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # rows_per_cell >= n -> b=1 -> 2 cells of ~16; guard at 5 must fire
    with pytest.raises(Exception, match="max_cluster_rows"):
        dedup.semantic_dedup_srp(
            df, rows_per_cell=32, dim=8, n_rows=32, max_cluster_rows=5
        ).collect()
    out = dedup.semantic_dedup_srp(
        df, min_cosine=0.999, rows_per_cell=4, dim=8, n_rows=32
    ).toPandas()
    assert len(out) == 32 and not out.is_semantic_dup.any()


def test_semantic_dedup_warn_band_proceeds_with_warning(spark):
    """Round-10 two-tier guard: cells in the (warn, max] band WARN and
    proceed (round 7 accepted them; round 8's hard raise was over-strict);
    above max the driver raises with the exact size; warn=None restores
    the fully-lazy in-plan raise."""
    import warnings as _warnings

    import numpy as np

    rng = np.random.default_rng(13)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[0.0] * 8]  # one cell: all 20 rows land together

    with pytest.warns(UserWarning, match="warn_cluster_rows=5"):
        out = dedup.semantic_dedup(
            df, centroids=cents, min_cosine=0.999,
            warn_cluster_rows=5, max_cluster_rows=100,
        ).toPandas()
    assert len(out) == 20  # proceeded despite the warning

    with pytest.raises(ValueError, match="20 rows > max_cluster_rows=10"):
        dedup.semantic_dedup(
            df, centroids=cents, warn_cluster_rows=5, max_cluster_rows=10
        )

    # lazy tier: no eager job at construction, in-plan raise on materialize
    lazy = dedup.semantic_dedup(
        df, centroids=cents, warn_cluster_rows=None, max_cluster_rows=10
    )
    with pytest.raises(Exception, match="max_cluster_rows"):
        lazy.collect()
    # below both thresholds: silent
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        dedup.semantic_dedup(
            df, centroids=cents, min_cosine=0.999,
            warn_cluster_rows=50, max_cluster_rows=100,
        ).toPandas()


def test_decontaminate_hint_skips_eager_sizing_job(spark):
    """benchmark_grams_hint keeps plan construction fully lazy (no Spark
    job runs); without the hint the sizing job fires.  Both paths produce
    identical flags (the hint only routes the broadcast decision)."""
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely unrelated text with no overlap at all whatsoever")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(10, "quick brown fox jumps over the lazy dog again")],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "lazy_probe_hint")
    try:
        lazy = dedup.decontaminate(corpus, bench, n=8, benchmark_grams_hint=100)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("lazy_probe_hint") == [], (
        "hinted construction must not run any Spark job"
    )
    sc.setLocalProperty("spark.jobGroup.id", "eager_probe_nohint")
    try:
        eager = dedup.decontaminate(corpus, bench, n=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("eager_probe_nohint")) >= 1
    a = {r["doc_id"]: r["contaminated"] for r in lazy.collect()}
    b = {r["doc_id"]: r["contaminated"] for r in eager.collect()}
    assert a == b == {1: True, 2: False}

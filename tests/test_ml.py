"""Tests for ML/graph/stats algorithms: invariants and accuracy floors."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from compss_python_spark.plans.registry import table

    return table(spark, sf_dir, "embeddings").persist()


def test_kmeans_runs_and_improves(emb):
    from compss_python_spark.ml.clustering import kmeans, kmeans_cost

    out1, m1 = kmeans(emb, k=10, max_iter=1, seed=7)
    out20, m20 = kmeans(emb, k=10, max_iter=20, seed=7)
    assert out20.select("cluster").distinct().count() <= 10
    assert kmeans_cost(m20) <= kmeans_cost(m1) + 1e-9


def test_knn_self_consistency(emb):
    from compss_python_spark.ml.classification import knn

    # k=1 on identical train/test (excluding nothing) → every point's nearest
    # neighbor is itself → prediction == label.
    out = knn(emb, emb, k=1)
    acc = out.filter(F.col("prediction") == F.col("label")).count() / out.count()
    assert acc == 1.0


def _separable(spark, n_classes=3, n=120, dim=8, seed=3):
    """Gaussian blobs with well-separated means (fixture labels are random
    wrt embeddings — 1-NN LOO ≈ 7% — so accuracy floors need real signal)."""
    rng = np.random.default_rng(seed)
    rows = []
    for c in range(n_classes):
        center = np.zeros(dim)
        center[c % dim] = 5.0
        pts = rng.normal(loc=center, scale=0.5, size=(n // n_classes, dim))
        rows += [(len(rows) + i, [float(x) for x in p], c) for i, p in enumerate(pts)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    )


def test_logreg_separable(spark):
    from compss_python_spark.ml.classification import logistic_regression

    df = _separable(spark)
    pred, _ = logistic_regression(df.filter("vec_id % 2 = 0"), df.filter("vec_id % 2 = 1"))
    acc = pred.filter(F.col("prediction") == F.col("label")).count() / pred.count()
    assert acc > 0.95, f"accuracy {acc} on separable blobs"


def test_logreg_fixture_smoke(emb):
    from compss_python_spark.ml.classification import logistic_regression

    pred, _ = logistic_regression(emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1"))
    assert pred.count() == emb.filter("vec_id % 2 = 1").count()
    assert pred.select("prediction").distinct().count() <= 10


def test_linear_svc_separable(spark):
    from compss_python_spark.ml.classification import linear_svc

    df = _separable(spark, n_classes=2)
    pred, _ = linear_svc(df.filter("vec_id % 2 = 0"), df.filter("vec_id % 2 = 1"))
    acc = pred.filter(F.col("prediction") == F.col("label")).count() / pred.count()
    assert acc > 0.95


def test_knn_separable(spark):
    from compss_python_spark.ml.classification import knn

    df = _separable(spark)
    out = knn(df.filter("vec_id % 2 = 0"), df.filter("vec_id % 2 = 1"), k=3)
    acc = out.filter(F.col("prediction") == F.col("label")).count() / out.count()
    assert acc > 0.95


def test_knn_train_size_gate(spark):
    """An over-budget train set raises only when the LSH route is disabled
    (bounded-collect contract); by default it re-routes."""
    import pytest

    from compss_python_spark.ml.classification import knn

    df = _separable(spark)
    with pytest.raises(ValueError, match="broadcast budget"):
        knn(df, df, k=1, max_train_rows=10, approx_above_budget=False)


def test_knn_lsh_route_above_budget(spark):
    """Over-budget train sets route through the distributed LSH candidate
    join + exact re-rank: one prediction per test row, and measured
    agreement with exact KNN on the same (separable) data."""
    from compss_python_spark.ml.classification import knn

    df = _separable(spark)
    train, test = df.filter("vec_id % 2 = 0"), df.filter("vec_id % 2 = 1")
    exact = {r["vec_id"]: r["prediction"]
             for r in knn(train, test, k=3).collect()}
    approx_df = knn(train, test, k=3, max_train_rows=10)  # forces LSH route
    rows = approx_df.collect()
    assert len(rows) == test.count()  # exactly one prediction per test row
    approx = {r["vec_id"]: r["prediction"] for r in rows}
    agree = sum(approx[i] == exact[i] for i in exact) / len(exact)
    assert agree > 0.9, f"LSH-route recall vs exact KNN too low: {agree}"


def test_gaussian_nb(emb):
    from compss_python_spark.ml.classification import gaussian_nb

    # embeddings are non-negative? NB gaussian handles any reals.
    pred, _ = gaussian_nb(emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1"))
    assert pred.count() == emb.filter("vec_id % 2 = 1").count()


def test_simple_linreg_matches_numpy(spark):
    rng = np.random.default_rng(0)
    x = rng.normal(size=500)
    y = 2.5 * x + 1.0 + rng.normal(scale=0.1, size=500)
    df = spark.createDataFrame(pd.DataFrame({"x": x, "y": y}))
    from compss_python_spark.ml.regression import simple_linear_regression

    row = simple_linear_regression(df, "x", "y").first()
    slope, intercept = np.polyfit(x, y, 1)
    assert row["slope"] == pytest.approx(slope, abs=1e-9)
    assert row["intercept"] == pytest.approx(intercept, abs=1e-9)


def test_dbscan_blobs(spark):
    from compss_python_spark.ml.clustering import dbscan

    rng = np.random.default_rng(1)
    blob1 = rng.normal(loc=(0, 0), scale=0.1, size=(40, 2))
    blob2 = rng.normal(loc=(5, 5), scale=0.1, size=(40, 2))
    noise = np.array([[2.5, 2.5]])
    pts = np.vstack([blob1, blob2, noise])
    pdf = pd.DataFrame({"point_id": range(len(pts)), "x": pts[:, 0], "y": pts[:, 1]})
    out = dbscan(spark.createDataFrame(pdf), ["x", "y"], eps=0.5, min_pts=5).collect()
    labels = {r["point_id"]: r["cluster"] for r in out}
    c1 = {labels[i] for i in range(40)}
    c2 = {labels[i] for i in range(40, 80)}
    assert len(c1) == 1 and len(c2) == 1 and c1 != c2
    assert labels[80] == -1  # isolated noise point


def test_dbscan_cross_cell_merge(spark):
    """A dense line crossing several grid cells must come out as ONE cluster."""
    from compss_python_spark.ml.clustering import dbscan

    xs = np.arange(0, 10, 0.05)
    pdf = pd.DataFrame({"point_id": range(len(xs)), "x": xs, "y": np.zeros(len(xs))})
    out = dbscan(spark.createDataFrame(pdf), ["x", "y"], eps=0.2, min_pts=3).collect()
    clusters = {r["cluster"] for r in out}
    assert clusters == {0}, f"expected single cluster, got {clusters}"


def test_dbscan_cell_size_guard(spark):
    from compss_python_spark.ml.clustering import dbscan

    pdf = pd.DataFrame({"point_id": [0, 1], "x": [0.0, 1.0], "y": [0.0, 1.0]})
    with pytest.raises(ValueError, match="halo"):
        dbscan(spark.createDataFrame(pdf), ["x", "y"], eps=0.5, min_pts=2, cell_size=0.4)


def test_gaussian_nb_exact_separated(spark):
    """Two well-separated gaussian classes → exact NB recovers the labels."""
    from compss_python_spark.ml.classification import gaussian_nb_exact

    rng = np.random.default_rng(7)
    a = rng.normal(loc=-2.0, scale=0.3, size=(30, 4))
    b = rng.normal(loc=2.0, scale=0.3, size=(30, 4))
    pdf = pd.DataFrame(
        {
            "vec_id": range(60),
            "label": [0] * 30 + [1] * 30,
            "embedding": [list(map(float, r)) for r in np.vstack([a, b])],
        }
    )
    df = spark.createDataFrame(pdf)
    out = gaussian_nb_exact(df, df, dim=4).collect()
    assert all(r["prediction"] == r["label"] for r in out)


def test_pagerank_sums_to_one(spark):
    from compss_python_spark.graph.pagerank import pagerank

    edges = spark.createDataFrame(
        pd.DataFrame({"src": [1, 2, 3, 4, 1], "dst": [2, 3, 1, 1, 3]})
    )
    ranks = pagerank(edges, max_iters=20)
    total = ranks.agg(F.sum("rank").alias("s")).first()["s"]
    assert total == pytest.approx(1.0, abs=1e-6)


def test_pagerank_matches_networkx_star(spark):
    """4-node graph with known structure: hub receives most rank."""
    from compss_python_spark.graph.pagerank import pagerank

    edges = spark.createDataFrame(
        pd.DataFrame({"src": [2, 3, 4], "dst": [1, 1, 1]})
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, max_iters=30).collect()}
    assert ranks[1] == max(ranks.values())
    assert ranks[2] == pytest.approx(ranks[3], abs=1e-9)


def test_pagerank_local_matches_distributed(spark):
    """The bounded-size driver fast path and the distributed loop are the
    same algorithm — ranks must agree to float tolerance (duplicate edges
    exercise the driver-side dedup)."""
    from compss_python_spark.graph.pagerank import pagerank

    edges = spark.createDataFrame(
        pd.DataFrame(
            {"src": [1, 2, 3, 4, 1, 5, 1], "dst": [2, 3, 1, 1, 3, 2, 2]}
        )
    )
    local = {r["node"]: r["rank"] for r in pagerank(edges, max_iters=12).collect()}
    dist = {
        r["node"]: r["rank"]
        for r in pagerank(edges, max_iters=12, local_threshold=0).collect()
    }
    assert set(local) == set(dist)
    for n in local:
        assert local[n] == pytest.approx(dist[n], abs=1e-12)


def test_pagerank_is_personalized_pagerank_seeded_everywhere(spark):
    """Global PageRank is personalized PageRank with every node a seed —
    the identity the single PageRank kernel relies on — on both the
    driver kernel and the distributed loop."""
    from compss_python_spark.graph.pagerank import pagerank, personalized_pagerank

    edges = spark.createDataFrame(
        pd.DataFrame(
            {"src": [1, 2, 3, 4, 1, 5, 1], "dst": [2, 3, 1, 1, 3, 2, 6]}
        )
    )
    all_nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    )
    for lt in (4_000_000, 0):  # driver kernel, distributed loop
        glob = {r["node"]: r["rank"]
                for r in pagerank(edges, max_iters=10, local_threshold=lt).collect()}
        pers = {r["node"]: r["rank"]
                for r in personalized_pagerank(
                    edges, all_nodes, max_iters=10, local_threshold=lt
                ).collect()}
        assert set(glob) == set(pers) == {1, 2, 3, 4, 5, 6}
        for n in glob:
            assert glob[n] == pytest.approx(pers[n], abs=1e-12)


def test_ks_statistic_matches_reference(spark):
    """KS d-statistic vs a pure-python ECDF computation on the same data."""
    from compss_python_spark.functions.statistics import ks_one_sample_normal

    rng = np.random.default_rng(2)
    data = rng.normal(loc=10, scale=3, size=2000)
    df = spark.createDataFrame(pd.DataFrame({"v": data}))
    d, p = ks_one_sample_normal(df, "v")

    mean, std = data.mean(), data.std(ddof=1)
    xs = np.sort(data)
    cdf = 0.5 * (1 + np.vectorize(math.erf)((xs - mean) / (std * math.sqrt(2))))
    n = len(xs)
    d_ref = max(
        np.max(np.abs(cdf - np.arange(0, n) / n)),
        np.max(np.abs(np.arange(1, n + 1) / n - cdf)),
    )
    assert d == pytest.approx(d_ref, abs=1e-9)
    assert 0.0 <= p <= 1.0


def test_fpgrowth_finds_planted_itemset(spark):
    from compss_python_spark.ml.fpm import fp_growth

    baskets = [["milk", "bread"]] * 60 + [["beer"]] * 40
    df = spark.createDataFrame(
        pd.DataFrame({"basket_id": range(100), "items": baskets})
    )
    itemsets, rules, _ = fp_growth(df, min_support=0.5, min_confidence=0.8)
    found = {r["itemset"] for r in itemsets.collect()}
    assert "bread,milk" in found
    rule_pairs = {(r["antecedent"], r["consequent"]) for r in rules.collect()}
    assert ("milk", "bread") in rule_pairs and ("bread", "milk") in rule_pairs


def test_evaluation_metrics(spark):
    from compss_python_spark.ml.evaluation import accuracy, confusion_matrix, multiclass_metrics

    df = spark.createDataFrame(
        pd.DataFrame({"label": [0, 0, 1, 1], "prediction": [0, 1, 1, 1]})
    )
    assert accuracy(df) == pytest.approx(0.75)
    cm = {(r["label"], r["prediction"]): r["n"] for r in confusion_matrix(df).collect()}
    assert cm == {(0, 0): 1, (0, 1): 1, (1, 1): 2}
    mm = {r["cls"]: r for r in multiclass_metrics(df).collect()}
    assert mm[1]["precision"] == pytest.approx(2 / 3, abs=1e-6)
    assert mm[1]["recall"] == pytest.approx(1.0)


def test_feature_pipeline(spark, sf_dir):
    from compss_python_spark.ml import feature as feat
    from compss_python_spark.plans.registry import table

    docs = table(spark, sf_dir, "documents").limit(50)
    tok = feat.tokenizer(docs, "text")
    assert "tokens" in tok.columns
    nsw = feat.remove_stop_words(tok, "tokens")
    ng = feat.ngram(nsw, "filtered", n=2)
    assert ng.first()["ngrams"] is not None
    tfidf_df, _ = feat.tfidf(tok, "tokens", num_features=256)
    assert len(tfidf_df.first()["tfidf"]) == 256
    scaled, _ = feat.standard_scaler(
        spark.createDataFrame(pd.DataFrame({"v": [[1.0, 2.0], [3.0, 4.0]]})), "v"
    )
    vals = np.array([r["scaled"] for r in scaled.collect()])
    assert vals.mean() == pytest.approx(0.0, abs=1e-9)


def test_pca_reduces_dim(emb):
    from compss_python_spark.ml.feature import pca

    out, _ = pca(emb.limit(100), "embedding", k=8)
    assert len(out.first()["pca"]) == 8


def test_string_indexer_roundtrip(spark):
    from compss_python_spark.ml.feature import index_to_string, string_indexer

    df = spark.createDataFrame(pd.DataFrame({"c": ["b", "a", "b", "c", "b"]}))
    indexed, model = string_indexer(df, "c")
    assert indexed.filter("c = 'b'").first()["label_idx"] == 0.0  # most frequent
    back = index_to_string(indexed, "label_idx", model.labels)
    assert back.filter(F.col("c") != F.col("label_str")).count() == 0


def test_model_save_load_roundtrip(spark, sf_dir, tmp_path):
    """ModelDDF save_model/load_model parity: KMeans model round-trips and
    predicts identically."""
    from pyspark.ml.clustering import KMeansModel

    from compss_python_spark.ml.clustering import kmeans
    from compss_python_spark.ml.persistence import load_model, save_model
    from compss_python_spark.plans.registry import table

    emb = table(spark, sf_dir, "embeddings")
    out, model = kmeans(emb, k=4, seed=1)
    path = str(tmp_path / "kmeans_model")
    save_model(model, path)
    back = load_model(KMeansModel, path)
    assert [list(c) for c in back.clusterCenters()] == [
        list(c) for c in model.clusterCenters()
    ]


def test_kmeans_lloyd_fixed_init_partitions_all_points(spark, sf_dir):
    """Lloyd with fixed init: every point assigned exactly once, all k
    clusters non-empty on this data, and the result is run-deterministic."""
    from compss_python_spark.ml.clustering import kmeans_lloyd
    from compss_python_spark.plans.registry import table

    emb = table(spark, sf_dir, "embeddings")
    a = kmeans_lloyd(emb, init_ids=list(range(8)), iters=2)
    b = kmeans_lloyd(emb, init_ids=list(range(8)), iters=2)
    ra = {r["vec_id"]: r["cluster"] for r in a.collect()}
    rb = {r["vec_id"]: r["cluster"] for r in b.collect()}
    assert ra == rb
    assert len(ra) == emb.count()
    assert len(set(ra.values())) == 8


def test_kmeans_lloyd_matches_numpy_lloyd_on_8_dim_vectors(spark):
    """The update width comes from the data: 8-dim vectors cluster exactly
    as a numpy Lloyd run does.  Init row 3 duplicates row 0, so cluster 3
    loses every first-round tie to cluster 0 and must keep its centroid
    while empty."""
    from compss_python_spark.ml.clustering import kmeans_lloyd

    rng = np.random.default_rng(11)
    X = rng.normal(size=(120, 8))
    X[3] = X[0]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    init_ids, iters = [0, 40, 80, 3], 3
    cents = X[init_ids].copy()
    rounds = []
    for _ in range(iters + 1):
        assign = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        rounds.append(assign)
        cents = np.array([
            X[assign == j].mean(axis=0) if (assign == j).any() else cents[j]
            for j in range(len(init_ids))
        ])
    assert not (rounds[0] == 3).any()  # the empty-cluster path is exercised
    got = {r["vec_id"]: r["cluster"] for r in kmeans_lloyd(df, init_ids, iters=iters).collect()}
    assert got == {i: int(c) for i, c in enumerate(rounds[-1])}


def test_kmeans_lloyd_rejects_a_nan_vector(spark):
    """A NaN point drags its cluster's mean to NaN, which has no SQL
    literal: the call raises instead of ranking clusters by NaN."""
    from compss_python_spark.ml.clustering import kmeans_lloyd

    vecs = [[0.0, 0.0], [5.0, 5.0], [0.1, 0.2], [float("nan"), 1.0]]
    df = spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="non-finite"):
        kmeans_lloyd(df, [0, 1], iters=1)


def test_triangle_count_exact(spark):
    from compss_python_spark.graph.triangles import triangle_count

    # K4 (4 triangles) + one pendant edge + duplicate/reversed edges
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (2, 1), (3, 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    assert triangle_count(e).first()["n_triangles"] == 4
    assert triangle_count(e, orient_by_degree=True).first()["n_triangles"] == 4


def test_pagerank_local_string_nodes(spark):
    """The bounded local path must handle non-integer node ids (URLs,
    usernames) — regression: np.unique(axis=0) rejects object dtype.  The
    distributed loop takes them too (its broadcast gate measures the mean
    key length of string ids)."""
    from compss_python_spark.graph.pagerank import pagerank

    edges = spark.createDataFrame(
        pd.DataFrame({"src": ["a", "b", "c"], "dst": ["b", "c", "a"]})
    )
    for lt in (4_000_000, 0):  # driver kernel, distributed loop
        ranks = {r["node"]: r["rank"]
                 for r in pagerank(edges, max_iters=15, local_threshold=lt).collect()}
        assert set(ranks) == {"a", "b", "c"}
        # symmetric ring -> equal ranks
        assert max(ranks.values()) - min(ranks.values()) < 1e-9
        assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)


@pytest.mark.parametrize("ks", ["ks_one_sample_uniform", "ks_one_sample_normal"])
def test_ks_test_ignores_null_values(spark, ks):
    """Null values are no observations: they neither count in n nor move
    any ECDF position, so D and p are those of the non-null values."""
    from compss_python_spark.functions import statistics

    vals = [0.05, 0.2, 0.35, 0.5, 0.9, 0.95]
    without = spark.createDataFrame([(v,) for v in vals], "v double")
    with_nulls = spark.createDataFrame(
        [(v,) for v in vals[:3] + [None] + vals[3:] + [None]], "v double"
    )
    d, p = getattr(statistics, ks)(without, "v")
    d_n, p_n = getattr(statistics, ks)(with_nulls, "v")
    assert d_n == pytest.approx(d, abs=1e-12)
    assert p_n == pytest.approx(p, abs=1e-12)


@pytest.mark.parametrize("vals", [[], [None, None]], ids=["empty", "all_null"])
@pytest.mark.parametrize("ks", ["ks_one_sample_uniform", "ks_one_sample_normal"])
def test_ks_test_without_values_raises(spark, ks, vals):
    from compss_python_spark.functions import statistics

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    with pytest.raises(ValueError, match="no non-null rows"):
        getattr(statistics, ks)(df, "v")


def test_erf_poly_expr_accuracy(spark):
    """The JVM polynomial erf (A&S 7.1.26) stays within its documented
    1.5e-7 bound of math.erf across the useful range, and the poly-erf KS
    pipeline agrees with the exact-erf one to ECDF resolution."""
    from compss_python_spark.functions.statistics import (
        erf_poly_expr,
        ks_one_sample_normal,
    )

    xs = np.linspace(-5, 5, 2001)
    df = spark.createDataFrame(pd.DataFrame({"x": xs}))
    got = {r["x"]: r["e"] for r in df.select("x", erf_poly_expr(F.col("x")).alias("e")).collect()}
    for x in xs:
        assert abs(got[x] - math.erf(x)) <= 1.6e-7, x
    assert got[0.0] == 0.0  # signum(0) = 0 → exact zero, matching math.erf

    rng = np.random.default_rng(11)
    data = pd.DataFrame({"v": rng.normal(5, 2, size=3000)})
    vdf = spark.createDataFrame(data)
    d_exact, p_exact = ks_one_sample_normal(vdf, "v")
    d_poly, p_poly = ks_one_sample_normal(vdf, "v", erf_impl="poly")
    assert d_poly == pytest.approx(d_exact, abs=2e-7)
    assert p_poly == pytest.approx(p_exact, abs=1e-4)


def test_chi_square_independence_numpy_parity(spark):
    """Statistic/dof match an independent numpy contingency computation on
    random categorical data, and equal zero on perfectly independent data."""
    import numpy as np
    import pandas as pd

    from compss_python_spark.functions.statistics import chi_square_independence

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "a": rng.choice(["x", "y", "z"], 400),
        "b": rng.choice(["u", "v"], 400),
    })
    row = chi_square_independence(spark.createDataFrame(pdf), "a", "b").first()
    ct = pd.crosstab(pdf["a"], pdf["b"]).to_numpy().astype(float)
    exp = np.outer(ct.sum(1), ct.sum(0)) / ct.sum()
    chi2_ref = float(((ct - exp) ** 2 / exp).sum())
    assert row["chi2"] == pytest.approx(chi2_ref, abs=1e-5)
    assert row["dof"] == (ct.shape[0] - 1) * (ct.shape[1] - 1)
    assert row["n"] == 400

    # balanced 2x2 with identical margins per cell -> chi2 exactly 0
    flat = pd.DataFrame({"a": ["x", "x", "y", "y"], "b": ["u", "v", "u", "v"]})
    assert chi_square_independence(spark.createDataFrame(flat), "a", "b").first()["chi2"] == 0.0


def test_welch_t_test_numpy_parity(spark):
    import numpy as np
    import pandas as pd

    from compss_python_spark.functions.statistics import welch_t_test

    rng = np.random.default_rng(11)
    xa = rng.normal(10.0, 2.0, 120)
    xb = rng.normal(9.2, 4.0, 80)
    pdf = pd.DataFrame({
        "g": ["a"] * 120 + ["b"] * 80,
        "v": np.concatenate([xa, xb]),
    })
    row = welch_t_test(spark.createDataFrame(pdf), "v", "g", "a", "b").first()
    na, nb = 120.0, 80.0
    va, vb = xa.var(ddof=1), xb.var(ddof=1)
    se2 = va / na + vb / nb
    t_ref = (xa.mean() - xb.mean()) / np.sqrt(se2)
    dof_ref = se2**2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    assert row["t_stat"] == pytest.approx(float(t_ref), abs=1e-5)
    assert row["dof"] == pytest.approx(float(dof_ref), abs=1e-4)
    assert row["n_a"] == 120 and row["n_b"] == 80


def test_bucketizer_scalar_edges(spark):
    import pandas as pd

    from compss_python_spark.ml.feature import bucketizer_scalar

    df = spark.createDataFrame(pd.DataFrame({"v": [-1.0, 0.0, 0.5, 1.0, 1.5, 2.0, 3.0, None]}))
    out = {r["v"]: r["bucket"] for r in
           bucketizer_scalar(df, "v", [0.0, 1.0, 2.0]).collect()}
    assert out[-1.0] is None and out[3.0] is None and out[None] is None
    assert out[0.0] == 0 and out[0.5] == 0          # [0,1)
    assert out[1.0] == 1 and out[1.5] == 1          # [1,2)
    assert out[2.0] == 1                            # final edge inclusive
    with pytest.raises(ValueError, match="ascending"):
        bucketizer_scalar(df, "v", [1.0, 0.0])


def test_quantile_discretizer_equal_frequency(spark):
    import pandas as pd

    from compss_python_spark.ml.feature import quantile_discretizer

    df = spark.createDataFrame(pd.DataFrame({"v": [float(i) for i in range(1000)]}))
    out = quantile_discretizer(df, "v", 5)
    counts = {r["bucket"]: r["n"] for r in
              out.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {0, 1, 2, 3, 4}
    assert all(180 <= c <= 220 for c in counts.values())
    # approx path returns the same bucket COUNT structure
    approx = quantile_discretizer(df, "v", 5, relative_error=0.001)
    assert approx.select("bucket").distinct().count() == 5


def test_count_min_sketch_properties(spark):
    """CMS never underestimates, is exact when width is collision-free,
    and merges by re-aggregation."""
    import pandas as pd

    from compss_python_spark.functions import sketches

    pdf = pd.DataFrame({"k": ["a"] * 10 + ["b"] * 5 + ["c"] * 2})
    df = spark.createDataFrame(pdf)
    keys = spark.createDataFrame(pd.DataFrame({"k": ["a", "b", "c", "never"]}))
    # wide sketch: no collisions possible among 3 keys over 1024 cells
    sk = sketches.cms_build(df, "k", width=1024, depth=3)
    est = {r["k"]: r["est_count"]
           for r in sketches.cms_estimate(sk, keys, "k", width=1024, depth=3).collect()}
    assert est == {"a": 10, "b": 5, "c": 2, "never": 0}
    # tiny sketch: still an upper bound
    sk2 = sketches.cms_build(df, "k", width=2, depth=2)
    est2 = {r["k"]: r["est_count"]
            for r in sketches.cms_estimate(sk2, keys, "k", width=2, depth=2).collect()}
    assert est2["a"] >= 10 and est2["b"] >= 5 and est2["c"] >= 2
    # merge = union + re-aggregate
    merged = (
        sk.unionByName(sketches.cms_build(df, "k", width=1024, depth=3))
        .groupBy("j", "pos").agg(F.sum("cnt").alias("cnt"))
    )
    est3 = {r["k"]: r["est_count"]
            for r in sketches.cms_estimate(merged, keys, "k", width=1024, depth=3).collect()}
    assert est3 == {"a": 20, "b": 10, "c": 4, "never": 0}


def test_hyperloglog_accuracy_and_merge(spark):
    """HLL estimate within the expected error envelope (~13% for m=64) on
    a few cardinalities; union + re-max merges sketches losslessly."""
    import pandas as pd

    from compss_python_spark.functions import sketches

    for n in (40, 400, 4000):
        df = spark.createDataFrame(pd.DataFrame({"k": [f"key-{i}" for i in range(n)]}))
        est = sketches.hll_estimate(sketches.hll_build(df, "k", b=6), b=6).first()["est"]
        assert abs(est - n) / n < 0.45, (n, est)  # 3.5σ of 1.04/sqrt(64)
    a = spark.createDataFrame(pd.DataFrame({"k": [f"key-{i}" for i in range(0, 300)]}))
    b = spark.createDataFrame(pd.DataFrame({"k": [f"key-{i}" for i in range(200, 500)]}))
    merged = (
        sketches.hll_build(a, "k").unionByName(sketches.hll_build(b, "k"))
        .groupBy("idx").agg(F.max("rho_max").alias("rho_max"))
    )
    est_m = sketches.hll_estimate(merged).first()["est"]
    est_u = sketches.hll_estimate(
        sketches.hll_build(a.unionByName(b), "k")
    ).first()["est"]
    assert est_m == est_u  # merge is exact, not approximate


def test_multinomial_nb_separable(spark):
    """On cleanly separable vocabularies NB classifies perfectly, priors
    break token-free ties, and OOV tokens are ignored."""
    import pandas as pd

    from compss_python_spark.ml.classification import multinomial_nb

    train = pd.DataFrame({
        "doc_id": range(6),
        "y": ["sport", "sport", "sport", "cook", "cook", "cook"],
        "toks": [["goal", "match", "team"], ["team", "goal", "win"],
                 ["match", "win", "score"], ["oven", "bake", "flour"],
                 ["flour", "sugar", "bake"], ["oven", "sugar", "recipe"]],
    })
    test = pd.DataFrame({
        "doc_id": [10, 11, 12],
        "y": [None, None, None],
        "toks": [["goal", "team", "teleport"],       # sporty + one OOV
                 ["bake", "sugar"],                  # cooky
                 ["neverseen", "alsonever"]],        # all OOV -> prior tie
    })
    rows = {r["doc_id"]: r for r in multinomial_nb(
        spark.createDataFrame(train), spark.createDataFrame(test),
        "y", "toks", "doc_id").collect()}
    out = {k: r["prediction"] for k, r in rows.items()}
    assert out[10] == "sport" and out[11] == "cook"
    # all-OOV doc: every token is filtered by the vocab join, so the doc
    # falls back to the prior argmax (equal priors here -> label-asc tie
    # break = "cook") with score = its log prior; one row per test id always
    assert out[12] == "cook"
    assert abs(rows[12]["score"] - math.log(0.5)) < 1e-5


def test_k_core_known_and_random(spark):
    """Clique+tail: the clique survives k=3, the tail peels away (including
    cascade); random graph matches an independent python peel."""
    import collections
    import itertools

    import numpy as np
    import pandas as pd

    from compss_python_spark.graph.kcore import k_core

    # K4 on 0-3 plus a path 3-10-11-12
    edges = list(itertools.combinations(range(4), 2)) + [(3, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    out = {r["node"]: r["degree"] for r in k_core(df, 3).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}
    assert k_core(df, 5).count() == 0

    rng = np.random.default_rng(23)
    redges = {tuple(sorted(p)) for p in rng.integers(0, 60, (300, 2)) if p[0] != p[1]}
    rdf = spark.createDataFrame(pd.DataFrame(sorted(redges), columns=["src", "dst"]))
    got = {r["node"]: r["degree"] for r in k_core(rdf, 4).collect()}
    adj = collections.defaultdict(set)
    for s, d in redges:
        adj[s].add(d); adj[d].add(s)
    while True:
        drop = [n for n, nb in adj.items() if len(nb) < 4]
        if not drop:
            break
        for n in drop:
            for nb in adj[n]:
                adj[nb].discard(n)
            del adj[n]
    assert got == {n: len(nb) for n, nb in adj.items()}
    with pytest.raises(ValueError, match="k must be"):
        k_core(rdf, 0)


def test_label_propagation_two_cliques(spark):
    from compss_python_spark.graph.lpa import label_propagation

    # two 4-cliques joined by one bridge edge: LPA should settle each
    # clique on its own min label (synchronous, min-label tie-break)
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], ["src", "dst"])
    out = {r["node"]: r["label"] for r in label_propagation(edges, 6).collect()}
    assert set(out) == set(range(4)) | set(range(10, 14))
    # both cliques collapse to a single community label each
    assert len({out[n] for n in range(3)}) == 1
    assert len({out[n] for n in range(11, 14)}) == 1


def test_bfs_layers_path_graph(spark):
    from compss_python_spark.graph.lpa import bfs_layers

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(0,)], ["node"])
    out = {r["node"]: r["dist"] for r in bfs_layers(edges, seeds, 4).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}  # exactly 4 hops reached


def test_target_encoding_shrinks_rare_categories(spark):
    from compss_python_spark.ml.feature import target_encode

    rows = [("common", 10.0)] * 100 + [("rare", 100.0)]
    df = spark.createDataFrame(rows, ["c", "y"])
    out = {r["c"]: r["enc"] for r in target_encode(df, "c", "y", smoothing=20.0)
           .select("c", "enc").distinct().collect()}
    mu = (100 * 10.0 + 100.0) / 101
    # common: barely moved; rare: pulled hard toward the global mean
    assert abs(out["common"] - (100 * 10 + 20 * mu) / 120) < 1e-3
    assert abs(out["rare"] - (100 + 20 * mu) / 21) < 1e-3
    assert out["rare"] < 100.0 and out["rare"] > mu


def test_random_projection_preserves_relative_distances(spark, sf_dir):
    from compss_python_spark.llm.similarity import random_projection
    from compss_python_spark.plans.registry import table
    import numpy as np

    emb = table(spark, sf_dir, "embeddings").limit(60)
    orig = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
    proj = {r["vec_id"]: np.array(r["proj"]) for r in random_projection(emb, 16).collect()}
    ids = sorted(orig)[:20]
    # JL: distance ratios roughly preserved (loose bound for 16 dims)
    import itertools
    ratios = []
    for a, b in itertools.combinations(ids, 2):
        d0 = np.linalg.norm(orig[a] - orig[b])
        d1 = np.linalg.norm(proj[a] - proj[b])
        if d0 > 1e-6:
            ratios.append(d1 / d0)
    m = sum(ratios) / len(ratios)
    spread = max(abs(r - m) for r in ratios)
    assert spread < 1.2 * m  # distances neither collapse nor explode


def test_roc_auc_separable_and_ties(spark):
    """Perfect separation -> 1.0; all-equal scores -> 0.5 (pure ties);
    anti-separation -> 0.0; a hand case matches sklearn's trapezoid
    value computed by hand."""
    from compss_python_spark.ml.evaluation import roc_auc

    sep = spark.createDataFrame(
        [(0, 1.0), (0, 2.0), (1, 3.0), (1, 4.0)], "label int, score double"
    )
    assert roc_auc(sep).first()["auc"] == 1.0
    flat = spark.createDataFrame(
        [(0, 5.0), (1, 5.0), (0, 5.0), (1, 5.0)], "label int, score double"
    )
    assert roc_auc(flat).first()["auc"] == 0.5
    anti = spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (0, 3.0), (0, 4.0)], "label int, score double"
    )
    assert roc_auc(anti).first()["auc"] == 0.0
    # scores: pos {3, 2}, neg {1, 2}: pairs (3>1)=1, (3>2)=1, (2>1)=1,
    # (2=2)=0.5 -> 3.5/4 = 0.875
    hand = spark.createDataFrame(
        [(1, 3.0), (1, 2.0), (0, 1.0), (0, 2.0)], "label int, score double"
    )
    r = roc_auc(hand).first()
    assert (r["auc"], r["n_pos"], r["n_neg"]) == (0.875, 2, 2)


def test_psi_drift_zero_and_positive(spark):
    from compss_python_spark.functions.statistics import psi_drift

    rows = [("a", float(v)) for v in range(1, 101)]
    same = spark.createDataFrame(
        rows + [("b", float(v)) for v in range(1, 101)], "s string, v double"
    )
    out = psi_drift(same, "v", "s", "a", "b", breaks=[25.0, 50.0, 75.0])
    assert all(r["psi_contrib"] == 0.0 for r in out.collect())
    assert out.first()["psi_total"] == 0.0
    # disjoint supports -> large PSI, every bin contributes positively
    shifted = spark.createDataFrame(
        rows + [("b", float(v) + 200.0) for v in range(1, 101)],
        "s string, v double",
    )
    out2 = psi_drift(shifted, "v", "s", "a", "b", breaks=[25.0, 50.0, 75.0, 150.0])
    t = out2.first()["psi_total"]
    assert t > 1.0
    assert all(r["psi_contrib"] >= 0.0 for r in out2.collect())


def test_sssp_weighted_prefers_lighter_multi_hop_path(spark):
    """Two-hop light path (1+1=2) beats the direct heavy edge (10);
    parallel edges keep the lighter; negative weights raise."""
    import pytest

    from compss_python_spark.graph.lpa import sssp_weighted

    edges = spark.createDataFrame(
        [(0, 2, 10.0), (0, 1, 1.0), (1, 2, 1.0), (0, 2, 7.0), (2, 3, 2.0)],
        "src long, dst long, weight double",
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    d = {r["node"]: r["dist"] for r in sssp_weighted(edges, seeds, num_rounds=4).collect()}
    assert d == {0: 0.0, 1: 1.0, 2: 2.0, 3: 4.0}
    # round bound: 1 round only reaches direct neighbors with direct costs
    d1 = {r["node"]: r["dist"] for r in sssp_weighted(edges, seeds, num_rounds=1).collect()}
    assert d1[2] == 7.0  # lighter of the parallel direct edges, not 2-hop
    neg = spark.createDataFrame([(0, 1, -1.0)], "src long, dst long, weight double")
    with pytest.raises(ValueError, match="negative"):
        sssp_weighted(neg, seeds)


def test_personalized_pagerank_mass_and_locality(spark):
    """Σrank = 1; seed-adjacent nodes outrank distant ones; distributed
    loop (local_threshold=0) matches the driver kernel to float noise;
    out-of-graph seeds are ignored (and all-out raises)."""
    import pytest as _pt

    from compss_python_spark.graph.pagerank import personalized_pagerank

    # two communities bridged weakly: 0-4 clique, 10-14 clique, 4->10 bridge
    edges = [(a, b) for a in range(5) for b in range(5) if a != b]
    edges += [(a, b) for a in range(10, 15) for b in range(10, 15) if a != b]
    edges += [(4, 10)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (999,)], "node long")  # 999 not in graph

    local = {r["node"]: r["rank"]
             for r in personalized_pagerank(e, seeds, max_iters=12).collect()}
    assert abs(sum(local.values()) - 1.0) < 1e-9
    assert local[1] > local[11]  # seed community dominates

    dist = {r["node"]: r["rank"]
            for r in personalized_pagerank(
                e, seeds, max_iters=12, local_threshold=0
            ).collect()}
    assert set(dist) == set(local)
    for k in local:
        assert abs(local[k] - dist[k]) < 1e-9

    with _pt.raises(ValueError, match="no seed"):
        personalized_pagerank(
            e, spark.createDataFrame([(999,)], "node long")
        ).collect()


def test_pagerank_loop_gates_read_the_session_thresholds(spark):
    """Both gates read Spark's typed thresholds: -1 (broadcast disabled)
    turns both off, and at 10MB they follow the bounded sizes, with a rank
    row sized as 56 B plus the node key's width."""
    from compss_python_spark.graph.pagerank import _loop_conf_gates
    from compss_python_spark.session import scoped_conf

    key = "spark.sql.autoBroadcastJoinThreshold"
    with scoped_conf(spark, {key: "-1"}):
        assert _loop_conf_gates(spark, n_edges=1000, n_nodes=100, key_bytes=8) == (False, False)
    with scoped_conf(spark, {key: "10MB"}):
        assert _loop_conf_gates(spark, n_edges=1000, n_nodes=100, key_bytes=8) == (True, True)
        # ranks above 10MB / 64 B per node: no broadcast, so AQE stays on
        assert _loop_conf_gates(spark, n_edges=1000, n_nodes=200_000, key_bytes=8) == (False, False)
        # contribution shuffle above the 256MB skew threshold / 32 B per edge
        assert _loop_conf_gates(spark, n_edges=10_000_000, n_nodes=100, key_bytes=8) == (False, True)
        # the same node count broadcasts with 8-byte keys (6.4 MB) but not
        # with 200-byte string keys (25.6 MB)
        assert _loop_conf_gates(spark, n_edges=1000, n_nodes=100_000, key_bytes=8) == (True, True)
        assert _loop_conf_gates(spark, n_edges=1000, n_nodes=100_000, key_bytes=200) == (False, False)


# Every query whose kernel runs a fixed-point loop (caching.iterate) or
# the driver-held GD classifiers; the connected-components queries cover
# the candidate-pair graphs of the dedup pipelines, string keys included
# (er_supplier_entities links s_name values).
_LOOP_QUERIES = (
    "graph_pagerank",
    "graph_pagerank_symmetric",
    "graph_pagerank_personalized",
    "graph_k_core",
    "graph_label_propagation",
    "graph_bfs_layers",
    "graph_sssp_weighted",
    "graph_connected_components",
    "graph_connected_components_star",
    "dedup_lsh_cc_survivors_md5",
    "dedup_survivors_best_quality",
    "er_supplier_entities",
    "text_bpe_train_merges",
    "text_bpe_subtoken_count",
    "ml_logreg_gd",
    "ml_linear_svc_gd",
)
# Every query over the distributed prefix-rank kernel
# (operators.etl._rows_before: row index, NTILE, KS ECDF, midranks), and
# the IVF-PQ numpy encode.
_RANK_QUERIES = (
    "add_column_positional",
    "sort_with_rank",
    "rfm_segmentation",
    "llm_quality_buckets",
    "ml_calibration_bins",
    "ks_test_uniform",
    "ks_test_normal_poly",
    "stats_spearman",
    "stats_mann_whitney",
    "ml_roc_auc",
    "similarity_topk_ivfpq_md5",
)


@pytest.mark.parametrize("name", _LOOP_QUERIES + _RANK_QUERIES)
def test_iterative_kernel_matches_registry_oracle(spark, sf_dir, monkeypatch, name):
    """Each iterative or prefix-rank kernel's registry query against its
    DuckDB oracle, with the correctness gate's canonical comparison.  Every
    PageRank and connected-components graph at the gate's scale factors
    fits the driver kernel, so force the distributed loops with
    local_threshold=0 — the queries import these functions at call time.
    The other queries run their distributed kernels as registered."""
    import functools

    import __spark_entry__
    from compss_python_spark.graph import components
    from compss_python_spark.graph import pagerank as pr
    from tools.check_correctness import canon, duck_connection

    monkeypatch.setattr(pr, "pagerank", functools.partial(pr.pagerank, local_threshold=0))
    monkeypatch.setattr(
        pr,
        "personalized_pagerank",
        functools.partial(pr.personalized_pagerank, local_threshold=0),
    )
    monkeypatch.setattr(
        components,
        "connected_components",
        functools.partial(components.connected_components, local_threshold=0),
    )
    got = canon(__spark_entry__.queries()[name](spark, sf_dir).toPandas())
    want = canon(duck_connection(sf_dir).execute(__spark_entry__.oracle_sql()[name]).df())
    assert len(got) > 0
    assert got.equals(want), name


@pytest.mark.parametrize("gd", ["logistic_regression_gd", "linear_svc_gd"])
def test_gd_classifier_plan_does_not_grow_with_iterations(spark, gd):
    """The weights live on the driver, so the returned plan is the same
    size whatever the iteration count (it used to double per iteration:
    each one read the previous weight row twice)."""
    from compss_python_spark.ml import classification

    rng = np.random.default_rng(5)
    x = rng.normal(size=(400, 8))
    y = np.where(x[:, 0] + x[:, 1] >= 0, 1.0, 0.0 if gd == "logistic_regression_gd" else -1.0)
    df = spark.createDataFrame(
        [(i, x[i].tolist(), float(y[i])) for i in range(400)],
        "vec_id long, embedding array<double>, y double",
    )
    train, test = df.filter("vec_id % 2 = 0"), df.filter("vec_id % 2 = 1")

    def plan_nodes(iters):
        out = getattr(classification, gd)(train, test, iters=iters, dim=8)
        return len(out._jdf.queryExecution().analyzed().treeString().splitlines())

    assert plan_nodes(9) == plan_nodes(3)


@pytest.mark.parametrize("gd", ["logistic_regression_gd", "linear_svc_gd"])
def test_gd_classifier_reads_its_training_table_once(spark, gd):
    """The cast training points are cached for the fit: a counting UDF on
    the label column runs once per training row over 5 iterations (it ran
    once per row per iteration when every gradient re-read the source),
    and the fit leaves no persisted RDD behind."""
    import bench
    from compss_python_spark.ml import classification

    rows = spark.sparkContext.accumulator(0)

    @F.udf("double")
    def counted(y):
        rows.add(1)
        return y

    rng = np.random.default_rng(7)
    x = rng.normal(size=(60, 4))
    y = np.where(x[:, 0] >= 0, 1.0, 0.0 if gd == "logistic_regression_gd" else -1.0)
    df = spark.createDataFrame(
        [(i, x[i].tolist(), float(y[i])) for i in range(60)],
        "vec_id long, embedding array<double>, y double",
    )
    train = df.filter("vec_id % 2 = 0").withColumn("y", counted("y"))
    test = df.filter("vec_id % 2 = 1")
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    # Unpersist what earlier tests left, so that the context cleaner freeing
    # it during the fit cannot move the count.
    bench._release_stray_blocks(spark)
    before = persistent().size()
    getattr(classification, gd)(train, test, iters=5, dim=4)
    assert rows.value == 30
    assert persistent().size() - before == 0

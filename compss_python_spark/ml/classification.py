"""Classification (SURVEY.md §2.8 #58–61).

spark.ml one-liners for GaussianNB / LogisticRegression / LinearSVC
[ref: ddf_library/functions/ml/classification.py]; KNN is custom (no Spark
built-in): broadcast the training set (small by assumption, as in the
reference, which replicates the train set to every fragment) and score each
test partition with a vectorized numpy pandas-UDF — Arrow batches, no
per-row Python.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.ml.classification import LinearSVC, LogisticRegression, NaiveBayes
from pyspark.ml.functions import array_to_vector

from compss_python_spark.centroids import centroid_literal


def _vec(df: DataFrame, features_col: str) -> DataFrame:
    return df.withColumn("_v", array_to_vector(F.col(features_col).cast("array<double>")))


def gaussian_nb(train: DataFrame, test: DataFrame, features_col: str = "embedding",
                label_col: str = "label", prediction_col: str = "prediction"):
    """[ref: ml/classification.py GaussianNB] — NaiveBayes(modelType='gaussian')."""
    model = NaiveBayes(
        modelType="gaussian", featuresCol="_v", labelCol=label_col,
        predictionCol=prediction_col,
    ).fit(_vec(train, features_col))
    return model.transform(_vec(test, features_col)).drop("_v", "rawPrediction", "probability"), model


def logistic_regression(train: DataFrame, test: DataFrame, features_col: str = "embedding",
                        label_col: str = "label", max_iter: int = 50,
                        prediction_col: str = "prediction"):
    """[ref: ml/classification.py LogisticRegression] — LBFGS instead of the
    reference's hand-rolled gradient descent."""
    model = LogisticRegression(
        featuresCol="_v", labelCol=label_col, maxIter=max_iter,
        predictionCol=prediction_col,
    ).fit(_vec(train, features_col))
    return model.transform(_vec(test, features_col)).drop("_v", "rawPrediction", "probability"), model


def _score(w: list[float], b: float) -> Column:
    """``w·_v + b`` with the driver-held weights folded into the plan as
    one constant (:mod:`compss_python_spark.centroids`), so the plan does
    not grow with the iteration count."""
    wv = F.expr(f"{centroid_literal({0: w})}[0].c")
    dot = F.aggregate(
        F.zip_with("_v", wv, lambda a, c: a * c), F.lit(0.0), lambda acc, x: acc + x
    )
    return dot + F.lit(b)


def _gradient(pts: DataFrame, err: Column, dim: int) -> tuple[list[float], float]:
    """Full-batch (avg(vⱼ·err) per dim, avg(err)), collected as ONE row;
    the avg-aggregates combine map-side, so each partition ships dim
    doubles."""
    g = pts.select("_v", err.alias("_e")).agg(
        F.array(*[F.avg(F.element_at("_v", j + 1) * F.col("_e")) for j in range(dim)]),
        F.avg("_e"),
    ).first()
    return list(g[0]), g[1]


def logistic_regression_gd(
    train: DataFrame,
    test: DataFrame,
    iters: int = 3,
    lr: float = 0.5,
    dim: int = 64,
    features_col: str = "embedding",
    label_col: str = "y",
    prediction_col: str = "prediction",
):
    """Batch gradient-descent logistic regression — the REFERENCE's actual
    algorithm [ref: ml/classification.py LogisticRegression, hand-rolled
    GD], re-expressed as DataFrame aggregates.  Deterministic (w₀ = 0,
    fixed iteration count, full-batch gradient), hence exactly
    oracle-checkable, unlike LBFGS.

    The weight vector is dim doubles held on the driver: each iteration
    collects one gradient row and applies wⱼ − lr·gⱼ in Python (the same
    IEEE operations as the SQL oracle).  The cast training points are
    cached for the fit, so the source is scanned once, not once per
    iteration.
    """
    pts = train.select(
        F.col(features_col).cast("array<double>").alias("_v"),
        F.col(label_col).cast("double").alias("_y"),
    ).persist()
    w, b = [0.0] * dim, 0.0
    try:
        for _ in range(iters):
            err = F.lit(1.0) / (F.lit(1.0) + F.exp(-_score(w, b))) - F.col("_y")
            gw, gb = _gradient(pts, err, dim)
            w = [wj - lr * gj for wj, gj in zip(w, gw)]
            b = b - lr * gb
    finally:
        pts.unpersist()
    return test.select(
        "vec_id",
        F.col(features_col).cast("array<double>").alias("_v"),
        F.col(label_col).cast("int").alias(label_col),
    ).select(
        "vec_id",
        label_col,
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-_score(w, b))) >= 0.5)
        .cast("int")
        .alias(prediction_col),
    )


def linear_svc_gd(
    train: DataFrame,
    test: DataFrame,
    iters: int = 3,
    lr: float = 0.5,
    lam: float = 0.01,
    dim: int = 64,
    features_col: str = "embedding",
    label_col: str = "y",
    prediction_col: str = "prediction",
):
    """Full-batch subgradient-descent linear SVM — the REFERENCE's actual
    SVM algorithm [ref: ml/classification.py SVM: hand-rolled hinge-loss
    gradient descent], re-expressed as DataFrame aggregates; the
    deterministic oracled sibling of `linear_svc` (spark.ml LinearSVC,
    whose OWLQN internals are rows-only-checkable).

    Deterministic contract (same as `logistic_regression_gd`): w₀ = 0,
    fixed iteration count, full-batch subgradient, identical floating-op
    ORDER to the SQL oracle — per-dim update wⱼ − lr·(λ·wⱼ − avg(vⱼ·a)),
    where a = y·1[y(w·v+b) < 1] with STRICT < in both engines.  The
    output is thresholded predictions, so summation-order ulp in the
    gradient means cannot flip the hash unless a test point's margin (or
    a train point's hinge boundary) sits within ulp of the decision
    surface — vanishing on real-valued embeddings.

    Weights on the driver, one gradient row collected per iteration, and
    the cast training points cached for the fit, as in
    `logistic_regression_gd`.
    """
    pts = train.select(
        F.col(features_col).cast("array<double>").alias("_v"),
        F.col(label_col).cast("double").alias("_y"),  # ±1
    ).persist()
    w, b = [0.0] * dim, 0.0
    try:
        for _ in range(iters):
            hinge = F.when(
                (F.col("_y") * _score(w, b)) < 1.0, F.col("_y")
            ).otherwise(F.lit(0.0))
            gw, ab = _gradient(pts, hinge, dim)
            w = [wj - lr * (lam * wj - gj) for wj, gj in zip(w, gw)]
            b = b + lr * ab
    finally:
        pts.unpersist()
    return test.select(
        "vec_id",
        F.col(features_col).cast("array<double>").alias("_v"),
        F.col(label_col).cast("double").alias("_yd"),
    ).select(
        "vec_id",
        (F.col("_yd") > 0).cast("int").alias("y"),
        (_score(w, b) >= 0).cast("int").alias(prediction_col),
    )


def gaussian_nb_exact(
    train: DataFrame,
    test: DataFrame,
    dim: int = 64,
    features_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    prediction_col: str = "prediction",
    var_eps: float = 1e-9,
) -> DataFrame:
    """Gaussian Naive Bayes as pure DataFrame aggregates — the REFERENCE's
    algorithm [ref: ml/classification.py GaussianNB: per-class mean/variance
    + priors, argmax log-likelihood], deterministic end-to-end and exactly
    SQL-oracle-checkable (unlike spark.ml NaiveBayes, whose gaussian sigma
    convention is engine-internal).

    Fit = one groupBy(label) with per-dim avg/var_pop aggregates (map-side
    combine; shuffle carries k×dim partials).  The k-row class-stats table
    packs into ONE broadcast row (cid-sorted struct array) and scoring is a
    per-row reduce — zero exchange on the test side.  log P(c|x) ∝
    ln(count_c) + Σⱼ[−½ln(2πσ²ⱼ) − (xⱼ−μⱼ)²/(2σ²ⱼ)] (the −ln N prior term
    is class-constant → dropped); ties toward the smaller label.
    """
    import math

    pts = train.select(
        F.col(label_col).cast("int").alias("_y"),
        F.col(features_col).cast("array<double>").alias("_v"),
    )
    stats = pts.groupBy("_y").agg(
        F.count("*").alias("_cnt"),
        F.array(*[F.avg(F.element_at("_v", j + 1)) for j in range(dim)]).alias("_mu"),
        F.array(*[F.var_pop(F.element_at("_v", j + 1)) for j in range(dim)]).alias("_var"),
    )
    packed = stats.agg(
        F.array_sort(F.collect_list(F.struct("_y", "_cnt", "_mu", "_var"))).alias("_cs")
    )

    def loglik(s):
        diff = F.zip_with("_v", s["_mu"], lambda x, m: x - m)
        terms = F.zip_with(
            diff,
            s["_var"],
            lambda d, va: -0.5 * F.log(2.0 * math.pi * (va + var_eps))
            - d * d / (2.0 * (va + var_eps)),
        )
        return F.log(s["_cnt"].cast("double")) + F.aggregate(
            terms, F.lit(0.0), lambda acc, x: acc + x
        )

    # argmax as array_min over (−ll, y) structs: min of −ll is max ll, and
    # struct ordering breaks ties toward the smaller label — the documented
    # contract.  The earlier F.reduce form evaluated loglik(s) TWICE per
    # class (when-condition + kept struct): a zip_with/aggregate over the
    # full feature vector, re-run — the HOF lambda re-evaluation trap (the
    # centroid argmin in compss_python_spark.centroids uses the same form).
    best = F.array_min(
        F.transform(
            F.col("_cs"),
            lambda s: F.struct(
                (-loglik(s)).alias("negll"), s["_y"].cast("int").alias("y")
            ),
        )
    )
    return (
        test.select(
            id_col,
            F.col(label_col).cast("int").alias(label_col),
            F.col(features_col).cast("array<double>").alias("_v"),
        )
        .crossJoin(F.broadcast(packed))
        .withColumn(prediction_col, best["y"])
        .select(id_col, label_col, prediction_col)
    )


def linear_svc(train: DataFrame, test: DataFrame, features_col: str = "embedding",
               label_col: str = "label", max_iter: int = 50,
               prediction_col: str = "prediction"):
    """[ref: ml/classification.py SVM] — LinearSVC (binary)."""
    model = LinearSVC(
        featuresCol="_v", labelCol=label_col, maxIter=max_iter,
        predictionCol=prediction_col,
    ).fit(_vec(train, features_col))
    return model.transform(_vec(test, features_col)).drop("_v", "rawPrediction"), model


def knn(train: DataFrame, test: DataFrame, k: int = 5,
        features_col: str = "embedding", label_col: str = "label",
        id_col: str = "vec_id", prediction_col: str = "prediction",
        max_train_rows: int = 1_000_000,
        approx_above_budget: bool = True) -> DataFrame:
    """KNearestNeighbors [ref: ml/classification.py KNearestNeighbors].

    Broadcast-train + mapInPandas scoring: each Arrow batch computes a full
    batch×train distance matrix in numpy (BLAS) — no Python-per-row.  Ties
    in the majority vote break toward the smaller label (deterministic,
    matching argmax-over-bincount).

    The train set is collected to the driver and broadcast, so its size is
    gated (same bounded-collect discipline as the graph local paths): a
    train set beyond ``max_train_rows`` routes automatically through
    :func:`knn_lsh` — a fully-distributed BucketedRandomProjectionLSH
    candidate join with exact re-rank — instead of OOMing the driver
    (pass ``approx_above_budget=False`` to get the loud ValueError back).
    """
    n_train = train.count()  # narrow aggregate — no shuffle
    if n_train > max_train_rows:
        if approx_above_budget:
            return knn_lsh(
                train, test, k=k, features_col=features_col,
                label_col=label_col, id_col=id_col,
                prediction_col=prediction_col,
            )
        raise ValueError(
            f"knn: train set has {n_train} rows, exceeding the broadcast "
            f"budget max_train_rows={max_train_rows}.  A driver collect at "
            "this size would OOM; re-enable approx_above_budget or call "
            "knn_lsh directly."
        )
    rows = train.select(features_col, label_col).collect()
    X = np.asarray([r[features_col] for r in rows], dtype=float)
    y = np.asarray([r[label_col] for r in rows])
    sc = train.sparkSession.sparkContext
    bX, by = sc.broadcast(X), sc.broadcast(y)

    out_schema = f"{id_col} long, {label_col} int, {prediction_col} int"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Xt, yt = bX.value, by.value
        # The distance matrix is (chunk × n_train) doubles PER TASK — an
        # uncapped Arrow batch (default 10 k rows) against a 100 k-row
        # train set is 8 GB, and 32 concurrent tasks OOM-killed a 48 g
        # host at sfgen100.  Chunk the query rows so each task's matrix
        # stays ≤ ~50 M elements (~400 MB) regardless of batch size.
        chunk = max(1, 50_000_000 // max(1, Xt.shape[0]))
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                part = pdf.iloc[lo : lo + chunk]
                Q = np.vstack(part[features_col].to_numpy())
                # ||q - x||² = ||q||² + ||x||² − 2 q·x  (BLAS matmul)
                d2 = (Q * Q).sum(1)[:, None] + (Xt * Xt).sum(1)[None, :] - 2.0 * (Q @ Xt.T)
                idx = np.argpartition(d2, min(k, d2.shape[1] - 1), axis=1)[:, :k]
                votes = yt[idx]
                preds = [np.bincount(v.astype(int)).argmax() for v in votes]
                yield pd.DataFrame(
                    {
                        id_col: part[id_col],
                        label_col: part[label_col],
                        prediction_col: np.asarray(preds, dtype=int),
                    }
                )

    return test.select(id_col, label_col, features_col).mapInPandas(score, out_schema)


def knn_lsh(train: DataFrame, test: DataFrame, k: int = 5,
            features_col: str = "embedding", label_col: str = "label",
            id_col: str = "vec_id", prediction_col: str = "prediction",
            bucket_length: float = 1.0, num_hash_tables: int = 3) -> DataFrame:
    """Distributed approximate KNN for train sets too big to broadcast:
    Spark ML ``BucketedRandomProjectionLSH.approxSimilarityJoin`` generates
    candidates (pairs co-hashing in any of ``num_hash_tables`` tables — the
    train set never leaves the executors), the join's EXACT euclidean
    distance re-ranks them, a per-test-point window keeps the top k, and
    the majority vote breaks ties toward the smaller label (same rule as
    :func:`knn`).  Test points whose buckets contain no train point fall
    back to the global train-set mode label, so callers always get exactly
    one prediction per test row.

    Scale shape: fit computes the random projections only (no data pass
    beyond schema); the candidate join shuffles on (table, bucket) keys;
    re-rank and vote are bounded by candidate counts — tune bucket_length /
    num_hash_tables for the recall/cost point, and measure recall against
    :func:`knn` on a broadcastable sample (see tests).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    tr = train.select(
        array_to_vector(F.col(features_col).cast("array<double>")).alias("_v"),
        F.col(label_col).alias("_ty"),
    )
    te = test.select(
        F.col(id_col), F.col(label_col),
        array_to_vector(F.col(features_col).cast("array<double>")).alias("_v"),
    )
    model = BucketedRandomProjectionLSH(
        inputCol="_v", outputCol="_h",
        bucketLength=bucket_length, numHashTables=num_hash_tables, seed=13,
    ).fit(tr)
    cand = model.approxSimilarityJoin(te, tr, float("inf"), distCol="_d").select(
        F.col(f"datasetA.{id_col}").alias(id_col),
        F.col(f"datasetA.{label_col}").alias(label_col),
        F.col("datasetB._ty").alias("_ty"),
        F.col("_d"),
    )
    wk = Window.partitionBy(id_col).orderBy(F.col("_d").asc(), F.col("_ty").asc())
    votes = (
        cand.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") <= k)
        .groupBy(id_col, label_col, "_ty")
        .agg(F.count("*").alias("_n"))
    )
    wv = Window.partitionBy(id_col).orderBy(F.desc("_n"), F.asc("_ty"))
    preds = (
        votes.withColumn("_rv", F.row_number().over(wv))
        .filter(F.col("_rv") == 1)
        .select(id_col, label_col, F.col("_ty").cast("int").alias(prediction_col))
    )
    # bucket-miss fallback: global mode label (deterministic tie-break)
    mode_row = (
        train.groupBy(F.col(label_col).alias("_ty"))
        .agg(F.count("*").alias("_n"))
        .orderBy(F.desc("_n"), F.asc("_ty"))
        .limit(1)
        .select(F.col("_ty").cast("int").alias(prediction_col))
    )
    missing = (
        te.select(id_col, label_col)
        .join(preds.select(id_col), id_col, "left_anti")
        .crossJoin(F.broadcast(mode_row))
    )
    return preds.unionByName(missing)


def multinomial_nb(
    train: DataFrame,
    test: DataFrame,
    label_col: str,
    tokens_col: str,
    id_col: str,
    alpha: float = 1.0,
) -> DataFrame:
    """Multinomial Naive Bayes over token arrays — the classic bag-of-words
    text classifier (the cheap quality/domain classifier stage of a corpus
    pipeline).  Laplace smoothing ``alpha``; tokens absent from the
    training vocabulary are ignored (standard).

    Closed-form and fully relational — no iterative fit: training is ONE
    (label, token) count aggregate plus a prior/vocab aggregate; scoring
    joins test tokens against the (small, broadcastable) count table,
    LEFT so in-vocab tokens unseen in a class contribute the smoothed
    floor, and takes a per-document argmax window.  Returns
    (id_col, prediction, score) with deterministic label tie-break.

    Documents with zero in-vocabulary tokens (empty token array, or all
    tokens OOV) still get a prediction: the prior-argmax class with
    score = its log-prior — the textbook degenerate case, delivered via a
    left-anti join of test ids against the scored set plus a 1-row
    broadcast of the best prior.  Callers therefore always get exactly one
    output row per test id.
    """
    tok = train.select(F.col(label_col).alias("_y"), F.explode(tokens_col).alias("_t"))
    counts = tok.groupBy("_y", "_t").agg(F.count("*").alias("_c"))
    class_tot = tok.groupBy("_y").agg(F.count("*").alias("_tot"))
    vocab = tok.select("_t").distinct()
    v_size = vocab.count()
    priors = (
        train.groupBy(F.col(label_col).alias("_y"))
        .agg(F.count("*").alias("_ny"))
        .crossJoin(train.select(F.count("*").alias("_ntot")).limit(1))
        .select("_y", F.log(F.col("_ny") / F.col("_ntot")).alias("_logprior"))
    )
    tt = test.select(F.col(id_col).alias("_id"), F.explode(tokens_col).alias("_t")).join(
        vocab, "_t"
    )
    scored = (
        tt.crossJoin(F.broadcast(class_tot))
        .join(counts, ["_y", "_t"], "left")
        .withColumn(
            "_logp",
            F.log(
                (F.coalesce(F.col("_c"), F.lit(0)) + alpha)
                / (F.col("_tot") + alpha * v_size)
            ),
        )
        .groupBy("_id", "_y", "_tot")
        .agg(F.sum("_logp").alias("_s"))
        .join(priors, "_y")
        .withColumn("_score", F.col("_s") + F.col("_logprior"))
    )
    w = Window.partitionBy("_id").orderBy(F.desc("_score"), F.asc("_y"))
    preds = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("_id").alias(id_col),
            F.col("_y").alias("prediction"),
            F.round("_score", 6).alias("score"),
        )
    )
    # Token-free documents (all tokens OOV) fall back to the prior argmax.
    wp = Window.partitionBy().orderBy(F.desc("_logprior"), F.asc("_y"))
    best_prior = (
        priors.withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("_y").alias("prediction"),
            F.round("_logprior", 6).alias("score"),
        )
    )
    missing = (
        test.select(F.col(id_col))
        .distinct()
        .join(preds.select(id_col), id_col, "left_anti")
        .crossJoin(F.broadcast(best_prior))
    )
    return preds.unionByName(missing)

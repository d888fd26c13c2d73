"""Evaluation metrics (SURVEY.md §2.8 #65–67).

[ref: ddf_library/functions/ml/evaluation.py] — classification metrics
computed as plain aggregates over (label, prediction) so they are
oracle-expressible; regression metrics likewise.  The confusion matrix is a
groupBy(label, prediction).count() — the same construction the reference
uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def confusion_matrix(df: DataFrame, label_col: str = "label",
                     prediction_col: str = "prediction") -> DataFrame:
    return df.groupBy(label_col, prediction_col).agg(F.count("*").alias("n"))


def multiclass_metrics(df: DataFrame, label_col: str = "label",
                       prediction_col: str = "prediction") -> DataFrame:
    """Per-class precision/recall/F1 + support, as one aggregate pass."""
    lab = F.col(label_col)
    pred = F.col(prediction_col)
    tp = df.filter(lab == pred).groupBy(lab.alias("cls")).agg(F.count("*").alias("tp"))
    actual = df.groupBy(lab.alias("cls")).agg(F.count("*").alias("support"))
    predicted = df.groupBy(pred.alias("cls")).agg(F.count("*").alias("pred_n"))
    out = (
        actual.join(predicted, "cls", "full_outer")
        .join(tp, "cls", "left")
        .na.fill({"tp": 0, "support": 0, "pred_n": 0})
        .select(
            "cls",
            "support",
            F.round(F.col("tp") / F.greatest(F.col("pred_n"), F.lit(1)), 6).alias("precision"),
            F.round(F.col("tp") / F.greatest(F.col("support"), F.lit(1)), 6).alias("recall"),
            F.round(
                2 * F.col("tp") / F.greatest(F.col("pred_n") + F.col("support"), F.lit(1)), 6
            ).alias("f1"),
        )
    )
    return out


def accuracy(df: DataFrame, label_col: str = "label", prediction_col: str = "prediction") -> float:
    row = df.agg(
        (F.sum((F.col(label_col) == F.col(prediction_col)).cast("int")) / F.count("*")).alias("acc")
    ).first()
    return row["acc"]


def regression_metrics(df: DataFrame, label_col: str = "label",
                       prediction_col: str = "prediction") -> DataFrame:
    """MSE/RMSE/MAE/R² as one aggregate (oracle-expressible)."""
    err = F.col(prediction_col) - F.col(label_col)
    # Σ(y−ȳ)² = n·var_pop(y) ⇒ R² = 1 − avg(err²)/var_pop(y) — single pass,
    # no nested aggregate.  Error metrics round at 2 dp: they scale with
    # the label magnitude (mse ~1e8 on price labels), and 6 dp there is
    # past double precision — summation-order ulp flips the rounded digit
    # (caught at sfgen10).  R² is dimensionless and keeps 6 dp.
    return df.agg(
        F.round(F.avg(err * err), 2).alias("mse"),
        F.round(F.sqrt(F.avg(err * err)), 2).alias("rmse"),
        F.round(F.avg(F.abs(err)), 2).alias("mae"),
        F.round(F.lit(1.0) - F.avg(err * err) / F.var_pop(label_col), 6).alias("r2"),
    )


def roc_auc(df: DataFrame, label_col: str = "label",
            score_col: str = "score") -> DataFrame:
    """Exact ROC AUC (tie-corrected) via the Mann–Whitney identity:
    AUC = (Σ midrank(positives) − n⁺(n⁺+1)/2) / (n⁺·n⁻), midranks over the
    score ascending.  Ties in score contribute ½ — identical to the
    trapezoidal ROC integral.  Returns 1 row (auc, n_pos, n_neg).

    Scale shape: ranking rides :func:`~compss_python_spark.functions.
    statistics.global_avg_ranks`, i.e. the distributed prefix-rank kernel
    :func:`~compss_python_spark.operators.etl._rows_before`, NEVER a
    single-partition ORDER BY window — so the AUC of
    10¹¹ scored rows is two vocab-sized aggregates plus one range shuffle
    of the distinct scores.  (MLlib's BinaryClassificationMetrics sorts
    globally for the same quantity.)
    """
    from compss_python_spark.functions.statistics import global_avg_ranks

    pos = F.col(label_col).cast("int")
    ranked = global_avg_ranks(
        df.select(F.col(score_col), pos.alias("_y")), score_col, "_mr"
    )
    return ranked.agg(
        F.round(
            (
                F.sum(F.col("_y") * F.col("_mr"))
                - F.sum("_y") * (F.sum("_y") + 1) / 2.0
            )
            / (F.sum("_y") * (F.count("*") - F.sum("_y"))),
            6,
        ).alias("auc"),
        F.sum("_y").cast("long").alias("n_pos"),
        (F.count("*") - F.sum("_y")).cast("long").alias("n_neg"),
    )

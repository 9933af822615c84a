"""A5/A6/A7 — evaluation aggregates: class histogram/weights, the
confusion-derived metrics (per-class precision/recall/F1, OA, kappa),
RMSE/R².

Reference: ``pytorch/utils/Dataset.py:46`` (np.histogram class counts),
``pytorch/utils/trainer.py:95-123`` (inverse-frequency class weights),
``pytorch/utils/classmetric.py:4-98`` (confusion matrix, OA, kappa,
precision/recall/F1), ``classmetric.py:100-118`` (RMSE, R²).

All pure Column aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def class_histogram(df: DataFrame, label_col: str = "label") -> DataFrame:
    """A5: per-class counts + inverse-frequency weights, the reference rule
    (trainer.py:105-116): w_c = (1/n_c) / sum_present(1/n_j) * k_present —
    inverse counts rescaled so the MEAN weight over present classes is 1
    (counts [1,3] -> weights [1.5, 0.5]). Absent classes never appear here
    (the reference assigns them 0; a groupBy has no row to carry it)."""
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(
        F.sum(F.lit(1.0) / F.col("n")).alias("inv_sum"),
        F.count(F.lit(1)).alias("k"),
    )
    return counts.crossJoin(F.broadcast(total)).select(
        label_col,
        "n",
        ((F.lit(1.0) / F.col("n")) / F.col("inv_sum") * F.col("k")).alias("weight"),
    )


def classification_report(
    df: DataFrame, truth_col: str = "truth", pred_col: str = "pred"
) -> DataFrame:
    """A6: per-class precision/recall/F1 + overall accuracy and kappa
    replicated from classmetric.py:20-54."""
    t, p = F.col(truth_col), F.col(pred_col)
    per_class = df.groupBy(t.alias("cls")).agg(F.count(F.lit(1)).alias("support"))
    tp = (
        df.filter(t == p)
        .groupBy(t.alias("cls"))
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    predicted = df.groupBy(p.alias("cls")).agg(F.count(F.lit(1)).alias("pred_n"))
    # full outer: a class that only ever appears in predictions still gets a
    # report row (support 0), matching a square confusion-matrix reference;
    # 0/0 ratios are 0, not NULL
    prec = F.when(F.col("pred_n") > 0, F.col("tp") / F.col("pred_n")).otherwise(F.lit(0.0))
    rec = F.when(F.col("support") > 0, F.col("tp") / F.col("support")).otherwise(F.lit(0.0))
    rep = (
        per_class.join(tp, "cls", "full")
        .join(predicted, "cls", "full")
        .fillna(0, subset=["tp", "pred_n", "support"])
        .select(
            "cls",
            "support",
            prec.alias("precision"),
            rec.alias("recall"),
            F.when(
                prec + rec > 0, 2 * prec * rec / (prec + rec)
            ).otherwise(F.lit(0.0)).alias("f1"),
        )
    )
    return rep


def overall_metrics(
    df: DataFrame, truth_col: str = "truth", pred_col: str = "pred"
) -> DataFrame:
    """OA + Cohen's kappa (classmetric.py:30-44)."""
    t, p = F.col(truth_col), F.col(pred_col)
    n = F.count(F.lit(1))
    oa = F.avg((t == p).cast("double"))
    joined = (
        df.groupBy(t.alias("cls"))
        .agg(F.count(F.lit(1)).alias("nt"))
        .join(
            df.groupBy(p.alias("cls")).agg(F.count(F.lit(1)).alias("np_")),
            "cls",
            "outer",
        )
        .fillna(0)
    )
    total = df.agg(n.alias("n"), oa.alias("oa")).crossJoin(
        F.broadcast(
            joined.agg(F.sum(F.col("nt") * F.col("np_")).alias("chance_num"))
        )
    )
    return total.select(
        "n",
        "oa",
        (
            (F.col("oa") - F.col("chance_num") / (F.col("n") * F.col("n")))
            / (1 - F.col("chance_num") / (F.col("n") * F.col("n")))
        ).alias("kappa"),
    )


def regression_metrics(
    df: DataFrame, truth_col: str = "truth", pred_col: str = "pred"
) -> DataFrame:
    """A7: RMSE and R² (classmetric.py:100-118)."""
    t, p = F.col(truth_col).cast("double"), F.col(pred_col).cast("double")
    mean_t = df.agg(F.avg(t).alias("mt"))
    return df.crossJoin(F.broadcast(mean_t)).agg(
        F.sqrt(F.avg(F.pow(t - p, F.lit(2)))).alias("rmse"),
        (
            F.lit(1.0)
            - F.sum(F.pow(t - p, F.lit(2)))
            / F.sum(F.pow(t - F.col("mt"), F.lit(2)))
        ).alias("r2"),
    )

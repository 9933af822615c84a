"""Tests for evaluation metrics and the hash-selected zero-out augmentation."""

import numpy as np
import pandas as pd
import pytest

from sits_classification_spark.operators.metrics import (
    class_histogram,
    classification_report,
    overall_metrics,
    regression_metrics,
)


@pytest.fixture(scope="module")
def preds(spark):
    pdf = pd.DataFrame(
        {
            "truth": [0, 0, 0, 1, 1, 2, 2, 2, 2, 2],
            "pred": [0, 0, 1, 1, 1, 2, 2, 2, 0, 1],
        }
    )
    return spark.createDataFrame(pdf), pdf


def test_class_histogram_weights(spark, preds):
    df, pdf = preds
    out = class_histogram(df, "truth").toPandas().set_index("truth")
    assert out.loc[2, "n"] == 5
    # reference rule (trainer.py:105-116): (1/n_c)/sum(1/n_j)*k, counts
    # [3,2,5] -> inv [1/3,1/2,1/5], sum 31/30, k=3
    inv_sum = 1 / 3 + 1 / 2 + 1 / 5
    assert out.loc[2, "weight"] == pytest.approx((1 / 5) / inv_sum * 3)
    assert out.loc[1, "weight"] == pytest.approx((1 / 2) / inv_sum * 3)
    # weight MEAN over present classes is 1
    assert out["weight"].mean() == pytest.approx(1.0)


def test_class_histogram_imbalanced_matches_reference():
    """counts [1,3] -> ref weights [1.5, 0.5] (NOT sklearn-balanced
    [2.0, 0.667]) — the np.bincount/normalize rule at trainer.py:105-116."""
    import numpy as np

    labels = np.array([0, 1, 1, 1])
    class_counts = np.bincount(labels, minlength=2).astype(float)
    weights = np.zeros(2)
    present = class_counts > 0
    weights[present] = 1.0 / class_counts[present]
    weights[present] = weights[present] / weights[present].sum() * present.sum()
    assert weights == pytest.approx([1.5, 0.5])


def test_confusion_and_report(spark, preds):
    df, pdf = preds
    rep = classification_report(df).toPandas().set_index("cls")
    # sklearn-verified by hand: class 2 precision=3/3, recall=3/5
    assert rep.loc[2, "precision"] == pytest.approx(1.0)
    assert rep.loc[2, "recall"] == pytest.approx(0.6)
    om = overall_metrics(df).toPandas().iloc[0]
    assert om["oa"] == pytest.approx(0.7)
    # kappa by hand: pe = (3*3 + 2*4 + 5*3)/100 = 0.32 -> (0.7-0.32)/(1-0.32)
    assert om["kappa"] == pytest.approx((0.7 - 0.32) / (1 - 0.32))


def test_regression_metrics(spark):
    t = np.array([1.0, 2.0, 3.0, 4.0])
    p = np.array([1.1, 1.9, 3.2, 3.8])
    df = spark.createDataFrame(pd.DataFrame({"truth": t, "pred": p}))
    out = regression_metrics(df).toPandas().iloc[0]
    assert out["rmse"] == pytest.approx(np.sqrt(np.mean((t - p) ** 2)))
    ss_res = np.sum((t - p) ** 2)
    ss_tot = np.sum((t - t.mean()) ** 2)
    assert out["r2"] == pytest.approx(1 - ss_res / ss_tot)


def test_zero_out_hash_semantics(spark):
    from pyspark.sql import functions as F

    from sits_classification_spark.datagen import NODATA, generate_spark
    from sits_classification_spark.operators.augment import zero_out_hash

    seq = generate_spark(spark, 400)
    out = zero_out_hash(seq, frac=0.1)
    both = out.select("doc_id", F.col("tokens").alias("a")).join(
        seq.select("doc_id", F.col("tokens").alias("o")), "doc_id"
    )
    stats = both.select(
        F.size(F.filter(F.zip_with("o", "a", lambda x, y: x != y), lambda z: z)).alias("nz"),
        F.size(F.filter("o", lambda x: x != F.lit(NODATA))).alias("nv"),
        # sentinel positions must be untouched, zeroed cells must be 0
        F.size(
            F.filter(
                F.zip_with("o", "a", lambda x, y: (x == F.lit(NODATA)) & (y != F.lit(NODATA))),
                lambda z: z,
            )
        ).alias("bad_sentinel"),
        F.size(
            F.filter(
                F.zip_with("o", "a", lambda x, y: (x != y) & (y != F.lit(0))),
                lambda z: z,
            )
        ).alias("bad_zero"),
    ).agg(
        F.sum("nz").alias("nz"), F.sum("nv").alias("nv"),
        F.sum("bad_sentinel").alias("bs"), F.sum("bad_zero").alias("bz"),
    ).collect()[0]
    assert stats.bs == 0 and stats.bz == 0
    rate = stats.nz / stats.nv
    assert 0.07 < rate < 0.13  # ~10% of valid positions
    # per-position determinism across runs
    a = sorted(map(str, zero_out_hash(seq, frac=0.1).collect()))
    b = sorted(map(str, zero_out_hash(seq, frac=0.1).collect()))
    assert a == b

"""Tests for evaluation metrics, augmentations, and CSV sequence sources."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sits_classification_spark.datagen import generate_pandas
from sits_classification_spark.operators.augment import (
    doy_shift,
    random_removal,
    random_scale,
    random_zero_out,
    time_warp,
)
from sits_classification_spark.operators.augment import _natural_cubic_eval
from sits_classification_spark.operators.metrics import (
    class_histogram,
    classification_report,
    confusion_matrix,
    overall_metrics,
    regression_metrics,
)
from sits_classification_spark.sources.sequences_csv import (
    BAND_ORDER,
    read_sequence_csvs,
    write_split_csvs,
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
    cm = confusion_matrix(df).toPandas()
    assert cm[(cm.truth == 2) & (cm.pred == 2)]["n"].iloc[0] == 3
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


def test_augmentations_deterministic_and_shaped(spark):
    seq = spark.createDataFrame(generate_pandas(50))
    for op, kw in [
        (random_scale, {}),
        (random_zero_out, {}),
        (random_removal, {}),
        (doy_shift, {}),
        (time_warp, {}),
    ]:
        a = op(seq, **kw).orderBy("doc_id").toPandas()
        b = op(seq, **kw).orderBy("doc_id").toPandas()
        assert len(a) == 50
        for x, y in zip(a["tokens"], b["tokens"]):
            np.testing.assert_array_equal(np.asarray(x), np.asarray(y))
    # removal keeps >= 2
    r = random_removal(seq).toPandas()
    assert (r["n_tok"] >= 2).all()
    # shift preserves length
    s = doy_shift(seq).toPandas()
    orig = seq.toPandas()
    assert list(s.sort_values("doc_id")["n_tok"]) == list(
        orig.sort_values("doc_id")["n_tok"]
    )


def test_natural_cubic_spline_properties():
    # interpolates the knots exactly
    xk = np.array([0.0, 3.0, 7.0, 10.0])
    yk = np.array([1.0, -2.0, 4.0, 0.5])
    np.testing.assert_allclose(_natural_cubic_eval(xk, yk, xk), yk, atol=1e-12)
    # linear data stays linear everywhere
    ylin = 2.0 * xk + 1.0
    x = np.linspace(0, 10, 50)
    np.testing.assert_allclose(
        _natural_cubic_eval(xk, ylin, x), 2.0 * x + 1.0, atol=1e-10
    )


def test_time_warp_preserves_shape_and_endpoints(spark):
    seq = spark.createDataFrame(generate_pandas(30))
    out = time_warp(seq).orderBy("doc_id").toPandas()
    orig = spark.createDataFrame(generate_pandas(30)).orderBy("doc_id").toPandas()
    assert list(out["n_tok"]) == list(orig["n_tok"])  # length preserved
    # warp pins endpoints: first/last valid tokens unchanged where valid
    for t_out, t_in in zip(out["tokens"], orig["tokens"]):
        a, b = np.asarray(t_out), np.asarray(t_in)
        va, vb = a != -9999, b != -9999
        if vb.sum() >= 3 and vb[0] and vb[-1]:
            assert a[0] == b[0] and a[-1] == b[-1]


def test_sequence_csv_roundtrip(spark, tmpdir_session):
    d = os.path.join(tmpdir_session, "seqcsv")
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(5)
    for i in (315, 316):
        pdf = pd.DataFrame(
            {
                "year": [20180101 + k for k in range(5)],
                "doy": list(range(1, 6)),
                "label": [3.0] * 5,
                **{b: rng.random(5).round(4) for b in BAND_ORDER},
            }
        )
        pdf.to_csv(os.path.join(d, f"{i}.csv"), index=False)
    df = read_sequence_csvs(spark, d)
    assert df.count() == 10
    assert set(r["doc_id"] for r in df.select("doc_id").distinct().collect()) == {
        "315",
        "316",
    }
    out = os.path.join(tmpdir_session, "split_out")
    write_split_csvs(df, out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 10
    assert set(r["split"] for r in back.select("split").distinct().collect()) <= {
        "train",
        "val",
        "test",
    }


def test_doc_rng_independent_of_pythonhashseed():
    """The per-doc RNG seed must come from md5(doc_id), not Python hash():
    pin the first draws so any drift (incl. a PYTHONHASHSEED dependence)
    fails the suite."""
    import subprocess
    import sys

    prog = (
        "from sits_classification_spark.operators.augment import _doc_rng;"
        "print(repr([_doc_rng('doc00000042', 2).random(), _doc_rng('x', 7).random()]))"
    )
    outs = set()
    for seed in ("0", "12345"):
        r = subprocess.run(
            [sys.executable, "-c", prog],
            capture_output=True, text=True,
            env={"PYTHONHASHSEED": seed, "PATH": "/usr/bin:/bin",
                 "PYTHONPATH": os.path.dirname(os.path.dirname(os.path.abspath(__file__)))},
        )
        assert r.returncode == 0, r.stderr
        outs.add(r.stdout.strip())
    assert len(outs) == 1, outs


def test_write_predictions_csv_roundtrip(spark, tmpdir_session):
    import os

    from sits_classification_spark.sources.sequences_csv import (
        write_predictions_csv,
    )

    rows = [(f"d{i}", float(i % 3), float((i + 1) % 3), 100.0 + i, 200.0 - i)
            for i in range(20)]
    df = spark.createDataFrame(
        rows, "doc_id string, label double, prediction double, x double, y double"
    )
    out = os.path.join(tmpdir_session, "preds")
    write_predictions_csv(df, out)
    back = spark.read.option("header", True).csv(out)
    assert back.columns == ["doc_id", "label", "prediction", "x", "y"]
    assert back.count() == 20
    import pytest

    with pytest.raises(ValueError):
        write_predictions_csv(df.drop("x"), out)


def test_compose_augmentations_deterministic_and_varied(spark):
    from sits_classification_spark.datagen import generate_spark
    from sits_classification_spark.operators.augment import compose_augmentations

    seq = generate_spark(spark, 200)
    a = compose_augmentations(seq, seed=11).orderBy("doc_id").collect()
    b = compose_augmentations(seq, seed=11).orderBy("doc_id").collect()
    assert [r["tokens"] for r in a] == [r["tokens"] for r in b]
    orig = {r["doc_id"]: r["tokens"] for r in seq.collect()}
    changed = sum(1 for r in a if r["tokens"] != orig[r["doc_id"]])
    untouched = sum(1 for r in a if r["tokens"] == orig[r["doc_id"]])
    assert changed > 50 and untouched > 5  # probabilistic mix of ops
    c = compose_augmentations(seq, seed=12).orderBy("doc_id").collect()
    assert [r["tokens"] for r in a] != [r["tokens"] for r in c]


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

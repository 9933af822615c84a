"""Engine.fold / stm / harmonic read each stored tier row as one series.

They must give what the long-form operators give over the exploded tier
(``tier_long``, nested again by ``series_rows`` for the series kernels):
equal schemas, equal buckets and counts, bit-equal values (SKW/KRT to
rtol 1e-12: the long form's window mean sums in sort order). Every
per-series Engine op gives NULL or no row instead of an ANSI error on
degenerate series, and the array-expression ops plan no exchange and no
Python.
"""

import os
import sys
from functools import reduce

import numpy as np
import pytest
from pyspark.sql import functions as F

from sits_classification_spark.config import EngineConfig
from sits_classification_spark.datagen import write_sequences
from sits_classification_spark.operators.folds import (
    fold_by_period,
    fold_from_bucket,
    month_to_quarter_sql,
)
from sits_classification_spark.operators.harmonic import harmonic_eval, harmonic_fit
from sits_classification_spark.operators.seriesmap import series_rows
from sits_classification_spark.operators.stm import stm
from sits_classification_spark.plans.cascade import TIER_SCHEMA, TIERS
from sits_classification_spark.plans.engine import Engine, bucket_day

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from plan_audit import audit_plan  # noqa: E402

FOLD_TYPES = (
    "MIN", "Q10", "Q25", "Q50", "Q75", "Q90", "MAX", "AVG", "STD", "RNG",
    "IQR", "SKW", "KRT", "NUM", "SUM",
)
SHIFTED = ("SKW", "KRT")
DAY_PERIODS = ("month", "quarter", "season", "year", "week", "doy")
# every (tier, period) Engine.fold accepts, with the long-form bucket map
FOLDS = [(t, p) for t in ("tier_raw", "tier_10d") for p in DAY_PERIODS] + [
    ("tier_monthly", "quarter"),
    ("tier_monthly", "season"),
    ("tier_monthly", "year"),
    ("tier_seasonal", "year"),
]
REJECTED = [
    ("tier_monthly", "month"),
    ("tier_monthly", "week"),
    ("tier_monthly", "doy"),
    ("tier_seasonal", "month"),
    ("tier_seasonal", "quarter"),
    ("tier_10d", "fortnight"),
]


@pytest.fixture(scope="module")
def eng(spark, tmpdir_session):
    inp = os.path.join(tmpdir_session, "nested_seq")
    e = Engine(spark, os.path.join(tmpdir_session, "nested_wh"), EngineConfig())
    write_sequences(spark, inp, 60)
    e.build_tiers(inp)
    return e


def _long_fold(eng, tier, period, stat):
    long = eng.tier_long(tier)
    if tier in ("tier_raw", "tier_10d"):
        return fold_by_period(long, period, stat, day_col="bucket")
    if tier == "tier_monthly" and period in ("quarter", "season"):
        return fold_from_bucket(long, F.expr(month_to_quarter_sql("bucket")), stat)
    div = 100 if tier == "tier_monthly" else 10
    return fold_from_bucket(long, F.floor(F.col("bucket") / div).cast("int"), stat)


def _day_long(eng, tier):
    """The exploded tier with `bucket` in day units."""
    return eng.tier_long(tier).withColumn("bucket", bucket_day(tier, F.col("bucket")))


def _long_rows(eng, tier):
    """The exploded tier (``_day_long``) nested again as series rows."""
    return series_rows(_day_long(eng, tier), ("doc_id", "source"), "bucket")


def _labelled(frames):
    """One frame (one Spark job) of per-label frames with equal schemas."""
    return reduce(
        lambda a, b: a.unionByName(b),
        (df.withColumn("label", F.lit(label)) for label, df in frames),
    )


def _assert_frames_equal(got, want, keys, shifted=()):
    """Same rows and keys; values bit-equal except the `shifted` columns
    (rtol 1e-12)."""
    assert len(got) == len(want) > 0
    got = got.sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    for c in want.columns:
        if c in shifted:
            np.testing.assert_allclose(
                got[c].to_numpy(float), want[c].to_numpy(float), rtol=1e-12, atol=1e-12
            )
        else:
            assert got[c].tolist() == want[c].tolist(), c


@pytest.mark.parametrize("tier,period", FOLDS)
def test_fold_equals_long_form(eng, tier, period):
    new = {s: eng.fold(tier, period, s) for s in FOLD_TYPES}
    old = {s: _long_fold(eng, tier, period, s) for s in FOLD_TYPES}
    for s in FOLD_TYPES:
        assert new[s].schema.simpleString() == old[s].schema.simpleString()
        assert new[s].columns == ["doc_id", "source", "bucket", "value", "n_obs"]
    got = _labelled(new.items()).toPandas()
    want = _labelled(old.items()).toPandas()
    keys = ["label", "doc_id", "source", "bucket"]
    _assert_frames_equal(
        got[got.label.isin(SHIFTED)], want[want.label.isin(SHIFTED)], keys, ("value",)
    )
    _assert_frames_equal(got[~got.label.isin(SHIFTED)], want[~want.label.isin(SHIFTED)], keys)


@pytest.mark.parametrize("tier,period", REJECTED)
def test_fold_rejects_unsupported_bucket_granularity(eng, tier, period):
    with pytest.raises(ValueError):
        eng.fold(tier, period)


@pytest.mark.parametrize("tier", TIERS)
def test_stm_equals_long_form(eng, tier):
    got = eng.stm(tier, FOLD_TYPES)
    want = stm(eng.tier_long(tier), stats=FOLD_TYPES)
    assert got.schema.simpleString() == want.schema.simpleString()
    _assert_frames_equal(
        got.toPandas(), want.toPandas(), ["doc_id", "source"], ("skw", "krt")
    )


def test_stm_default_menu_columns(eng):
    want = stm(eng.tier_long("tier_10d"))
    assert eng.stm("tier_10d").schema.simpleString() == want.schema.simpleString()


@pytest.mark.parametrize("tier", TIERS)
def test_harmonic_bit_equal_to_harmonic_fit(eng, tier):
    combos = [(m, t) for m in (1, 2, 3) for t in (False, True)]
    rows = _long_rows(eng, tier)
    new = [(f"{m}{t}", eng.harmonic(tier, modes=m, trend=t)) for m, t in combos]
    old = [(f"{m}{t}", harmonic_fit(rows, modes=m, trend=t)) for m, t in combos]
    assert new[0][1].schema.simpleString() == old[0][1].schema.simpleString()
    got = _labelled(new).toPandas()
    want = _labelled(old).toPandas()
    for df in (got, want):
        df["coef"] = df["coef"].map(tuple)
    _assert_frames_equal(got, want, ["label", "doc_id", "source"])


@pytest.mark.parametrize("tier", ["tier_10d", "tier_monthly"])
def test_harmonic_horizon_equals_long_form(eng, tier):
    long = _day_long(eng, tier)
    bounds = long.groupBy("doc_id", "source").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    want = harmonic_eval(
        harmonic_fit(_long_rows(eng, tier), modes=2, trend=True).join(
            bounds, ["doc_id", "source"]
        ),
        modes=2, horizon=40, step=7, trend=True, keys=("doc_id", "source"),
    )
    got = eng.harmonic(tier, modes=2, trend=True, horizon=40, step=7)
    assert got.schema.simpleString() == want.schema.simpleString()
    _assert_frames_equal(got.toPandas(), want.toPandas(), ["doc_id", "source", "day"])


def _raises_without_spark_job(spark, group, match, fn):
    """`fn` raises ValueError matching `match`, and starts no Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=match):
            fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("op", ["fold", "stm"])
def test_quantile_past_100_raises_before_any_spark_job(spark, eng, op):
    """Qnn is the nn-th percentile: Q150 is no FOLD_TYPE, and Engine.fold
    and Engine.stm reject it before a job instead of returning NULL
    values."""
    run = {
        "fold": lambda: eng.fold("tier_10d", "month", "Q150"),
        "stm": lambda: eng.stm("tier_10d", ("AVG", "Q150")),
    }[op]
    _raises_without_spark_job(spark, f"quantile_past_100_{op}", "Q150", run)


def test_q0_and_q100_are_min_and_max(eng):
    """The quantile bounds stay: Q0 is MIN and Q100 is MAX, in both forms."""
    folds = {s: eng.fold("tier_10d", "month", s).toPandas() for s in ("Q0", "MIN", "Q100", "MAX")}
    for q, m in (("Q0", "MIN"), ("Q100", "MAX")):
        _assert_frames_equal(folds[q], folds[m], ["doc_id", "source", "bucket"])
    got = eng.stm("tier_10d", ("Q0", "MIN", "Q100", "MAX")).toPandas()
    assert len(got) > 0
    assert (got.q0 == got["min"]).all() and (got.q100 == got["max"]).all()


@pytest.mark.parametrize("horizon,step", [(30, 0), (30, -7), (-1, 1)])
def test_harmonic_eval_rejects_bad_grid_before_any_spark_job(spark, eng, horizon, step):
    """A grid step below 1 or a negative horizon is no grid: harmonic_eval
    and Engine.harmonic raise ValueError before a job, where a step of 0
    failed inside a task on Spark's sequence bounds and a negative horizon
    returned the fit alone."""
    fit = harmonic_fit(eng._series("tier_10d"), modes=2, bounds=True)
    grid = dict(horizon=horizon, step=step)
    for name, run in (
        ("operator", lambda: harmonic_eval(fit, modes=2, keys=("doc_id", "source"), **grid)),
        ("engine", lambda: eng.harmonic("tier_10d", **grid)),
    ):
        _raises_without_spark_job(
            spark, f"harmonic_grid_{name}_{horizon}_{step}", "step >= 1 and horizon >= 0", run
        )


# ---------------------------------------------------------------------------
# degenerate series: NULL or no row, never an ANSI exception
# ---------------------------------------------------------------------------

DAYS = [365, 375, 385, 395, 405, 415]  # 1971-01-01 .. 1971-02-20
DEGENERATE_BUCKETS = {  # tier -> the flat series' bucket ids
    "tier_raw": DAYS,
    "tier_10d": DAYS,
    "tier_monthly": [197101, 197102, 197103, 197104, 197105, 197106],
    "tier_seasonal": [19711, 19712, 19713, 19714, 19721, 19722],
}
DEGENERATE = {  # doc -> (positions into the bucket ids, values)
    "one": ([0], [7.0]),
    "two": ([0, 4], [1.0, 3.0]),
    "flat": (list(range(6)), [5.0] * 6),
    "zero": (list(range(6)), [0.0] * 6),
    "tenth": ([0, 1, 2], [0.1] * 3),  # 0.1 is inexact: the moments leave a residue
}
CONSTANT = ("flat", "zero", "tenth")  # zero spread, zero sum for "zero"


@pytest.fixture(scope="module")
def degenerate(spark, tmpdir_session):
    """A warehouse whose every tier holds the DEGENERATE docs: one point,
    two points, two constant series and an all-zero one."""
    wh = os.path.join(tmpdir_session, "degenerate_wh")
    for tier in TIERS:
        rows = []
        for doc, (pos, vals) in DEGENERATE.items():
            b = [DEGENERATE_BUCKETS[tier][i] for i in pos]
            tok = [int(round(v)) for v in vals]
            rows.append((doc, "s", 0, b, vals, tok))
        spark.createDataFrame(rows, TIER_SCHEMA).write.mode("overwrite").partitionBy(
            "salt"
        ).parquet(f"{wh}/{tier}")
    return Engine(spark, wh, EngineConfig())


@pytest.mark.parametrize("tier,period", FOLDS)
def test_fold_degenerate_series_never_raises(degenerate, tier, period):
    rows = _labelled((s, degenerate.fold(tier, period, s)) for s in FOLD_TYPES).collect()
    assert {r["label"] for r in rows} == set(FOLD_TYPES)
    for r in rows:
        if r["label"] in SHIFTED and (r["n_obs"] == 1 or r["doc_id"] in CONSTANT):
            assert r["value"] is None, r


def test_fold_skw_krt_single_point_month_is_null(degenerate):
    """A month with one point or constant values has m2 = 0; without the
    divisor guard SKW/KRT raised DIVIDE_BY_ZERO under ANSI. Both the nested
    fold and the long-form operator return NULL for such a group."""
    for s in SHIFTED:
        got = {
            (r["doc_id"], r["bucket"]): r["value"]
            for r in degenerate.fold("tier_raw", "month", s).collect()
        }
        assert all(got[(doc, 197101)] is None for doc in ("one", *CONSTANT))
        long = fold_by_period(degenerate.tier_long("tier_raw"), "month", s, day_col="bucket")
        assert long.filter(F.col("value").isNotNull()).count() == 0


@pytest.mark.parametrize("tier", TIERS)
def test_stm_degenerate_series_never_raises(degenerate, tier):
    out = {r["doc_id"]: r for r in degenerate.stm(tier, FOLD_TYPES).collect()}
    assert set(out) == set(DEGENERATE)
    for doc in ("one", *CONSTANT):
        assert out[doc]["skw"] is None and out[doc]["krt"] is None
    assert out["one"]["q25"] == out["one"]["q75"] == 7.0
    for doc in CONSTANT:
        assert out[doc]["std"] == 0.0 and out[doc]["iqr"] == 0.0


@pytest.mark.parametrize("tier", TIERS)
def test_harmonic_degenerate_series_never_raises(degenerate, tier):
    fit = {r["doc_id"]: r for r in degenerate.harmonic(tier, modes=1).collect()}
    assert set(fit) == set(CONSTANT)  # 1 or 2 points cannot fit 3 coefficients
    for doc in CONSTANT:
        assert fit[doc]["rmse"] == pytest.approx(0.0, abs=1e-9)
    fc = degenerate.harmonic(tier, modes=1, horizon=20, step=10).collect()
    assert {r["doc_id"] for r in fc} == set(CONSTANT)


def test_ops_over_tier_trimmed_to_nothing(spark, tmpdir_session):
    inp = os.path.join(tmpdir_session, "nested_trim_seq")
    e = Engine(spark, os.path.join(tmpdir_session, "nested_trim_wh"), EngineConfig())
    write_sequences(spark, inp, 20)
    e.build_tiers(inp)
    e.apply_retention("tier_10d", 10**9)
    assert e.fold("tier_10d", "month", "SKW").count() == 0
    assert e.stm("tier_10d", FOLD_TYPES).count() == 0
    assert e.harmonic("tier_10d").count() == 0
    assert e.harmonic("tier_10d", horizon=30).count() == 0
    assert e.noise_screen("tier_10d").count() == 0
    for variant in ("threshold", "spline", "polar"):
        assert e.phenology("tier_10d", variant).count() == 0, variant


@pytest.mark.parametrize("tier", TIERS)
def test_series_ops_degenerate_series_never_raise(degenerate, tier):
    """noise_screen, phenology, trend and breaks over one point, two points,
    constant and all-zero series: NULL or no row, never an ANSI error.
    Threshold and spline phenology find no season in any of them; the
    all-zero series has no polar seasonality (its value sum is 0). A
    constant series has no trend t_stat, so it is never significant."""
    points = sum(len(pos) for pos, _ in DEGENERATE.values())
    ns = degenerate.noise_screen(tier).collect()
    assert len(ns) == points and all(r["kept"] for r in ns)
    for variant in ("threshold", "spline"):
        assert degenerate.phenology(tier, variant).collect() == [], variant
    pol = degenerate.phenology(tier, "polar").collect()
    assert {r["doc_id"] for r in pol} == set(DEGENERATE)
    assert all(r["seasonality"] is None for r in pol if r["doc_id"] == "zero")
    for tail in (None, "LEFT", "TWO", "RIGHT"):
        tr = {r["doc_id"]: r for r in degenerate.trend(tier, tail).collect()}
        assert set(tr) <= set(DEGENERATE), tail
        if "one" in tr:
            assert tr["one"]["slope"] is None, tail
        for doc in CONSTANT:
            assert tr[doc]["t_stat"] is None, (tail, doc)
            assert tail is None or tr[doc]["significant"] is not True, (tail, doc)
    assert {r["doc_id"] for r in degenerate.breaks(tier).collect()} <= set(DEGENERATE)


def test_polar_phenology_keeps_sources_apart(spark, tmpdir_session):
    """One doc_id under two sources whose seasons peak 180 days apart gives
    two polar rows, each with its own source's mean day of year."""
    wh = os.path.join(tmpdir_session, "polar_sources_wh")
    peaks = {"a": 60, "b": 240}  # day of year of each source's peak, 1971
    rows = [
        ("x", src, 0, [365 + doy - 11, 365 + doy - 1, 365 + doy + 9], [1.0, 10.0, 1.0], [1, 10, 1])
        for src, doy in peaks.items()
    ]
    spark.createDataFrame(rows, TIER_SCHEMA).write.partitionBy("salt").parquet(f"{wh}/tier_10d")
    out = Engine(spark, wh, EngineConfig()).phenology("tier_10d", "polar").collect()
    assert sorted((r["doc_id"], r["source"], r["year"]) for r in out) == [
        ("x", "a", 1971), ("x", "b", 1971)
    ]
    for r in out:
        assert r["mean_doy"] == pytest.approx(peaks[r["source"]], abs=0.5)


@pytest.mark.parametrize("tier", TIERS)
def test_array_ops_plan_no_exchange_and_no_python(eng, tier):
    """trend (every tail), breaks and polar phenology read each stored row
    in place: their executed plans hold no Exchange and no Python node."""
    ops = {f"trend {t}": eng.trend(tier, t) for t in (None, "LEFT", "TWO", "RIGHT")}
    ops["breaks"] = eng.breaks(tier)
    ops["polar"] = eng.phenology(tier, "polar")
    for name, df in ops.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (name, plan)
        assert audit_plan(plan)["python_nodes"] == 0, (name, plan)

"""Round-2 operators: BELOW_NOISE restore (F2 second half), harmonic
evaluate/forecast (W5 second half), trend significance (A3 TAIL/CONF), and
POL phenology (W12 polar variant)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from sits_classification_spark.operators.harmonic import (
    below_noise_restore,
    harmonic_eval,
    harmonic_fit,
)
from sits_classification_spark.operators.phenology import pol_metrics
from sits_classification_spark.operators.seriesmap import series_rows
from sits_classification_spark.operators.stm import trend


def test_below_noise_restore_restores_good_masked_obs(spark):
    # linear series 2*day; obs at day 5 masked but fits perfectly -> restored;
    # obs at day 7 masked and wildly off the line -> stays dropped
    rows = [
        ("d", 0, 0.0, False), ("d", 1, 2.1, False), ("d", 2, 3.9, False),
        ("d", 3, 6.2, False), ("d", 4, 7.9, False),
        ("d", 5, 10.0, True),           # fits the line
        ("d", 6, 12.1, False),
        ("d", 7, 500.0, True),          # outlier
        ("d", 8, 16.0, False), ("d", 9, 18.1, False),
    ]
    df = spark.createDataFrame(rows, "doc_id string, day long, value double, masked boolean")
    out = {r["day"]: r for r in below_noise_restore(df, below_noise=1.0).collect()}
    assert out[5]["restored"] and out[5]["kept"]
    assert not out[7]["restored"] and not out[7]["kept"]
    assert all(out[d]["kept"] for d in (0, 1, 2, 3, 4, 6, 8, 9))


def test_harmonic_eval_reproduces_pure_harmonic(spark):
    # exact harmonic input -> fit + eval reproduces it on the grid (incl. the
    # forecast horizon, since the model is periodic)
    a0, a1, b1, period = 5.0, 2.0, -1.0, 20.0
    rows = [
        ("d", d, a0 + a1 * math.cos(2 * math.pi * d / period)
         + b1 * math.sin(2 * math.pi * d / period), "s")
        for d in range(0, 40)
    ]
    df = spark.createDataFrame(rows, "doc_id string, day long, value double, source string")
    fit = harmonic_fit(series_rows(df), modes=1, trend=False, period=period)
    fit = fit.join(
        df.groupBy("doc_id").agg(F.min("day").alias("lo"), F.max("day").alias("hi")),
        "doc_id",
    )
    out = harmonic_eval(fit, modes=1, period=period, horizon=20, step=5)
    got = {r["day"]: r for r in out.collect()}
    assert max(r["day"] for r in got.values()) == 55
    for d, r in got.items():
        expect = a0 + a1 * math.cos(2 * math.pi * d / period) + b1 * math.sin(
            2 * math.pi * d / period
        )
        assert abs(r["fitted"] - expect) < 1e-9
        assert r["is_forecast"] == (d > 39)


@pytest.mark.parametrize("tail,expect", [("TWO", True), ("RIGHT", True), ("LEFT", False)])
def test_trend_significance_tails(spark, tail, expect):
    # strongly increasing series -> significant for TWO/RIGHT, not LEFT
    rows = [("d", i, 3.0 * i + 0.1 * ((i * 7) % 5), ) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id string, day long, value double")
    r = trend(series_rows(df), tail=tail).collect()[0]
    assert r["significant"] == expect
    assert r["slope"] == pytest.approx(3.0, abs=0.05)


def test_trend_significance_flat_noise_not_significant(spark):
    rng = np.random.default_rng(7)
    rows = [("d", i, float(v)) for i, v in enumerate(rng.normal(0, 1, 40))]
    df = spark.createDataFrame(rows, "doc_id string, day long, value double")
    r = trend(series_rows(df), tail="TWO").collect()[0]
    assert not r["significant"]


@pytest.mark.parametrize(
    "points",
    [
        [(0, 1.0), (10, 3.0)],  # two points: n - 2 = 0
        [(5, 1.0), (5, 2.0), (5, 4.0)],  # one distinct day: sxx = 0
        [(0, 1.0), (10, 3.0), (20, 5.0)],  # perfect fit: rss = 0
    ],
    ids=["two_points", "constant_day", "perfect_fit"],
)
def test_trend_degenerate_series_null_t_stat(spark, points):
    """Under ANSI, a series whose se(slope) is undefined or zero gets a NULL
    t_stat instead of raising DIVIDE_BY_ZERO. The explicit-moment form of a
    perfect fit may leave a tiny negative rss: NULL too, not the NaN of its
    sqrt."""
    rows = series_rows(spark.createDataFrame(
        [("d", day, v) for day, v in points], "doc_id string, day long, value double"
    ))
    for tail in (None, "TWO"):
        assert trend(rows, tail).collect()[0]["t_stat"] is None, tail


def test_trend_t_stat_bit_identical_to_unguarded_formula(spark):
    """The degenerate-series guards leave a regular series' t_stat
    bit-identical to the plain formula they wrap, summed in day order (one
    partition, rows in day order)."""
    rows = [("d", i, 3.0 * i + 0.1 * ((i * 7) % 5)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id string, day long, value double").coalesce(1)
    mxx = "(avg(day*day) - avg(day)*avg(day))"
    mxy = "(avg(day*value) - avg(day)*avg(value))"
    myy = "(avg(value*value) - avg(value)*avg(value))"
    plain_sql = F.expr(
        f"(({mxy}/{mxx}) / sqrt(({myy} - {mxy}*{mxy}/{mxx})"
        f" / ((count(value)-2)*{mxx})))"
    )
    want = df.agg(plain_sql.alias("sql")).collect()[0]["sql"]
    for tail in (None, "TWO"):
        assert trend(series_rows(df), tail).collect()[0]["t_stat"] == want, tail


def test_pol_metrics_concentrated_vs_uniform(spark):
    # all value on one day -> seasonality 1 at that doy; uniform value over
    # the year -> seasonality ~0
    one_day = [("c", 19800 + 0, 10.0)]  # 19800 = 2024-03-18
    uniform = [("u", 19723 + k, 1.0) for k in range(0, 364, 7)]
    df = spark.createDataFrame(one_day + uniform, "doc_id string, day long, value double")
    out = {r["doc_id"]: r for r in pol_metrics(series_rows(df)).collect()}
    assert out["c"]["seasonality"] == pytest.approx(1.0, abs=1e-12)
    doy = (np.datetime64("1970-01-01") + 19800).astype("datetime64[D]")
    expected_doy = (19800 - (np.datetime64("2024-01-01") - np.datetime64("1970-01-01")).astype(int)) + 1
    assert out["c"]["mean_doy"] == pytest.approx(float(expected_doy), abs=1e-6)
    assert out["u"]["seasonality"] < 0.15


def test_harmonic_fit_range_ignores_out_of_window_break(spark):
    """fit_range (NRT setup, TSA.prm:246-261): a structural break AFTER the
    fit window must not move the coefficients — the fit over (0, 19) with a
    +100 jump at day >= 20 equals the fit of the clean series alone, and
    harmonic_eval extrapolates the pre-break curve into the break region."""
    a0, a1, b1, period = 5.0, 2.0, -1.0, 20.0

    def f(d):
        return a0 + a1 * math.cos(2 * math.pi * d / period) + b1 * math.sin(
            2 * math.pi * d / period
        )

    rows = [("d", d, f(d) + (100.0 if d >= 20 else 0.0), "s") for d in range(40)]
    df = spark.createDataFrame(
        rows, "doc_id string, day long, value double, source string"
    )
    fit = harmonic_fit(series_rows(df), modes=1, period=period, fit_range=(0, 19))
    r = fit.collect()[0]
    assert r["n"] == 20
    assert r["coef"][0] == pytest.approx(a0, abs=1e-9)
    assert r["coef"][1] == pytest.approx(a1, abs=1e-9)
    assert r["coef"][2] == pytest.approx(b1, abs=1e-9)
    assert r["rmse"] == pytest.approx(0.0, abs=1e-9)
    out = harmonic_eval(
        fit.withColumn("lo", F.lit(0)).withColumn("hi", F.lit(39)),
        modes=1, period=period, step=1,
    ).toPandas().set_index("day")
    # the monitoring region: residual vs the extrapolated curve exposes the
    # break at exactly +100
    assert out.loc[30, "fitted"] == pytest.approx(f(30), abs=1e-9)

"""Operator unit tests: Catalyst-expression operators and the cascade's
flat-buffer kernels against pure-pandas/numpy oracles and the literal
reference ops (SURVEY.md §5 test plan)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from sits_classification_spark.operators.asof import (
    asof_join_cogroup,
    asof_lookup_window,
)
from sits_classification_spark.config import DEFAULT_CONFIG
from sits_classification_spark.operators.folds import fold_by_period
from sits_classification_spark.operators.harmonic import (
    harmonic_design,
    harmonic_fit,
    noise_filter,
)
from sits_classification_spark.operators.seriesmap import map_series, resample_rows, series_rows
from sits_classification_spark.operators.stm import standardize, stm, trend
from sits_classification_spark.operators.windows import compact_nonzero, pad_to_length
from sits_classification_spark.plans import flatkernels as FK
from sits_classification_spark.plans.cascade import _tier_batch


@pytest.fixture(scope="module")
def long_df(spark):
    """Irregular series with interior/leading/trailing gaps."""
    rows = []
    rng = np.random.default_rng(7)
    for d in range(20):
        days = np.sort(rng.choice(200, size=30, replace=False))
        vals = rng.integers(0, 1000, size=30).astype(float)
        mask = rng.random(30) < 0.25
        vals[mask] = np.nan
        for day, v in zip(days, vals):
            rows.append((f"d{d:03d}", "s0", int(day), None if np.isnan(v) else float(v)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "day", "value"])
    return spark.createDataFrame(pdf), pdf


def _valid_flat(pdf):
    """The valid (day, value) points of a long frame as flat_interp's
    doc-major flat buffers: (doc ids, offsets, days, values)."""
    docs, lens, days, vals = [], [], [], []
    for doc, g in pdf.dropna(subset=["value"]).sort_values("day").groupby("doc_id"):
        docs.append(doc)
        lens.append(len(g))
        days.append(g["day"].to_numpy(dtype=np.int64))
        vals.append(g["value"].to_numpy(dtype=np.float64))
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
    return docs, offsets, np.concatenate(days), np.concatenate(vals)


def test_gapfill_linear_matches_reference_interpolate(spark, long_df):
    """The engine's gap-fill kernel (FK.flat_interp, fused with the grid
    resample) == the literal reference op (class_run.py:193-194) at every
    interior observation day. On a 1-day grid every day between a doc's
    first and last valid observation is a grid day; the edge days the
    reference back/forward-fills lie outside the engine's grid."""
    _, pdf = long_df
    docs, offsets, days, vals = _valid_flat(pdf)
    goff, gdays, gvals = FK.flat_interp(days, vals, offsets, 1)
    for k, doc in enumerate(docs):
        g = pdf[pdf.doc_id == doc].sort_values("day")
        s = pd.Series(g["value"].to_numpy(), index=g["day"].to_numpy(), dtype="float64")
        want = s.interpolate(method="index", limit_direction="both")
        lo, hi = days[offsets[k]], days[offsets[k + 1] - 1]
        want = want[(want.index >= lo) & (want.index <= hi)]
        assert len(want) > 0
        grid = dict(zip(gdays[goff[k]:goff[k + 1]], gvals[goff[k]:goff[k + 1]]))
        have = np.array([grid[d] for d in want.index])
        np.testing.assert_allclose(have, want.to_numpy(), rtol=1e-12)


def test_gapfill_idempotent_on_complete_series():
    """A gap-free series resampled at its own cadence comes back unchanged."""
    days = np.array([0, 3, 6, 9, 12], dtype=np.int64)
    vals = np.array([1.0, 2.0, 3.0, 4.0, 5.0])
    goff, gdays, gvals = FK.flat_interp(days, vals, np.array([0, 5], dtype=np.int64), 3)
    np.testing.assert_array_equal(goff, [0, 5])
    np.testing.assert_array_equal(gdays, days)
    np.testing.assert_array_equal(gvals, vals)


def test_resample_rows_matches_pandas_and_npinterp(spark, long_df):
    """resample_rows == np.interp of each doc's valid points (grouped in
    pandas) onto the doc's own INT_DAY grid, from its first to its last
    valid day. Series rows carry no null values: the gaps are dropped
    before nesting, as the cascade's decode drops nodata."""
    df, pdf = long_df
    rows = series_rows(df.where(F.col("value").isNotNull()), ("doc_id", "source"))
    a = {r["doc_id"]: r for r in resample_rows(rows, 10).collect()}
    assert len(a) == pdf.doc_id.nunique()
    for doc, g in pdf.groupby("doc_id"):
        valid = g.dropna(subset=["value"]).sort_values("day")
        grid = np.arange(valid["day"].min(), valid["day"].max() + 1, 10)
        want = np.interp(grid, valid["day"], valid["value"])
        np.testing.assert_array_equal(a[doc]["days"], grid)
        np.testing.assert_allclose(a[doc]["values"], want, rtol=1e-12)


def test_fold_constant_series_is_constant(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": ["a"] * 40,
            "source": ["s"] * 40,
            "grid_day": np.arange(19700, 19700 + 400, 10),
            "value": [7.0] * 40,
        }
    )
    out = fold_by_period(spark.createDataFrame(pdf), "month").toPandas()
    assert (out["value"] == 7.0).all()


def test_fold_stats_against_numpy(spark):
    rng = np.random.default_rng(3)
    vals = rng.normal(100, 25, 200)
    pdf = pd.DataFrame(
        {
            "doc_id": ["a"] * 200,
            "source": ["s"] * 200,
            "grid_day": np.arange(200),
            "value": vals,
        }
    )
    df = spark.createDataFrame(pdf)
    for stat, want in [
        ("AVG", vals.mean()),
        ("MIN", vals.min()),
        ("MAX", vals.max()),
        ("STD", vals.std()),  # population, ddof=0
        ("RNG", vals.max() - vals.min()),
        ("NUM", 200.0),
        ("Q50", np.percentile(vals, 50)),
        ("IQR", np.percentile(vals, 75) - np.percentile(vals, 25)),
    ]:
        got = (
            fold_by_period(df, "year", stat=stat).toPandas()["value"].iloc[0]
        )
        assert got == pytest.approx(want, rel=1e-9), stat
    # skew/kurtosis vs scipy-free formulas
    m = vals.mean()
    m2 = ((vals - m) ** 2).mean()
    skw = ((vals - m) ** 3).mean() / m2**1.5
    krt = ((vals - m) ** 4).mean() / m2**2 - 3
    got_s = fold_by_period(df, "year", stat="SKW").toPandas()["value"].iloc[0]
    got_k = fold_by_period(df, "year", stat="KRT").toPandas()["value"].iloc[0]
    assert got_s == pytest.approx(skw, rel=1e-6)
    assert got_k == pytest.approx(krt, rel=1e-6)


def test_fold_skw_krt_numerically_stable_at_large_mean(spark):
    """SKW/KRT with mean ~ 1e7 and amplitude ~ 1: the raw-moment form loses
    ~14 significant digits to cancellation; the shifted form must match the
    centered numpy computation to rtol 1e-9. Also pins STM."""
    from sits_classification_spark.operators.stm import stm

    rng = np.random.default_rng(7)
    vals = 1e7 + rng.normal(0.0, 1.0, 300) + 0.3 * rng.normal(0.0, 1.0, 300) ** 2
    pdf = pd.DataFrame(
        {
            "doc_id": ["a"] * 300,
            "source": ["s"] * 300,
            "grid_day": np.arange(300),
            "value": vals,
        }
    )
    df = spark.createDataFrame(pdf)
    # oracle must itself correct for the rounded-pivot residual: the float64
    # mean of 1e7-scale data is off by up to ulp(1e7)/2 ~ 1e-9, and the
    # naive ((v-m)**3).mean() then carries a 3*delta*m2 ~ 3e-9 error —
    # verified against Decimal ground truth. The residual-mean-corrected
    # central moments below match Decimal to ~1e-13.
    vc = vals - vals.mean()
    mu = vc.mean()
    e2, e3, e4 = (vc**2).mean(), (vc**3).mean(), (vc**4).mean()
    m2 = e2 - mu * mu
    m3 = e3 - 3 * mu * m2 - mu**3
    m4 = e4 - 4 * mu * e3 + 6 * mu * mu * e2 - 3 * mu**4
    skw = m3 / m2**1.5
    krt = m4 / m2**2 - 3
    got_s = fold_by_period(df, "year", stat="SKW").toPandas()["value"].iloc[0]
    got_k = fold_by_period(df, "year", stat="KRT").toPandas()["value"].iloc[0]
    assert got_s == pytest.approx(skw, rel=1e-9)
    assert got_k == pytest.approx(krt, rel=1e-9)
    s = stm(df, stats=("SKW", "KRT")).toPandas()
    assert s["skw"].iloc[0] == pytest.approx(skw, rel=1e-9)
    assert s["krt"].iloc[0] == pytest.approx(krt, rel=1e-9)


def test_pack_tokens_sorted_by_bucket():
    """The tier token form is written by one function, cascade._tier_batch:
    tokens keep the bucket order of the row and round half-to-even
    (np.round), so 20.5 -> 20 and 21.5 -> 22."""
    keys = [pa.array(["a"]), pa.array(["s"]), pa.array([0], type=pa.int32())]
    rows = _tier_batch(
        keys,
        np.array([0, 4], dtype=np.int64),
        np.array([1, 2, 3, 4], dtype=np.int64),
        np.array([10.6, 20.5, 30.4, 21.5]),
        "tier_10d",
    ).to_pylist()
    assert rows[0]["buckets"] == [1, 2, 3, 4]
    assert rows[0]["tokens"] == [11, 20, 30, 22]
    # n_tok is derived on read (cascade.read_tier), not written
    assert list(rows[0]) == ["doc_id", "source", "salt", "buckets", "values", "tokens", "tier"]
    assert rows[0]["tier"] == "tier_10d"


def test_decode_and_screens():
    """FK.flat_decode: token position k -> day epoch + k*cadence, -9999 ->
    gap (dropped), and docs with fewer than 2 valid observations (all-nodata,
    singleton) screened out. Token positions map to distinct days, so there
    is no duplicate day to dedup."""
    c = DEFAULT_CONFIG
    tokens = [[10, -9999, 30], [-9999, -9999, -9999], [5, -9999, -9999]]
    flat = np.array([t for row in tokens for t in row], dtype=np.int64)
    keep, offsets, days, vals, n = FK.flat_decode(
        flat, np.array([0, 3, 6, 9], dtype=np.int64), c.nodata, c.cadence_days, c.epoch_day
    )
    assert n == 3
    assert list(keep) == [True, False, False]
    np.testing.assert_array_equal(offsets, [0, 2])
    np.testing.assert_array_equal(days, [c.epoch_day, c.epoch_day + 2 * c.cadence_days])
    np.testing.assert_array_equal(vals, [10.0, 30.0])


def test_stm_trend_standardize(spark, long_df):
    df, pdf = long_df
    s = stm(df).toPandas()
    assert {"min", "q50", "avg", "std", "num"} <= set(s.columns)
    t = trend(series_rows(df.dropna(), ("doc_id", "source"))).toPandas()
    assert {"slope", "intercept", "r2", "t_stat"} <= set(t.columns)
    z = standardize(df.dropna(), mode="NORMALIZE").toPandas()
    g = z.groupby("doc_id")["standardized"]
    np.testing.assert_allclose(g.mean(), 0, atol=1e-9)


def test_asof_window_vs_cogroup(spark):
    left = spark.createDataFrame(
        pd.DataFrame(
            {"key": ["k"] * 4, "t": [1, 5, 9, 20], "x": [1.0, 2.0, 3.0, 4.0]}
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame({"key": ["k"] * 3, "t": [0, 6, 15], "r": [100.0, 200.0, 300.0]})
    )
    a = (
        asof_lookup_window(left, right, "key", "t", "r")
        .orderBy("t")
        .toPandas()["asof_value"]
        .tolist()
    )
    b = (
        asof_join_cogroup(left, right, "key", "t", "r")
        .orderBy("t")
        .toPandas()["asof_value"]
        .tolist()
    )
    assert a == b == [100.0, 100.0, 200.0, 300.0]


def test_harmonic_fit_recovers_signal(spark):
    days = np.arange(0, 730, 5)
    vals = 50 + 20 * np.cos(2 * np.pi * days / 365.25) - 7 * np.sin(
        2 * np.pi * days / 365.25
    )
    pdf = pd.DataFrame(
        {"doc_id": "a", "source": "s", "day": days, "value": vals}
    )
    out = harmonic_fit(series_rows(spark.createDataFrame(pdf)), modes=1).toPandas()
    coef = np.asarray(out["coef"][0])
    np.testing.assert_allclose(coef, [50.0, 20.0, -7.0], atol=1e-8)
    assert out["rmse"][0] < 1e-9


def test_noise_filter_drops_outlier(spark):
    days = np.arange(0, 100, 5)
    vals = days * 2.0
    vals[10] += 500.0  # outlier
    pdf = pd.DataFrame({"doc_id": "a", "source": "s", "day": days, "value": vals})
    out = noise_filter(series_rows(spark.createDataFrame(pdf))).toPandas()
    dropped = out[~out["kept"]]
    assert list(dropped["day"]) == [50]


def test_fixed_length_windows(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": ["a", "b"],
            "tokens": [[1, 0, 2, 0, 3], list(range(1, 10))],
            "n_tok": [5, 9],
            "source": ["s", "s"],
        }
    )
    out = (
        spark.createDataFrame(pdf)
        .withColumn("window", pad_to_length(compact_nonzero(F.col("tokens")), 6))
        .orderBy("doc_id")
        .toPandas()
    )
    assert list(out["window"][0]) == [1, 2, 3, 0, 0, 0]  # compacted + padded
    assert list(out["window"][1]) == [1, 2, 3, 4, 5, 6]  # truncated


def test_rbf_smooth_expr_matches_kernel(spark, long_df):
    from sits_classification_spark.operators.harmonic import (
        rbf_smooth,
        rbf_smooth_expr,
    )

    df, _ = long_df
    df = df.filter(F.col("value").isNotNull())
    a = (
        rbf_smooth_expr(df)
        .orderBy("doc_id", "day")
        .toPandas()
    )
    b = (
        rbf_smooth(series_rows(df))
        .orderBy("doc_id", "day")
        .select("doc_id", "day", "smoothed")
        .toPandas()
    )
    assert list(a["doc_id"]) == list(b["doc_id"])
    np.testing.assert_allclose(a["smoothed"], b["smoothed"], rtol=1e-9)
    # smoothing is a weighted mean: stays inside the per-doc value envelope
    env = df.groupBy("doc_id").agg(F.min("value").alias("lo"), F.max("value").alias("hi")).toPandas().set_index("doc_id")
    for doc, sm in zip(a["doc_id"], a["smoothed"]):
        assert env.loc[doc, "lo"] - 1e-9 <= sm <= env.loc[doc, "hi"] + 1e-9


def test_map_series_equals_a_loop_over_the_series(spark, long_df):
    """map_series over tiny Arrow batches (2 rows) equals a plain Python
    loop over the series: kernels yielding no, one and many records per
    series, batches that yield none, and the string and bigint key types
    kept."""
    _, pdf = long_df
    pdf = pdf.dropna(subset=["value"]).assign(k=lambda d: d["doc_id"].str[1:].astype(int))
    df = spark.createDataFrame(
        pdf[["doc_id", "k", "day", "value"]], "doc_id string, k bigint, day bigint, value double"
    )
    rows = series_rows(df, ("doc_id", "k"))

    def none(days, values):
        return iter(())

    def one(days, values):
        yield days.size, float(values.sum())

    def mixed(days, values):  # by series: none, one or one per point
        kind = int(days[0]) % 3
        if kind == 1:
            yield int(days[-1]), float(values[-1])
        elif kind == 2:
            yield from zip(days.tolist(), values.tolist())

    cases = [
        (none, "n long, s double", ["n", "s"]),
        (one, "n long, s double", ["n", "s"]),
        (mixed, "day long, value double", ["day", "value"]),
    ]
    groups = list(pdf.sort_values("day").groupby(["doc_id", "k"]))
    wants = [
        sorted(
            (*key, *rec)
            for key, g in groups
            for rec in kernel(g["day"].to_numpy(), g["value"].to_numpy())
        )
        for kernel, _, _ in cases
    ]
    assert len(wants[0]) == 0 and len(wants[1]) == len(groups) < len(wants[2])
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        for (kernel, fields, names), want in zip(cases, wants):
            out = map_series(rows, kernel, fields)
            assert out.columns == ["doc_id", "k", *names]
            assert [f.dataType.simpleString() for f in out.schema.fields[:2]] == ["string", "bigint"]
            assert sorted(tuple(r) for r in out.collect()) == want, kernel.__name__
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_resample_rows_keeps_sources_separate(spark):
    """A doc_id appearing under two sources must interpolate each source's
    series independently (regression: doc-only windows interleaved them)."""
    rows = [
        ("d1", "A", 0, 0.0), ("d1", "A", 20, 20.0),
        ("d1", "B", 0, 100.0), ("d1", "B", 20, 100.0),
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string, day int, value double")
    got = {
        (r["source"], d): v
        for r in resample_rows(series_rows(df, ("doc_id", "source")), 10).collect()
        for d, v in zip(r["days"], r["values"])
    }
    assert got[("A", 0)] == 0.0 and got[("A", 10)] == 10.0 and got[("A", 20)] == 20.0
    assert got[("B", 0)] == 100.0 and got[("B", 10)] == 100.0


def test_resample_rows_rejects_a_null_value(spark):
    """A null element of `values` raises a ValueError naming the column
    instead of spreading NaN over the grid."""
    from pyspark.errors import PythonException

    df = spark.createDataFrame(
        [("d1", [0, 10, 20, 30], [1.0, None, 3.0, 4.0])],
        "doc_id string, days array<bigint>, values array<double>",
    )
    with pytest.raises(PythonException, match=r"ValueError: .*'values'"):
        resample_rows(df, 5).collect()


def test_map_series_rejects_a_null_day(spark):
    """A null element of `days` raises a ValueError naming the column
    instead of handing the kernel a NaN day."""
    from pyspark.errors import PythonException

    df = spark.createDataFrame(
        [("d1", [0, None, 20], [1.0, 2.0, 3.0])],
        "doc_id string, days array<bigint>, values array<double>",
    )
    with pytest.raises(PythonException, match=r"ValueError: .*'days'"):
        map_series(df, lambda d, v: [(float(d.sum()),)], "s double").collect()


def test_sma_affine_recovers_pure_mixtures():
    """Closed-form unmixing: a pixel built as E @ f_true recovers f_true
    exactly (up to float); the sum-to-one variant returns fractions that
    sum to 1 for ANY pixel."""
    import numpy as np

    from sits_classification_spark.functions.scalar import sma_affine

    E = [
        [0.03, 0.12, 0.08], [0.05, 0.18, 0.06], [0.03, 0.25, 0.04],
        [0.55, 0.35, 0.02], [0.25, 0.45, 0.01], [0.12, 0.40, 0.01],
    ]
    En = np.array(E)
    rng = np.random.default_rng(7)
    for sum_to_one in (False, True):
        P, c = sma_affine(E, sum_to_one=sum_to_one)
        Pn, cn = np.array(P), np.array(c)
        for _ in range(20):
            f_true = rng.dirichlet([1.0, 1.0, 1.0])  # sums to 1: feasible
            x = En @ f_true
            f = Pn @ x + cn
            np.testing.assert_allclose(f, f_true, atol=1e-10)
        if sum_to_one:
            for _ in range(20):
                x = rng.uniform(0.0, 1.0, size=6)  # arbitrary pixel
                f = Pn @ x + cn
                assert abs(f.sum() - 1.0) < 1e-10


def test_lttb_preserves_endpoints_and_peaks(spark):
    """LTTB keeps first/last points, returns short series whole, and keeps
    an extreme spike (the largest-triangle property)."""
    from sits_classification_spark.operators.downsample import lttb

    rows = [(1, d, float(v)) for d, v in zip(range(40), [10.0] * 40)]
    rows[20] = (1, 20, 500.0)              # lone spike must survive
    rows += [(2, d, float(d)) for d in range(5)]   # short series: all kept
    df = spark.createDataFrame(rows, "doc_id long, day long, value double")
    out = lttb(series_rows(df), n_out=8)
    a = sorted(
        (r["day"], r["value"])
        for r in out.filter("doc_id = 1").collect()
    )
    assert len(a) == 8
    assert a[0][0] == 0 and a[-1][0] == 39
    assert (20, 500.0) in a
    b = sorted(r["day"] for r in out.filter("doc_id = 2").collect())
    assert b == [0, 1, 2, 3, 4]


def test_seasonal_decompose_recovers_weekly_pattern(spark):
    """A pure 7-periodic series decomposes to (adjusted) indices equal to
    the pattern's zero-mean form; a constant series gives all-zero indices."""
    from sits_classification_spark.operators.decompose import (
        seasonal_decompose_weekday,
    )

    pat = [10.0, 20.0, 30.0, 40.0, 30.0, 20.0, 10.0]  # mean 22.857...
    rows = [(1, d, pat[(d + 4) % 7]) for d in range(28)]
    rows += [(2, d, 50.0) for d in range(28)]
    df = spark.createDataFrame(rows, "doc_id long, day long, value double")
    out = {(r["doc_id"], r["weekday"]): r for r in seasonal_decompose_weekday(df).collect()}
    mean = sum(pat) / 7
    for wd in range(7):
        got = out[(1, wd)]["adj_e6"] / 1e6
        assert abs(got - (pat[wd] - mean)) < 2e-6, (wd, got)
        assert out[(2, wd)]["s_e6"] == 0 and out[(2, wd)]["adj_e6"] == 0


def test_mad_outliers_flags_spike_robustly(spark):
    """A lone spike is flagged; the median/MAD stay at the bulk values
    (robustness — a mean/std screen would be dragged by the spike)."""
    import __spark_entry__ as e

    rows = [(1, d, 10.0 + (d % 3) * 0.1) for d in range(21)]
    rows[10] = (1, 10, 999.0)
    df = spark.createDataFrame(rows, "doc_id long, day long, value double")
    # drive the same logic through the operator body (monkey series)
    import types

    orig = e._series
    try:
        e._series = lambda spark_, sf_: df
        out = e.q_mad_outliers(spark, "unused").collect()[0]
    finally:
        e._series = orig
    assert out["med200"] == 2020  # median 10.1 -> 200*10.1
    assert out["n_outliers"] == 1
    assert out["mad2x"] == 40     # MAD 0.1 -> 400*0.1


def test_sma_nnls_enumeration_is_exact_nnls(spark):
    """The active-set-enumeration SMA_NON_NEG (scalar.sma_nnls_maps /
    sma_nnls_fractions) equals brute-force exact NNLS (all feasible
    KKT-checked subsets, numpy) to machine precision, and every output
    fraction is >= 0."""
    from itertools import combinations

    from sits_classification_spark.functions import scalar as X

    E = np.array(
        [[0.03, 0.12, 0.08], [0.05, 0.18, 0.06], [0.03, 0.25, 0.04],
         [0.55, 0.35, 0.02], [0.25, 0.45, 0.01], [0.12, 0.40, 0.01]]
    )
    G = E.T @ E

    def nnls_ref(b):
        best = None
        for r in range(4):
            for act in combinations(range(3), r):
                free = [i for i in range(3) if i not in act]
                f = np.zeros(3)
                if free:
                    Ef = E[:, free]
                    sol = np.linalg.solve(Ef.T @ Ef, Ef.T @ b)
                    if (sol < -1e-12).any():
                        continue
                    f[free] = sol
                g = G @ f - E.T @ b
                if all(g[i] >= -1e-9 for i in act):
                    r2 = np.sum((E @ f - b) ** 2)
                    if best is None or r2 < best[1] - 1e-15:
                        best = (f, r2)
        return best[0]

    rng = np.random.RandomState(3)
    rows = [tuple(float(x) for x in rng.uniform(0.0, 1.2, size=6)) for _ in range(200)]
    # force boundary regimes: pure endmembers and negatives-prone mixes
    rows += [tuple(float(x) for x in E[:, j]) for j in range(3)]
    rows += [(0.9, 0.01, 0.01, 0.01, 0.01, 0.9)]
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "id long, b0 double, b1 double, b2 double, b3 double, b4 double, b5 double",
    )
    res = X.sma_nnls(df, [F.col(f"b{i}") for i in range(6)], E.tolist(), prefix="f")
    out = {
        r["id"]: r
        for r in res.select(
            "id", "f0", "f1", "f2", F.col("active_set").alias("act")
        ).collect()
    }
    for i, b in enumerate(rows):
        got = np.array([out[i]["f0"], out[i]["f1"], out[i]["f2"]])
        assert (got >= 0).all()
        assert out[i]["act"] >= 0  # the ELSE fallback never fires
        assert np.abs(got - nnls_ref(np.array(b))).max() < 1e-10, (i, b)


def test_holt_linear_matches_sequential_reference(spark):
    """The array-fold Holt (alpha=beta=1/2) equals a plain sequential
    Python implementation of the pinned contract, including n=1 and n=2
    edges."""
    from sits_classification_spark.operators.stm import holt_linear

    series = {
        1: [(0, 5.0)],
        2: [(0, 1.0), (7, 4.0)],
        3: [(0, 2.0), (3, 9.5), (5, -1.25), (9, 4.0), (12, 4.0)],
        4: [(d, float((d * 37) % 11) - 3.3) for d in range(40)],
    }
    rows = [(k, d, v) for k, pts in series.items() for d, v in pts]
    df = spark.createDataFrame(rows, "doc_id long, day long, value double")
    out = {r["doc_id"]: r for r in holt_linear(series_rows(df)).collect()}

    for k, pts in series.items():
        xs = [v for _, v in sorted(pts)]
        if len(xs) == 1:
            l, b = xs[0], 0.0
        else:
            l, b = xs[1], xs[1] - xs[0]
            for x in xs[2:]:
                lnew = 0.5 * x + 0.5 * (l + b)
                b = 0.5 * (lnew - l) + 0.5 * b
                l = lnew
        assert out[k]["n_obs"] == len(xs)
        assert out[k]["level"] == pytest.approx(l, abs=0)
        assert out[k]["trend"] == pytest.approx(b, abs=0)
        assert out[k]["forecast"] == pytest.approx(l + b, abs=0)


def test_theil_sen_matches_numpy_median_of_slopes(spark):
    """Theil-Sen slope/intercept equal the brute-force numpy lower-median
    of pairwise slopes, and the estimator shrugs off a gross outlier
    that swings the OLS trend."""
    from sits_classification_spark.operators.stm import theil_sen, trend

    pts = [(d, 2.0 * d + 1.0) for d in range(20)]
    pts[7] = (7, 500.0)  # gross outlier
    df = spark.createDataFrame(
        [(1, "s", d, v) for d, v in pts],
        "doc_id long, source string, day long, value double",
    )
    r = theil_sen(series_rows(df, ("doc_id", "source"))).collect()[0]
    days = np.array([d for d, _ in pts], dtype=float)
    vals = np.array([v for _, v in pts])
    slopes = sorted(
        (vals[j] - vals[i]) / (days[j] - days[i])
        for i in range(len(pts))
        for j in range(i + 1, len(pts))
    )
    m = len(slopes)
    med = slopes[(m + 1) // 2 - 1]
    resid = sorted(vals - med * days)
    icept = resid[(len(pts) + 1) // 2 - 1]
    assert r["n_pairs"] == m
    assert r["slope"] == pytest.approx(med, abs=0)
    assert r["intercept"] == pytest.approx(icept, abs=0)
    assert abs(r["slope"] - 2.0) < 0.15  # robust to the outlier
    ols = trend(series_rows(df, ("doc_id", "source"))).collect()[0]["slope"]
    assert abs(ols - 2.0) > 1.0  # which OLS is not


def test_twdtw_brute_force_and_exact_trace(spark):
    """TWDTW distances equal an independently-written top-down memoized DP
    (same semantics, different algorithm), and a series exactly tracing a
    pattern's (doy, value) points gets distance 0 and that label."""
    from functools import lru_cache

    from sits_classification_spark.operators.dtw import (
        DEFAULT_PATTERNS,
        DEFAULT_WEIGHT,
        INF,
        pattern_micro,
        twdtw_classify,
    )

    # doc 1: exact trace of pattern 1 (days chosen so day % 365 == pattern doy)
    base = 365 * 50
    trace = [(1, base + d, v) for d, v in DEFAULT_PATTERNS[1]]
    # doc 2: arbitrary wiggly series, some days duplicated in DOY space
    vals = [33.0, 11.5, 47.25, 90.0, 2.0, 140.5, 71.0, 55.5, 18.0, 63.0]
    other = [(2, base + 10 + 3 * i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        trace + other, "doc_id long, day long, value double"
    )
    got = {r["doc_id"]: r for r in twdtw_classify(series_rows(df)).collect()}

    assert got[1]["d_p1"] == 0 and got[1]["label"] == 1

    # independent reference: top-down recursion over (i, j) with the same
    # asymmetric step, open begin (restart at j=1), open end (min over i)
    pats = pattern_micro(DEFAULT_PATTERNS)

    def brute(rows, pdoy, pval):
        rows = sorted(rows, key=lambda r: r[1])
        doy = [r[1] % 365 for r in rows]
        vq = [int(np.floor(r[2] * 1e6 + 0.5)) for r in rows]

        def psi(i, j):
            a = abs(doy[i] - pdoy[j])
            return abs(vq[i] - pval[j]) + DEFAULT_WEIGHT * min(a, 365 - a)

        @lru_cache(maxsize=None)
        def D(i, j):
            if i == 0:
                return psi(0, 0) if j == 0 else INF
            prev = [D(i - 1, j)]
            if j >= 1:
                prev.append(D(i - 1, j - 1))
            if j >= 2:
                prev.append(D(i - 1, j - 2))
            if j == 0:
                prev.append(0)
            return psi(i, j) + min(prev)

        r = len(pdoy)
        return min(D(i, r - 1) for i in range(len(rows)))

    for doc, rows in ((1, trace), (2, other)):
        for p, (pd_, pv_) in enumerate(pats):
            assert got[doc][f"d_p{p}"] == brute(rows, pd_, pv_), (doc, p)


def test_twdtw_rejects_libraries_the_oracle_cannot_replay(spark):
    """Both engines need one pattern length R >= 3: a mixed-length library
    or one of 2-point patterns raises ValueError up front in the kernel
    and in the SQL generator alike."""
    from sits_classification_spark.operators.dtw import (
        DEFAULT_PATTERNS,
        twdtw_classify,
        twdtw_oracle_sql,
    )

    df = spark.createDataFrame([(1, 10, 1.0)], "doc_id long, day long, value double")
    mixed = [DEFAULT_PATTERNS[0], DEFAULT_PATTERNS[1][:5]]
    short = [[(12, 1.0), (16, 2.0)], [(20, 3.0), (24, 4.0)]]
    for lib, msg in ((mixed, "one length"), (short, "at least 3")):
        with pytest.raises(ValueError, match=msg):
            twdtw_classify(series_rows(df), patterns=lib)
        with pytest.raises(ValueError, match=msg):
            twdtw_oracle_sql("SELECT 1", patterns=lib)


def test_acf_matches_numpy_definition(spark):
    """q_acf's integer-exact r_k equals the Box-Jenkins ACF computed
    independently in float numpy (full-series mean/denominator)."""
    import __spark_entry__ as e

    vals = [10.25, 12.5, 9.75, 14.0, 13.25, 8.5, 11.0, 15.75, 12.25, 10.0]
    # write a tiny events parquet the query family can read
    import os
    import tempfile

    d = tempfile.mkdtemp()
    rows = [(7, f"2024-01-{i+1:02d} 00:00:00", v, i) for i, v in enumerate(vals)]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    r = e.queries()["acf"](spark, d).collect()[0]
    x = np.array(vals)
    dev = x - x.mean()
    den = float((dev * dev).sum())
    for k in (1, 2, 3):
        expect = float((dev[:-k] * dev[k:]).sum()) / den
        assert r[f"r{k}"] == pytest.approx(expect, abs=1e-12), k
    assert r["n"] == len(vals)


def test_pacf_matches_yule_walker(spark):
    """q_pacf's Durbin-Levinson phis equal the last coefficient of the
    Yule-Walker solve at each order, computed independently via numpy
    linalg on the Toeplitz system."""
    import os
    import tempfile

    import __spark_entry__ as e

    vals = [10.25, 12.5, 9.75, 14.0, 13.25, 8.5, 11.0, 15.75, 12.25, 10.0,
            13.5, 9.0]
    d = tempfile.mkdtemp()
    rows = [(3, f"2024-02-{i+1:02d} 00:00:00", v, i) for i, v in enumerate(vals)]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    r = e.queries()["pacf"](spark, d).collect()[0]
    x = np.array(vals)
    dev = x - x.mean()
    den = float((dev * dev).sum())
    rk = [1.0] + [float((dev[:-k] * dev[k:]).sum()) / den for k in (1, 2, 3)]
    for order, name in ((1, "phi1"), (2, "phi2"), (3, "phi3")):
        R = np.array([[rk[abs(i - j)] for j in range(order)] for i in range(order)])
        phi = np.linalg.solve(R, np.array(rk[1 : order + 1]))
        assert r[name] == pytest.approx(phi[-1], abs=1e-9), name


def test_regime_segments_matches_exhaustive_viterbi(spark):
    """The DP's total_cost equals the exhaustive minimum over all 2^T state
    paths (independent reference), the decoded path achieves that cost, and
    a clean step series decodes to the obvious LOW->HIGH segmentation."""
    from itertools import product

    from sits_classification_spark.operators.burst import regime_segments

    # noisy series with a level shift mid-way
    vals = [10.0, 12.0, 9.5, 11.0, 55.0, 60.0, 58.5, 9.0, 57.0, 59.0]
    df = spark.createDataFrame(
        [(5, 100 + i, v) for i, v in enumerate(vals)],
        "doc_id long, day long, value double",
    )
    r = regime_segments(series_rows(df)).collect()[0]
    cq = [int(np.floor(v * 100 + 0.5)) for v in vals]
    t = len(cq)
    srt = sorted(cq)
    m_lo, m_hi = srt[(t + 3) // 4 - 1], srt[(3 * t + 3) // 4 - 1]
    g = max(1, m_hi - m_lo)

    def path_cost(states):
        c = g if states[0] == 1 else 0
        for i, s in enumerate(states):
            c += abs(cq[i] - (m_hi if s else m_lo))
            if i and s != states[i - 1]:
                c += g
        return c

    best = min(path_cost(p) for p in product((0, 1), repeat=t))
    assert r["total_cost"] == best
    decoded = [int(ch) for ch in r["path"]]
    assert path_cost(decoded) == best
    assert r["m_lo"] == m_lo and r["m_hi"] == m_hi and r["gamma"] == g

    # clean step: 5 low then 5 high, no outliers -> one switch
    step = [10.0] * 5 + [80.0] * 5
    df2 = spark.createDataFrame(
        [(6, 200 + i, v) for i, v in enumerate(step)],
        "doc_id long, day long, value double",
    )
    r2 = regime_segments(series_rows(df2)).collect()[0]
    assert r2["path"] == "0000011111"


def test_mann_kendall_matches_definition(spark):
    """S, tie-corrected variance, and Z equal the textbook Mann-Kendall
    computed independently in pure python, on a series with ties and a
    known monotone case."""
    from sits_classification_spark.operators.stm import mann_kendall

    cases = {
        10: [3.0, 5.0, 4.0, 5.0, 7.0, 6.5, 8.0, 8.0, 9.5, 11.0],  # ties
        11: [float(i) for i in range(12)],  # strictly increasing
    }
    rows = [
        (doc, 50 + i, v)
        for doc, vals in cases.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "doc_id long, day long, value double")
    got = {r["doc_id"]: r for r in mann_kendall(series_rows(df)).collect()}
    for doc, vals in cases.items():
        x = [int(np.floor(v * 100 + 0.5)) for v in vals]
        n = len(x)
        s = sum(
            (x[j] > x[i]) - (x[j] < x[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        from collections import Counter

        tie = sum(t * (t - 1) * (2 * t + 5) for t in Counter(x).values())
        var18 = n * (n - 1) * (2 * n + 5) - tie
        if s > 0:
            z = (s - 1) / np.sqrt(var18 / 18.0)
        elif s < 0:
            z = (s + 1) / np.sqrt(var18 / 18.0)
        else:
            z = 0.0
        r = got[doc]
        assert r["s_stat"] == s and r["var18"] == var18, doc
        assert r["z"] == pytest.approx(z, abs=0), doc
        assert r["significant"] == int(abs(z) > 1.96), doc
    assert got[11]["significant"] == 1  # strict increase is significant


def test_ljung_box_matches_definition(spark):
    import os
    import tempfile

    import __spark_entry__ as e

    vals = [10.25, 12.5, 9.75, 14.0, 13.25, 8.5, 11.0, 15.75, 12.25, 10.0]
    d = tempfile.mkdtemp()
    rows = [(9, f"2024-03-{i+1:02d} 00:00:00", v, i) for i, v in enumerate(vals)]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    r = e.queries()["ljung_box"](spark, d).collect()[0]
    x = np.array(vals)
    dev = x - x.mean()
    den = float((dev * dev).sum())
    n = len(x)
    q = n * (n + 2) * sum(
        (float((dev[:-k] * dev[k:]).sum()) / den) ** 2 / (n - k)
        for k in (1, 2, 3)
    )
    assert r["q_stat"] == pytest.approx(q, rel=1e-12)
    assert r["not_white_noise"] == int(q > 7.814728)


def test_market_corr_matches_numpy(spark):
    """market_r equals the pairwise-complete Pearson correlation between
    each doc's cents series and the summed market series, computed
    independently in numpy."""
    import os
    import tempfile

    import __spark_entry__ as e

    series = {
        1: [(1, 10.0), (2, 12.0), (3, 9.0), (4, 14.0), (5, 11.0)],
        2: [(1, 5.0), (2, 6.5), (3, 4.0), (4, 8.0), (5, 6.0)],
        3: [(2, 50.0), (3, 40.0), (4, 60.0), (5, 45.0)],  # partial overlap
    }
    rows = []
    eid = 0
    for doc, pts in series.items():
        for d, v in pts:
            rows.append((doc, f"1970-01-{d:02d} 00:00:00", v, eid))
            eid += 1
    d = tempfile.mkdtemp()
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    got = {r["doc_id"]: r for r in e.queries()["market_corr"](spark, d).collect()}

    cents = {
        doc: {dd: int(np.floor(v * 100 + 0.5)) for dd, v in pts}
        for doc, pts in series.items()
    }
    market = {}
    for doc in cents:
        for dd, c in cents[doc].items():
            market[dd] = market.get(dd, 0) + c
    for doc, pts in cents.items():
        days = sorted(pts)
        x = np.array([pts[dd] for dd in days], dtype=float)
        y = np.array([market[dd] for dd in days], dtype=float)
        expect = np.corrcoef(x, y)[0, 1]
        assert got[doc]["market_r"] == pytest.approx(expect, rel=1e-12), doc
        assert got[doc]["n_obs"] == len(days)


def test_sma_nnls_generalizes_beyond_three_endmembers(spark):
    """The active-set enumeration must be derived from k (a fixed k=3
    subset list silently mis-solved other counts). k=2: compare against
    an independent projected-gradient NNLS solve; k=4: enumeration must
    produce 2^4 subsets and a feasible KKT-valid selection."""
    from sits_classification_spark.functions import scalar as X

    rng = [0.13, 0.57, 0.91, 0.24, 0.68]
    E2 = [[1.0, 0.2], [0.3, 1.0], [0.8, 0.6]]

    def pgd_nnls(E, x, iters=20000, eta=0.05):
        E = np.asarray(E)
        x = np.asarray(x)
        f = np.zeros(E.shape[1])
        for _ in range(iters):
            f = np.maximum(0.0, f - eta * (E.T @ (E @ f - x)))
        return f

    rows = [(i, rng[i % 5], rng[(i + 2) % 5], -rng[(i + 1) % 5]) for i in range(6)]
    df = spark.createDataFrame(rows, "id long, b0 double, b1 double, b2 double")
    res = X.sma_nnls(
        df, [F.col(f"b{i}") for i in range(3)], E2, prefix="f"
    ).collect()
    for r in rows:
        got = next(q for q in res if q["id"] == r[0])
        ref = pgd_nnls(E2, list(r[1:]))
        assert abs(got["f0"] - ref[0]) < 1e-5 and abs(got["f1"] - ref[1]) < 1e-5, r

    E4 = [
        [1.0, 0.1, 0.2, 0.1],
        [0.1, 1.0, 0.1, 0.2],
        [0.2, 0.1, 1.0, 0.1],
        [0.1, 0.2, 0.1, 1.0],
        [0.3, 0.2, 0.1, 0.4],
    ]
    maps4 = X.sma_nnls_maps(E4)
    assert len(maps4) == 16
    assert maps4[0][0] == (0, 1, 2, 3) and maps4[-1][0] == ()


def test_pettitt_matches_direct_double_sum(spark):
    """U_t from the W-recurrence equals the direct double-pair definition
    U_t = sum_{i<=t, j>t} sgn(x_j - x_i), K and the change point match,
    and a clean level shift is located at the shift and significant."""
    from collections import defaultdict

    import __spark_entry__ as e
    import os
    import tempfile

    cases = {
        1: [10.0, 11.0, 9.5, 10.5, 10.8, 9.8, 30.0, 31.0, 29.5, 30.5,
            31.5, 29.0, 30.2, 30.8, 29.8, 30.4],  # clean shift after t=6
        2: [5.0, 9.0, 3.0, 8.0, 2.0, 7.5, 4.5, 6.0, 5.5, 8.5],  # noise
    }
    rows, eid = [], 0
    for doc, vals in cases.items():
        for i, v in enumerate(vals):
            rows.append((doc, f"2024-04-{i+1:02d} 00:00:00", v, eid))
            eid += 1
    d = tempfile.mkdtemp()
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    got = {r["doc_id"]: r for r in e.queries()["pettitt"](spark, d).collect()}
    day0 = (pd.Timestamp("2024-04-01") - pd.Timestamp("1970-01-01")).days
    for doc, vals in cases.items():
        x = [int(np.floor(v * 100 + 0.5)) for v in vals]
        n = len(x)
        us = {}
        for t in range(1, n):
            us[t] = sum(
                (x[j] > x[i]) - (x[j] < x[i])
                for i in range(t)
                for j in range(t, n)
            )
        k = max(abs(u) for u in us.values())
        ct = min(t for t, u in us.items() if abs(u) == k)
        p = 2 * np.exp(-6.0 * k * k / (n**3 + n**2))
        r = got[doc]
        assert r["k_stat"] == k and r["change_day"] == day0 + ct - 1, doc
        assert r["significant"] == int(p < 0.05), doc
    assert got[1]["significant"] == 1
    assert got[1]["change_day"] == day0 + 5  # t=6, last pre-shift obs


def test_seasonal_mk_matches_per_season_sums(spark):
    """Seasonal MK equals MK computed independently per season (direct
    double-sum + tie correction) and summed, with <2-obs seasons dropped;
    a seasonal cycle alone must NOT be significant, while the same cycle
    plus a cross-year monotone shift must be."""
    import os
    import tempfile
    from collections import Counter, defaultdict

    import __spark_entry__ as e

    base_day = 360 * 55  # arbitrary epoch offset, multiple of 30
    cases = {}
    # doc 1: pure seasonal cycle over 2 "years" of 30-day months
    cases[1] = [
        (base_day + y * 360 + m * 30 + 3, 50.0 + 20.0 * (m % 2))
        for y in range(2)
        for m in range(12)
    ]
    # doc 2: same cycle + strong cross-year shift
    cases[2] = [
        (base_day + y * 360 + m * 30 + 3, 50.0 + 20.0 * (m % 2) + 40.0 * y)
        for y in range(2)
        for m in range(12)
    ]
    rows, eid = [], 0
    for doc, pts in cases.items():
        for d, v in pts:
            ts = pd.Timestamp("1970-01-01") + pd.Timedelta(days=d)
            rows.append((doc, ts, v, eid))
            eid += 1
    dirp = tempfile.mkdtemp()
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value", "event_id"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(dirp, "events.parquet")
    )
    got = {r["doc_id"]: r for r in e.queries()["seasonal_mk"](spark, dirp).collect()}

    for doc, pts in cases.items():
        seasons = defaultdict(list)
        for d, v in sorted(pts):
            seasons[(d // 30) % 12].append(int(np.floor(v * 100 + 0.5)))
        S = V = N = G = 0
        for x in seasons.values():
            if len(x) < 2:
                continue
            n = len(x)
            S += sum(
                (x[j] > x[i]) - (x[j] < x[i])
                for i in range(n)
                for j in range(i + 1, n)
            )
            tie = sum(t * (t - 1) * (2 * t + 5) for t in Counter(x).values())
            V += n * (n - 1) * (2 * n + 5) - tie
            N += n
            G += 1
        r = got[doc]
        assert (r["s_stat"], r["var18"], r["n_obs"], r["n_seasons"]) == (S, V, N, G), doc
        if S > 0:
            z = (S - 1) / np.sqrt(V / 18.0)
        elif S < 0:
            z = (S + 1) / np.sqrt(V / 18.0)
        else:
            z = 0.0
        assert r["significant"] == int(abs(z) > 1.96), doc
    assert got[1]["significant"] == 0  # cycle alone: no trend
    assert got[2]["significant"] == 1  # cycle + shift: trend found


def test_runs_test_matches_definition(spark):
    """R/n1/n2/z equal the textbook runs test computed independently,
    including median-equal drops; an alternating series is flagged
    non-random (too many runs), an iid-ish one is not."""
    import os
    import tempfile

    import __spark_entry__ as e

    cases = {
        1: [10.0 + 0.1 * i if i % 2 == 0 else 50.0 + 0.1 * i
            for i in range(20)],                   # distinct-valued alternation
        2: [11.0, 13.5, 12.7, 9.0, 8.8, 14.2, 13.9, 10.1, 9.7, 12.2,
            13.1, 10.5],                            # clustered, iid-compatible
        3: [5.0, 5.0, 5.0, 5.0],                    # constant -> no row
    }
    rows, eid = [], 0
    for doc, vals in cases.items():
        for i, v in enumerate(vals):
            rows.append((doc, f"2024-05-{i+1:02d} 00:00:00", v, eid))
            eid += 1
    d = tempfile.mkdtemp()
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    got = {r["doc_id"]: r for r in e.queries()["runs_test"](spark, d).collect()}

    assert 3 not in got  # every obs equals the median -> the doc drops
    for doc, vals in cases.items():
        x = [int(np.floor(v * 100 + 0.5)) for v in vals]
        med = sorted(x)[(len(x) + 1) // 2 - 1]
        seq = [1 if c > med else 0 for c in x if c != med]
        if not seq:
            continue
        n1, n2 = sum(seq), len(seq) - sum(seq)
        r = got[doc]
        assert (r["n1"], r["n2"]) == (n1, n2), doc
        runs = 1 + sum(a != b for a, b in zip(seq, seq[1:]))
        assert r["runs"] == runs, doc
        n = n1 + n2
        var = 2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n * n * (n - 1.0)) if n > 1 else 0.0
        if var > 0:
            z = (runs - (1.0 + 2.0 * n1 * n2 / n)) / np.sqrt(var)
            assert r["z"] == pytest.approx(z, rel=1e-12), doc
            assert r["non_random"] == int(abs(z) > 1.96), doc
        else:
            assert r["z"] is None and r["non_random"] is None, doc
    assert got[1]["non_random"] == 1
    assert got[2]["non_random"] == 0


def test_runs_test_one_surviving_observation_gives_null(spark):
    """Values [1, 1, 2]: the lower median is 1, so one observation survives
    the median-equal drop (n1 + n2 = 1) and var is 0/0. The query returns
    z = NULL and non_random = NULL, as its DuckDB oracle does, instead of
    raising DIVIDE_BY_ZERO under ANSI."""
    import os
    import tempfile

    import duckdb

    import __spark_entry__ as e

    d = tempfile.mkdtemp()
    rows = [(4, f"2024-03-{i+1:02d} 00:00:00", v, i) for i, v in enumerate([1.0, 1.0, 2.0])]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    got = [r.asDict() for r in e.queries()["runs_test"](spark, d).collect()]
    assert got == [
        {"doc_id": 4, "n1": 1, "n2": 0, "runs": 1, "z": None, "non_random": None}
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'"
    )
    want = con.execute(e.oracle_sql()["runs_test"]).fetchall()
    assert want == [(4, 1, 0, 1, None, None)]


def test_predict_plan_mask_and_hand_scores(spark):
    """The inference plan's mask path emits -9999 with NULL score; an
    unmasked vector's class equals the hand-computed argmax of the literal
    linear scorer over its micro-quantized nonzero components."""
    import __spark_entry__ as e

    out = {
        r["vec_id"]: r
        for r in e.queries()["predict_plan"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .orderBy("vec_id")
        .limit(15)
        .collect()
    )
    for row in emb:
        vid, vec = row["vec_id"], row["embedding"]
        r = out[vid]
        if vid % 7 == 0:
            assert r["cls"] == -9999 and r["top_score"] is None and r["n_valid"] == 0
            continue
        comp = [int(np.floor(float(x) * 1000000 + 0.5)) for x in vec]
        comp = [x for x in comp if x != 0]
        scores = []
        for c in range(5):
            raw = sum(x * (((c * 7 + i * 3) % 11) - 5) for i, x in enumerate(comp))
            scores.append(raw * (c + 1) + 1000 * c)
        best = max(scores)
        cls = scores.index(best)  # first max = smallest class, the C6 rule
        assert (r["n_valid"], r["cls"], r["top_score"]) == (len(comp), cls, best), vid

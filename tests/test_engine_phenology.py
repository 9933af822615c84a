"""Engine facade + LSP phenology tests."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sits_classification_spark.config import EngineConfig
from sits_classification_spark.datagen import write_sequences
from sits_classification_spark.operators.phenology import lsp_kernel, lsp_metrics
from sits_classification_spark.operators.seriesmap import series_rows
from sits_classification_spark.plans.engine import Engine


def _rows(spark, pdf):
    """Series rows of a long (doc_id, source, grid_day, value) frame."""
    return series_rows(spark.createDataFrame(pdf), ("doc_id", "source"), "grid_day")


@pytest.fixture(scope="module")
def engine(spark, tmpdir_session):
    inp = os.path.join(tmpdir_session, "eng_seq")
    wh = os.path.join(tmpdir_session, "eng_wh")
    write_sequences(spark, inp, 150)
    eng = Engine(spark, wh, EngineConfig())
    eng.build_tiers(inp)
    return eng, inp


def test_engine_tiers_and_long(spark, engine):
    eng, _ = engine
    raw = eng.read_tier("tier_raw")
    assert raw.count() == 150
    long = eng.tier_long("tier_monthly")
    # long form rows == sum of n_tok over monthly tier
    n = eng.read_tier("tier_monthly").agg(F.sum("n_tok")).collect()[0][0]
    assert long.count() == n


def test_engine_verify_tier(spark, engine):
    eng, _ = engine
    for tier in ("tier_raw", "tier_10d"):
        bad = eng.verify_tier(tier).filter(~F.col("ok")).count()
        assert bad == 0


def test_engine_rebuild_noop(spark, engine):
    eng, inp = engine
    n_before = eng.lineage().count()
    eng.rebuild(inp)
    assert eng.lineage().count() == n_before


def test_lsp_kernel_synthetic_season():
    days = np.arange(0, 365, 10, dtype=np.int64)
    vals = 100 + 900 * np.exp(-((days - 180.0) ** 2) / (2 * 40.0**2))
    r = lsp_kernel(days, vals, frac=0.5)
    sos, pos, eos, sv, pv, ev, amp, slen, integ = r
    assert pos == 180
    assert sos < 180 < eos
    # threshold = 100 + 0.5*900 = 550; gaussian crosses at 180 ± ~47d
    assert 120 <= sos <= 150 and 210 <= eos <= 240
    assert amp == pytest.approx(vals.max() - vals.min())
    assert slen == eos - sos
    assert integ > 0


def test_lsp_metrics_spark(spark):
    days = np.arange(0, 365, 10, dtype=np.int64)
    rows = []
    for d in range(5):
        vals = 50 + (d + 1) * 100 * np.exp(-((days - 180.0) ** 2) / (2 * 30.0**2))
        for dy, v in zip(days, vals):
            rows.append((f"doc{d}", "s", int(dy), float(v)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "grid_day", "value"])
    out = lsp_metrics(_rows(spark, pdf)).toPandas()
    assert len(out) == 5
    assert (out["pos_day"] == 180).all()
    assert (out["season_length"] > 0).all()


def test_phenometrics_kernel_exact():
    """Hand-computed series: every extended phenometric has a closed answer.

    values [1,2,5,9,6,3,1] at days 0..60 step 10: thresh=5, sos=20, pos=30,
    eos=40, dem=0, dlm=60; rise slopes .1/.3/.4 -> dri=20 rmr=.4; fall
    slopes -.3/-.3/-.2 -> first-occurrence argmin dfi=30 rmf=.3."""
    from sits_classification_spark.operators.phenology import phenometrics_kernel

    days = np.array([0, 10, 20, 30, 40, 50, 60], dtype=np.int64)
    vals = np.array([1, 2, 5, 9, 6, 3, 1], dtype=np.float64)
    r = phenometrics_kernel(days, vals, frac=0.5)
    (dem, sos, dri, pos, dfi, eos, dlm,
     vbl, vsa, lts, lgs, ist, ibl, ibt, igs,
     rar, raf, rmr, rmf) = r
    assert (dem, sos, dri, pos, dfi, eos, dlm) == (0, 20, 20, 30, 30, 40, 60)
    assert vbl == pytest.approx(1.0) and vsa == pytest.approx(8.0)
    assert (lts, lgs) == (20, 10)
    assert ist == pytest.approx(145.0) and igs == pytest.approx(70.0)
    assert ibl == pytest.approx(20.0) and ibt == pytest.approx(165.0)
    assert rar == pytest.approx(0.4) and raf == pytest.approx(0.3)
    assert rmr == pytest.approx(0.4) and rmf == pytest.approx(0.3)


def test_phenometrics_kernel_degenerate():
    """Monotone series (peak at the edge) yields no season record."""
    from sits_classification_spark.operators.phenology import phenometrics_kernel

    days = np.array([0, 10, 20, 30], dtype=np.int64)
    assert phenometrics_kernel(days, np.array([1.0, 2.0, 3.0, 4.0]), 0.5) is None
    assert phenometrics_kernel(days, np.array([4.0, 3.0, 2.0, 1.0]), 0.5) is None


def test_phenometrics_kernel_rejects_dem_after_sos():
    """A series whose pre-peak minimum lies AFTER the first threshold
    crossing violates the documented dem <= sos ordering and must be
    dropped: [0.6,0.9,0.0,1.0,...] has sos at day 0 but the pre-peak
    minimum at day 20."""
    from sits_classification_spark.operators.phenology import phenometrics_kernel

    days = np.arange(0, 70, 10, dtype=np.int64)
    vals = np.array([0.6, 0.9, 0.0, 1.0, 0.8, 0.5, 0.2])
    assert phenometrics_kernel(days, vals, frac=0.5) is None


def test_lsp_phenometrics_spark(spark):
    """Spark operator agrees with the local kernel per (doc, year)."""
    from sits_classification_spark.operators.phenology import (
        lsp_phenometrics,
        phenometrics_kernel,
    )

    days = np.arange(0, 365, 10, dtype=np.int64)
    series = {}
    rows = []
    for d in range(4):
        vals = 50 + (d + 1) * 100 * np.exp(-((days - 180.0) ** 2) / (2 * 30.0**2))
        series[f"doc{d}"] = vals
        for dy, v in zip(days, vals):
            rows.append((f"doc{d}", "s", int(dy), float(v)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "grid_day", "value"])
    out = lsp_phenometrics(_rows(spark, pdf)).toPandas()
    assert len(out) == 4
    out = out.set_index("doc_id")
    for doc, vals in series.items():
        want = phenometrics_kernel(days, vals, 0.5)
        got = out.loc[doc]
        assert int(got["pos_day"]) == want[3]
        assert (int(got["dem_day"]), int(got["dri_day"])) == (want[0], want[2])
        assert (int(got["dfi_day"]), int(got["dlm_day"])) == (want[4], want[6])
        for i, col in enumerate(("vbl", "vsa"), start=7):
            assert got[col] == pytest.approx(want[i], rel=1e-12)
        for i, col in enumerate(("ist", "ibl", "ibt", "igs"), start=11):
            assert got[col] == pytest.approx(want[i], rel=1e-12)
        for i, col in enumerate(("rar", "raf", "rmr", "rmf"), start=15):
            assert got[col] == pytest.approx(want[i], rel=1e-12)


def test_engine_analysis_facade(spark, engine):
    """The round-2 facade surface: stm/trend/harmonic/noise_screen/phenology
    all run over a materialized tier and return per-series frames."""
    eng, _ = engine
    n_docs = eng.read_tier("tier_10d").count()

    stm = eng.stm("tier_10d")
    assert stm.count() == n_docs and "avg" in stm.columns

    tr = eng.trend("tier_10d", tail="TWO")
    assert tr.count() == n_docs and set(tr.columns) >= {"slope", "t_stat", "significant"}

    fit = eng.harmonic("tier_10d", modes=1)
    assert fit.count() == n_docs and "rmse" in fit.columns
    fc = eng.harmonic("tier_10d", modes=1, horizon=30, step=10)
    assert fc.filter(F.col("is_forecast")).count() > 0

    ns = eng.noise_screen("tier_raw")
    assert ns.filter(F.col("kept").isNull()).count() == 0

    pol = eng.phenology("tier_10d", variant="polar")
    assert pol.count() >= n_docs and "mean_doy" in pol.columns
    lsp = eng.phenology("tier_10d", variant="threshold")
    assert {"sos_day", "pos_day", "eos_day"} <= set(lsp.columns)


def test_noise_screen_takes_above_noise_per_query(spark, engine):
    """above_noise is a query parameter of noise_screen, not a setting:
    noise_screen(t, above_noise=1.5) is the noise filter at 1.5 over the
    tier's series rows, and drops more points than the default 3.0."""
    from sits_classification_spark.operators.harmonic import noise_filter

    eng, _ = engine
    got = eng.noise_screen("tier_raw", above_noise=1.5)
    want = noise_filter(eng._series("tier_raw"), above_noise=1.5, day_col="bucket")
    key = lambda r: (r["doc_id"], r["bucket"])  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)
    dropped = lambda df: df.where(~F.col("kept")).count()  # noqa: E731
    assert dropped(got) > dropped(eng.noise_screen("tier_raw"))


@pytest.mark.parametrize("variant", ["splin", "Threshold", "polar ", ""])
def test_phenology_rejects_unknown_variant_without_spark_work(spark, engine, variant):
    """A typo must not silently fall back to the threshold metrics: an
    unknown variant raises ValueError before the engine starts a job."""
    eng, _ = engine
    sc = spark.sparkContext
    sc.setJobGroup("phenology_bad_variant", "unknown phenology variant")
    try:
        with pytest.raises(ValueError, match="unknown phenology variant"):
            eng.phenology("tier_10d", variant=variant)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("phenology_bad_variant")) == []


def test_engine_apply_retention(spark, tmpdir_session):
    """Retention rewrite: points below the cutoff vanish, empty docs drop,
    compressed columns still round-trip, lineage records the action."""
    inp = os.path.join(tmpdir_session, "ret_seq")
    wh = os.path.join(tmpdir_session, "ret_wh")
    write_sequences(spark, inp, 120)
    eng = Engine(spark, wh, EngineConfig())
    eng.build_tiers(inp)
    before = eng.tier_long("tier_monthly")
    cutoff = 197006
    expect = before.filter(F.col("bucket") >= cutoff).count()
    n_docs_expect = (
        before.filter(F.col("bucket") >= cutoff).select("doc_id").distinct().count()
    )
    out = eng.apply_retention("tier_monthly", cutoff)
    after = eng.tier_long("tier_monthly")
    assert after.count() == expect
    assert after.filter(F.col("bucket") < cutoff).count() == 0
    assert out.count() == n_docs_expect
    assert eng.verify_tier("tier_monthly").filter(~F.col("ok")).count() == 0
    lin = eng.lineage().filter(
        F.col("input_snapshot_id") == f"retention<{cutoff}"
    )
    assert lin.count() > 0


def test_retention_past_last_bucket_leaves_empty_readable_tier(spark, tmpdir_session):
    """A cutoff past every bucket trims every doc: the swapped-in tier holds
    zero rows (a partitioned write of nothing leaves only _SUCCESS), and it
    must still read, verify and fold as empty instead of raising."""
    inp = os.path.join(tmpdir_session, "ret_all_seq")
    wh = os.path.join(tmpdir_session, "ret_all_wh")
    write_sequences(spark, inp, 40)
    eng = Engine(spark, wh, EngineConfig())
    eng.build_tiers(inp)
    columns = eng.read_tier("tier_monthly").columns
    out = eng.apply_retention("tier_monthly", 999999)
    assert out.count() == 0
    tier = eng.read_tier("tier_monthly")
    assert tier.count() == 0 and tier.columns == columns
    assert eng.verify_tier("tier_monthly").count() == 0
    assert eng.fold("tier_monthly", "year").count() == 0


def test_spl_metrics_smooths_noise_before_detection(spark):
    """W12 SPL variant: the spline (4 segments/year) absorbs observation
    noise, so SOS/POS/EOS land near the noise-free truth even when raw
    threshold detection on the same noisy series would jitter. Also checks
    the spline beats raw detection on the noisy peak day."""
    from sits_classification_spark.operators.phenology import (
        lsp_kernel,
        spl_metrics,
    )

    rng = np.random.default_rng(11)
    days = np.arange(0, 365, 5, dtype=np.int64)
    clean = 50 + 100 * np.exp(-((days - 180.0) ** 2) / (2 * 40.0**2))
    noisy = clean + rng.normal(0, 12.0, days.size)
    pdf = pd.DataFrame(
        {
            "doc_id": ["a"] * days.size,
            "source": ["s"] * days.size,
            "grid_day": days,
            "value": noisy,
        }
    )
    out = spl_metrics(_rows(spark, pdf), n_segments=4, amp_threshold=0.5).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    truth = lsp_kernel(days, clean, 0.5)
    # clean-truth marks: sos/pos/eos within 3 grid steps of the spline's
    assert abs(r["pos_day"] - truth[1]) <= 15
    assert abs(r["sos_day"] - truth[0]) <= 15
    assert abs(r["eos_day"] - truth[2]) <= 15
    # amplitude of the smoothed curve is near the clean amplitude, far from
    # the noisy raw range (which overshoots by the noise tails)
    assert abs(r["amplitude"] - (clean.max() - clean.min())) < 25
    raw_amp = noisy.max() - noisy.min()
    assert abs(r["amplitude"] - 100) < abs(raw_amp - 100)


def test_spline_fit_recovers_cubic_exactly(spark):
    """spline_fit: a signal that IS a truncated-power spline (knot at the
    range midpoint) is recovered with rmse 0 and exact coefficients."""
    from sits_classification_spark.operators.phenology import spline_fit

    d = np.arange(0, 33, 3, dtype=np.int64)
    t = (d - d[0]) / (d[-1] - d[0])
    g = np.maximum(t - 0.5, 0.0)
    vals = 2.0 + 3.0 * t - 1.5 * t * t + 0.5 * t**3 + 4.0 * g * g * g
    pdf = pd.DataFrame(
        {"doc_id": ["a"] * d.size, "source": ["s"] * d.size,
         "grid_day": d, "value": vals}
    )
    out = spline_fit(_rows(spark, pdf), n_segments=2).collect()[0]
    np.testing.assert_allclose(
        np.array(out["coef"]), [2.0, 3.0, -1.5, 0.5, 4.0], atol=1e-9
    )
    assert out["rmse"] == pytest.approx(0.0, abs=1e-9)
    assert out["n"] == d.size

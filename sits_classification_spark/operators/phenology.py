"""W12 — land-surface phenology (LSP) metrics per season.

Reference: ``force/skel/TSA.prm:355-481`` — season detection over the
interpolated series with start/mid/end-of-season dates, values, amplitude,
and integrals. The reference offers spline (SPL) and polar (POL) variants;
this engine implements the amplitude-threshold variant (the common
start-of-season definition: the day the series first crosses
min + frac*(max-min) on the way up, symmetric for end-of-season), which is
deterministic and oracle-checkable.

The threshold, full-menu and spline variants are numpy kernels over series
rows (*keys, days, values), run per calendar year by ``per_year`` through
``seriesmap.map_series``: one season record per series-year. The polar
variant is one Catalyst aggregate over long rows.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sits_classification_spark.operators.seriesmap import map_series

LSP_FIELDS = (
    "year int, sos_day int, pos_day int, "
    "eos_day int, sos_value double, pos_value double, eos_value double, "
    "amplitude double, season_length int, integral double"
)


def pol_metrics(
    long: DataFrame,
    day_col: str = "day",
    value_col: str = "value",
    keys: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """W12 POL variant — polar season detection (``TSA.prm:355-481`` offers
    SPL/POL next to the threshold variant in ``lsp_metrics``). The polar
    core: project each observation onto the unit circle at angle
    2*pi*(doy-1)/365 and sum the value-weighted vectors per (doc, year).
    The mean-vector direction is the season's central day-of-year; its
    length relative to total value is the seasonal concentration (0 =
    uniform through the year, 1 = all value on one day) — circular
    statistics, deterministic and oracle-checkable, unlike the spline
    variant. Pure Column expressions, one hash aggregate per (*keys,
    year)."""
    dt = F.date_add(F.to_date(F.lit("1970-01-01")), F.col(day_col).cast("int"))
    doy = F.dayofyear(dt)
    two_pi = 2 * math.pi
    th = F.lit(2.0) * F.lit(math.pi) * (doy - 1) / F.lit(365.0)
    v = F.col(value_col)
    g = long.select(
        *keys,
        F.year(dt).alias("year"),
        (v * F.cos(th)).alias("vx"),
        (v * F.sin(th)).alias("vy"),
        v.alias("v"),
    )
    agg = g.groupBy(*keys, "year").agg(
        F.sum("vx").alias("rx"),
        F.sum("vy").alias("ry"),
        F.sum("v").alias("sv"),
        F.count("v").alias("n"),
    )
    at = F.atan2(F.col("ry"), F.col("rx"))
    theta = F.when(at < 0, at + F.lit(two_pi)).otherwise(at)
    mean_doy = theta / F.lit(two_pi) * F.lit(365.0) + F.lit(1.0)
    # try_divide: an all-zero series-year has sv = 0 and no seasonality
    seasonality = F.try_divide(
        F.sqrt(F.col("rx") * F.col("rx") + F.col("ry") * F.col("ry")), F.col("sv")
    )
    return agg.select(
        *keys, "year", "rx", "ry",
        mean_doy.alias("mean_doy"),
        seasonality.alias("seasonality"),
        "n",
    )


def lsp_kernel(days: np.ndarray, values: np.ndarray, frac: float = 0.5):
    """One season's metrics from a (sorted) day/value series, or None if the
    series is flat/degenerate."""
    if days.size < 3:
        return None
    vmin, vmax = float(values.min()), float(values.max())
    if vmax <= vmin:
        return None
    thresh = vmin + frac * (vmax - vmin)
    pos_i = int(np.argmax(values))
    above = values >= thresh
    up = np.flatnonzero(above[: pos_i + 1])
    down = np.flatnonzero(above[pos_i:])
    sos_i = int(up[0]) if up.size else 0
    eos_i = pos_i + int(down[-1]) if down.size else days.size - 1
    seg = slice(sos_i, eos_i + 1)
    integral = float(np.trapz(values[seg], days[seg]))
    return (
        int(days[sos_i]),
        int(days[pos_i]),
        int(days[eos_i]),
        float(values[sos_i]),
        float(values[pos_i]),
        float(values[eos_i]),
        vmax - vmin,
        int(days[eos_i] - days[sos_i]),
        integral,
    )


def per_year(kernel):
    """A series kernel that splits the series at calendar-year boundaries
    (epoch day -> numpy datetime64[Y]), runs `kernel(days, values)` per
    year and yields (year, *result) for every year whose result is not
    None. The three W12 threshold-family variants differ only in
    `kernel`."""

    def run(days: np.ndarray, values: np.ndarray):
        days, values = days.astype(np.int64), values.astype(np.float64)
        years = days.astype("datetime64[D]").astype("datetime64[Y]").astype(int) + 1970
        for yr in np.unique(years):
            m = years == yr
            r = kernel(days[m], values[m])
            if r is not None:
                yield (int(yr), *r)

    return run


def lsp_metrics(rows: DataFrame, frac: float = 0.5) -> DataFrame:
    """Series rows (*keys, days, values) -> one LSP record per (series,
    calendar year)."""
    return map_series(rows, per_year(lambda d, v: lsp_kernel(d, v, frac)), LSP_FIELDS)


# --- W12 full phenometric menu ------------------------------------------------

PHENO_FIELDS = (
    "year int, dem_day int, sos_day int, dri_day int, "
    "pos_day int, dfi_day int, eos_day int, dlm_day int, "
    "vbl double, vsa double, lts int, lgs int, "
    "ist double, ibl double, ibt double, igs double, "
    "rar double, raf double, rmr double, rmf double"
)


def phenometrics_kernel(days: np.ndarray, values: np.ndarray, frac: float = 0.5):
    """The extended FORCE phenometric set for one (doc, year) series
    (``TSA.prm:392-400``): dates of early minimum (DEM), start of season
    (DSS), rising inflection (DRI), peak (DPS), falling inflection (DFI),
    end of season (DES), late minimum (DLM); base level VBL = mean of the
    two minima values, seasonal amplitude VSA = peak - base; lengths
    LTS = DES-DSS, LGS = DFI-DRI; integrals IST (trapezoid over the season),
    IBL (base level x season length), IBT = IST + IBL, IGS (trapezoid over
    the green season); rates RAR/RAF (average rise/fall to/from peak) and
    RMR/RMF (maximum rise / maximum fall segment slope, both positive).

    Conventions (engine-defined, deterministic, shared with the SQL
    oracle): first-occurrence tie-breaks for all arg-extrema; inflection
    dates anchor to the START day of the steepest grid segment; a season is
    emitted only when the full date ordering is consistent:
    dem <= sos < pos < eos <= dlm (which implies dem < pos < dlm, so every
    rate exists and the DRI/DFI search windows [dem,pos) / [pos,dlm)
    contain the threshold crossings). Returns None otherwise."""
    base = lsp_kernel(days, values, frac)
    if base is None:
        return None
    sos_day, pos_day, eos_day, sos_v, pos_v, eos_v, _amp, lts, ist = base
    pos_i = int(np.argmax(values))
    dem_i = int(np.argmin(values[: pos_i + 1]))
    dlm_i = pos_i + int(np.argmin(values[pos_i:]))
    sos_i = int(np.flatnonzero(days == sos_day)[0])
    eos_i = int(np.flatnonzero(days == eos_day)[0])
    if not (dem_i <= sos_i < pos_i < eos_i <= dlm_i):
        return None
    dd = np.diff(days).astype(np.float64)
    slopes = np.diff(values) / dd
    rise = slice(dem_i, pos_i)       # segments starting in [dem, pos)
    fall = slice(pos_i, dlm_i)       # segments starting in [pos, dlm)
    dri_j = dem_i + int(np.argmax(slopes[rise]))
    dfi_j = pos_i + int(np.argmin(slopes[fall]))
    vbl = (float(values[dem_i]) + float(values[dlm_i])) / 2.0
    vsa = float(values[pos_i]) - vbl
    dri_day, dfi_day = int(days[dri_j]), int(days[dfi_j])
    lgs = dfi_day - dri_day
    seg = slice(dri_j, dfi_j + 1)
    igs = float(np.trapz(values[seg], days[seg]))
    ibl = vbl * float(lts)
    ibt = ist + ibl
    rar = (pos_v - sos_v) / float(days[pos_i] - sos_day)
    raf = (pos_v - eos_v) / float(eos_day - days[pos_i])
    rmr = float(slopes[dri_j])
    rmf = -float(slopes[dfi_j])
    return (
        int(days[dem_i]), sos_day, dri_day, int(days[pos_i]), dfi_day,
        eos_day, int(days[dlm_i]),
        vbl, vsa, int(lts), int(lgs),
        ist, ibl, ibt, igs,
        rar, raf, rmr, rmf,
    )


def lsp_phenometrics(rows: DataFrame, frac: float = 0.5) -> DataFrame:
    """W12 full menu: one extended phenometric record per (series, year)
    of the series rows (same input contract as lsp_metrics)."""
    return map_series(
        rows, per_year(lambda d, v: phenometrics_kernel(d, v, frac)), PHENO_FIELDS
    )


# --- W12 SPL (spline) variant -------------------------------------------------

def spline_design(t: np.ndarray, n_segments: int) -> np.ndarray:
    """Truncated-power cubic regression-spline basis on t (normalized to
    [0, 1]): [1, t, t^2, t^3, (t-k_j)_+^3] with interior knots k_j = j/n_seg
    — LSP_N_SEGMENT segments per window (``force/skel/TSA.prm:372-377``).
    n_segments + 3 columns."""
    t = t.astype(np.float64)
    cols = [np.ones_like(t), t, t * t, t * t * t]
    for j in range(1, n_segments):
        k = j / n_segments
        g = np.maximum(t - k, 0.0)
        cols.append(g * g * g)  # explicit multiply: bit-parity with SQL g*g*g
    return np.column_stack(cols)


def spline_fit_kernel(
    t: np.ndarray, v: np.ndarray, n_segments: int
) -> tuple[np.ndarray, float] | None:
    """Least-squares spline coefficients + in-sample RMSE, or None if
    underdetermined."""
    X = spline_design(t, n_segments)
    if t.size < X.shape[1]:
        return None
    coef, *_ = np.linalg.lstsq(X, v.astype(np.float64), rcond=None)
    resid = v - X @ coef
    return coef, float(np.sqrt(np.mean(resid**2)))


def spl_metrics(
    rows: DataFrame,
    n_segments: int = 4,
    amp_threshold: float = 0.2,
) -> DataFrame:
    """W12 SPL variant (``TSA.prm:355-407``, the SPLITS-based LSP): fit a
    cubic regression spline with LSP_N_SEGMENT segments to each (series,
    year) window (t = position within the window, normalized to [0, 1]),
    then run the LSP_AMP_THRESHOLD season detection on the SMOOTHED values
    — the spline is the noise screen SPLITS provides over raw
    observations. Same output schema as the threshold variant
    lsp_metrics."""

    def spl_kernel(d: np.ndarray, v: np.ndarray):
        if d.size < 2 or d[-1] == d[0]:
            return None
        t = (d - d[0]) / (d[-1] - d[0])
        fit = spline_fit_kernel(t, v, n_segments)
        if fit is None:
            return None
        smoothed = spline_design(t, n_segments) @ fit[0]
        return lsp_kernel(d, smoothed, amp_threshold)

    return map_series(rows, per_year(spl_kernel), LSP_FIELDS)


def spline_fit(rows: DataFrame, n_segments: int = 2) -> DataFrame:
    """Spline fit over each WHOLE series row (t normalized by the row's day
    range, NaN values dropped): (*keys, coef, rmse, n) — the fit half of
    the SPL variant, exposed separately so a normal-equations SQL oracle
    can check it (cf. harmonic_fit_m2)."""
    ncoef = n_segments + 3

    def fit(days: np.ndarray, values: np.ndarray):
        ok = ~np.isnan(values)
        d, v = days[ok].astype(np.float64), values[ok]
        if d.size < ncoef or d[-1] == d[0]:
            return
        t = (d - d[0]) / (d[-1] - d[0])
        coef, rmse = spline_fit_kernel(t, v, n_segments)
        yield coef, rmse, v.size

    return map_series(rows, fit, "coef array<double>, rmse double, n int")

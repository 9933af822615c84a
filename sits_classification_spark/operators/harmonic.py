"""W5 — harmonic fit + evaluate; W4 — RBF smoother; F2 — noise filter.

The three genuinely non-relational per-series kernels: numpy math over each
series row (*keys, days, values), run by ``seriesmap.map_series``,
matching:

- harmonic model a0 + sum_k a_k cos(2*pi*k*t/365.25) + b_k sin(...) (+ c*t),
  k <= HARMONIC_MODES in 1..3, fitted by closed-form least squares — the
  model at ``force/skel/dswi_harmonic_tsi.py:35-52,116-147`` (scipy
  curve_fit there; the model is linear-in-params so lstsq is exact and
  deterministic);
- RBF smoother: multi-sigma Gaussian-weighted means combined by per-kernel
  data density, ``force/skel/TSA.prm:229-245``;
- noise filter: per-triplet linear interpolation residuals, iteratively drop
  obs whose residual > ABOVE_NOISE * rmse, ``force/skel/TSA.prm:142-154``.

Engine.harmonic runs ``harmonic_fit`` over the stored tier rows; long
frames go through ``seriesmap.series_rows`` first.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sits_classification_spark.operators.seriesmap import map_series

YEAR_DAYS = 365.25


def harmonic_design(
    t: np.ndarray,
    modes: int,
    trend: bool,
    period: float = YEAR_DAYS,
    t0: float = 0.0,
) -> np.ndarray:
    t = t - t0
    cols = [np.ones_like(t, dtype=np.float64)]
    for k in range(1, modes + 1):
        w = 2.0 * np.pi * k * t / period
        cols.append(np.cos(w))
        cols.append(np.sin(w))
    if trend:
        cols.append(t.astype(np.float64))
    return np.column_stack(cols)


def harmonic_fit_kernel(
    days: np.ndarray,
    values: np.ndarray,
    modes: int,
    trend: bool,
    period: float = YEAR_DAYS,
    t0: float = 0.0,
) -> tuple[np.ndarray, float] | None:
    """(least-squares coefficients, in-sample rmse) of one day-sorted
    series, or None if underdetermined — the per-series step of
    harmonic_fit."""
    X = harmonic_design(days.astype(np.float64), modes, trend, period, t0)
    if days.size < X.shape[1]:
        return None
    values = values.astype(np.float64)
    coef, *_ = np.linalg.lstsq(X, values, rcond=None)
    resid = values - X @ coef
    return coef, float(np.sqrt(np.mean(resid**2)))


def harmonic_fit(
    rows: DataFrame,
    modes: int = 2,
    trend: bool = False,
    period: float = YEAR_DAYS,
    t0: float = 0.0,
    fit_range: tuple[float, float] | None = None,
    bounds: bool = False,
) -> DataFrame:
    """Harmonic coefficients + in-sample RMSE (NRT residual base) per
    series row (*keys, days, values): (*keys, coef, rmse, n), no row for a
    series with fewer valid points than coefficients. NaN values are
    dropped before the fit.

    `period`/`t0` pin the basis phase: the reference fits annual harmonics
    (dswi_harmonic_tsi.py:35-52); short fit windows want a matching period
    or the design goes collinear.

    `fit_range=(lo, hi)` restricts the FIT to observations with
    lo <= day <= hi (the NRT break-detection setup, TSA.prm:246-261: fit a
    stable history window, predict outside it via harmonic_eval and judge
    new observations by their residuals). rmse/n are over the fit window.
    With ``bounds`` each record also carries the row's first and last day
    as `lo`, `hi` (NaN values included), the window harmonic_eval
    extends."""
    fields = "coef array<double>, rmse double, n int"
    if bounds:
        dayt = rows.schema["days"].dataType.elementType.simpleString()
        fields += f", lo {dayt}, hi {dayt}"

    def fit(days: np.ndarray, values: np.ndarray):
        ok = ~np.isnan(values)
        if fit_range is not None:
            ok &= (days >= fit_range[0]) & (days <= fit_range[1])
        d = days[ok]
        res = harmonic_fit_kernel(d, values[ok], modes, trend, period, t0)
        if res is not None:
            rec = (res[0], res[1], d.size)
            yield rec + (days[0].item(), days[-1].item()) if bounds else rec

    return map_series(rows, fit, fields)


def harmonic_eval_sql(
    modes: int,
    period: float,
    t0: float,
    day_col: str = "day",
    coef: tuple[str, ...] = ("a0", "a1", "b1"),
    trend: bool = False,
) -> str:
    """Textual SQL for evaluating a fitted harmonic at `day_col` — shared
    verbatim between the Spark expression and a SQL oracle so both engines
    execute the identical op order. With trend=True the last name in `coef`
    is the linear slope on (day - t0), matching harmonic_design's column
    order."""
    terms = [coef[0]]
    for k in range(1, modes + 1):
        arg = f"{2 * k}*pi()*({day_col}-{t0})/{period}"
        terms.append(f"{coef[2 * k - 1]}*cos({arg})")
        terms.append(f"{coef[2 * k]}*sin({arg})")
    if trend:
        terms.append(f"{coef[2 * modes + 1]}*({day_col}-{t0})")
    return " + ".join(terms)


def harmonic_eval_expr(
    modes: int,
    period: float,
    t0: float,
    day_col: str = "day",
    coef: tuple[str, ...] = ("a0", "a1", "b1"),
    trend: bool = False,
):
    """W5 second half: evaluate the fitted harmonic curve on arbitrary days
    — the TSI/NRT output stage (``force/skel/dswi_harmonic_tsi.py:116-147``
    evaluates the fitted model on the full date grid; residual/forecast
    output per ``TSA.prm:255-261``). Returns a Column; apply to a frame
    carrying the named coefficient columns and the day column."""
    return F.expr(harmonic_eval_sql(modes, period, t0, day_col, coef, trend))


def harmonic_eval(
    fit_df: DataFrame,
    modes: int,
    period: float = YEAR_DAYS,
    t0: float = 0.0,
    day_col: str = "day",
    horizon: int = 0,
    step: int = 1,
    trend: bool = False,
    keys: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Evaluate per-doc fitted harmonics (output of ``harmonic_fit``, array
    `coef`) on an equidistant grid from the doc's own `lo`..`hi + horizon`
    day range. fit_df needs columns (*keys, coef, lo, hi). Rows past `hi`
    are flagged ``is_forecast`` (the NRT extrapolation region). `trend`
    must match the fit: the trailing coef entry is the linear slope.
    Pass keys=("doc_id", "source") when a doc_id can repeat across sources
    so each source's curve keeps its own bounds. A `step` below 1 or a
    negative `horizon` raises ValueError before any Spark work."""
    if step < 1 or horizon < 0:
        raise ValueError(f"harmonic_eval needs step >= 1 and horizon >= 0, got {step}, {horizon}")
    names = ["a0"]
    sel = [F.col("coef")[0].alias("a0")]
    for k in range(1, modes + 1):
        for nm, i in ((f"a{k}", 2 * k - 1), (f"b{k}", 2 * k)):
            names.append(nm)
            sel.append(F.col("coef")[i].alias(nm))
    if trend:
        names.append("slope")
        sel.append(F.col("coef")[2 * modes + 1].alias("slope"))
    g = fit_df.select(
        *keys, *sel, "hi",
        F.explode(
            F.sequence("lo", F.col("hi") + horizon, F.lit(step))
        ).alias(day_col),
    )
    fitted = harmonic_eval_expr(modes, period, t0, day_col, tuple(names), trend)
    return g.select(
        *keys, day_col,
        fitted.alias("fitted"),
        (F.col(day_col) > F.col("hi")).alias("is_forecast"),
    )


def rbf_smooth(
    rows: DataFrame,
    sigmas: tuple[int, ...] = (8, 16, 32),
    cutoff: float = 0.95,
) -> DataFrame:
    """W4: multi-sigma Gaussian-kernel smoother, kernels truncated at
    `cutoff` cumulative area, combined weighted by per-kernel data density
    (TSA.prm:229-245). Evaluated at the observation days of each series
    row: (*keys, day, value, smoothed)."""
    dayt = rows.schema["days"].dataType.elementType.simpleString()

    def smooth(days: np.ndarray, v: np.ndarray):
        d = days.astype(np.float64)
        ok = ~np.isnan(v)
        est = np.zeros(d.size)
        wsum = np.zeros(d.size)
        for sigma in sigmas:
            # truncate kernel where the Gaussian area reaches `cutoff`
            max_r = sigma * np.sqrt(2) * _erfinv(cutoff)
            dist = np.abs(d[:, None] - d[None, ok])
            w = np.exp(-0.5 * (dist / sigma) ** 2)
            w[dist > max_r] = 0.0
            density = w.sum(axis=1)
            num = w @ v[ok]
            with np.errstate(invalid="ignore"):
                k_est = num / density
            k_w = density  # data-density weight per TSA.prm:243-245
            good = density > 0
            est[good] += k_est[good] * k_w[good]
            wsum[good] += k_w[good]
        with np.errstate(invalid="ignore"):
            sm = np.where(wsum > 0, est / wsum, np.nan)
        return zip(days.tolist(), v.tolist(), sm.tolist())

    return map_series(rows, smooth, f"day {dayt}, value double, smoothed double")


def rbf_radii(
    sigmas: tuple[int, ...] = (8, 16, 32), cutoff: float = 0.95
) -> dict[int, float]:
    """Kernel truncation radius per sigma: sigma*sqrt(2)*erfinv(cutoff)."""
    import math

    return {s: s * math.sqrt(2) * _erfinv(cutoff) for s in sigmas}


def rbf_smooth_expr(
    long: DataFrame,
    sigmas: tuple[int, ...] = (8, 16, 32),
    cutoff: float = 0.95,
    day_col: str = "day",
    value_col: str = "value",
    key: str = "doc_id",
) -> DataFrame:
    """W4 as a pure Catalyst plan: per-doc self-join bounded by the largest
    truncation radius, Gaussian weights as conditional sums.

    Exploits that the density-weighted combination collapses algebraically:
    sum_s(k_est_s * density_s) == sum_s(num_s), so the smoother is
    (Σ_s num_s)/(Σ_s den_s) — one equi-join + one hash aggregate, all
    JVM-side. `rbf_smooth`, the numpy kernel over series rows, is its test
    reference."""
    radii = rbf_radii(sigmas, cutoff)
    rmax = max(radii.values())
    a, b = long.alias("a"), long.alias("b")
    ad, bd = F.col(f"a.{day_col}"), F.col(f"b.{day_col}")
    bv = F.col(f"b.{value_col}").cast("double")
    # the numpy kernel masks non-finite values out before computing density;
    # gate the weight the same way or a null/NaN obs poisons both sums
    ok = bv.isNotNull() & ~F.isnan(bv)
    nums, dens = [], []
    for s, r in radii.items():
        w = F.when(
            (F.abs(bd - ad) <= r) & ok,
            F.exp(-0.5 * ((bd - ad) / float(s)) * ((bd - ad) / float(s))),
        )
        nums.append(F.sum(w * F.col(f"b.{value_col}")))
        dens.append(F.sum(w))
    num = nums[0]
    for x in nums[1:]:
        num = num + x
    den = dens[0]
    for x in dens[1:]:
        den = den + x
    joined = a.join(b, (F.col(f"a.{key}") == F.col(f"b.{key}")) & (F.abs(bd - ad) <= rmax))
    return (
        joined.groupBy(F.col(f"a.{key}").alias(key), ad.alias(day_col))
        .agg((num / den).alias("smoothed"))
    )


def _erfinv(p: float) -> float:
    """Inverse error function (Winitzki approximation — plenty for a kernel
    truncation radius)."""
    a = 0.147
    ln = np.log(1 - p * p)
    t1 = 2 / (np.pi * a) + ln / 2
    return float(np.sign(p) * np.sqrt(np.sqrt(t1 * t1 - ln / a) - t1))


def below_noise_restore(
    long: DataFrame,
    below_noise: float = 1.0,
    mask_col: str = "masked",
    day_col: str = "day",
    value_col: str = "value",
    key: str = "doc_id",
) -> DataFrame:
    """F2 second half (``TSA.prm:148-154``): QAI-masked observations whose
    residual against the line between their bracketing UNMASKED neighbors is
    below ``below_noise * rmse`` are restored (the mask was probably a false
    positive — the obs fits the clean series).

    ``below_noise`` is the reference's BELOW_NOISE, passed per call (no
    ``EngineConfig`` field holds it). Pure Column expressions — one
    shuffle (the per-doc window partition), no Python in the hot path:

    - bracketing unmasked neighbors via ``last/first(... ignorenulls)`` over
      rows-preceding/following frames that EXCLUDE the current row (so an
      unmasked obs is bracketed by its peers, not itself);
    - rmse over the unmasked residuals of the same pass;
    - adds ``resid``, ``restored`` and ``kept`` (= unmasked or restored).
    """
    from pyspark.sql import Window as W

    masked = F.col(mask_col)
    day, val = F.col(day_col), F.col(value_col)
    order = W.partitionBy(key).orderBy(day_col)
    w_prev = order.rowsBetween(W.unboundedPreceding, -1)
    w_next = order.rowsBetween(1, W.unboundedFollowing)
    uv = F.when(~masked, val)
    ud = F.when(~masked, day)
    pv = F.last(uv, ignorenulls=True).over(w_prev)
    pd_ = F.last(ud, ignorenulls=True).over(w_prev)
    nv = F.first(uv, ignorenulls=True).over(w_next)
    nd = F.first(ud, ignorenulls=True).over(w_next)
    interp = pv + (nv - pv) * ((day - pd_) / (nd - pd_))
    resid = F.abs(val - interp)
    out = long.withColumn("resid", resid)
    rmse = F.sqrt(
        F.avg(F.when(~masked, F.col("resid") * F.col("resid"))).over(
            W.partitionBy(key)
        )
    )
    # coalesce: a doc without any unmasked interior residual has no noise
    # estimate (rmse NULL) — nothing justifies restoring, so False, not NULL
    restored = F.coalesce(
        masked & F.col("resid").isNotNull() & (F.col("resid") < below_noise * rmse),
        F.lit(False),
    )
    return out.withColumn("restored", restored).withColumn(
        "kept", ~masked | F.col("restored")
    )


def noise_filter(
    rows: DataFrame,
    above_noise: float = 3.0,
    max_iter: int = 10,
    day_col: str = "day",
    value_col: str = "value",
) -> DataFrame:
    """F2: iteratively drop observations whose deviation from the line
    between their neighbors exceeds above_noise * rmse of all deviations
    (TSA.prm:142-154). One record per observation of each series row:
    (*keys, day_col, value_col, kept)."""
    dayt = rows.schema["days"].dataType.elementType.simpleString()

    def screen(days: np.ndarray, v: np.ndarray):
        d = days.astype(np.float64)
        keep = ~np.isnan(v)
        for _ in range(max_iter):
            idx = np.flatnonzero(keep)
            if idx.size < 3:
                break
            dd, vv = d[idx], v[idx]
            interp = vv[:-2] + (vv[2:] - vv[:-2]) * (
                (dd[1:-1] - dd[:-2]) / (dd[2:] - dd[:-2])
            )
            resid = np.abs(vv[1:-1] - interp)
            rmse = np.sqrt(np.mean(resid**2))
            if rmse == 0:
                break
            bad = resid > above_noise * rmse
            if not bad.any():
                break
            # drop the single worst offender per pass (stable fixpoint)
            worst = idx[1:-1][np.argmax(resid * bad)]
            keep[worst] = False
        return zip(days.tolist(), v.tolist(), keep.tolist())

    return map_series(
        rows, screen, f"{day_col} {dayt}, {value_col} double, kept boolean"
    )

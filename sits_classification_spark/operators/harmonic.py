"""W5 — harmonic fit + evaluate; W4 — RBF smoother; F2 — noise filter.

The three genuinely non-relational per-series kernels — grouped pandas/Arrow
UDFs with numpy math (no per-row Python), matching:

- harmonic model a0 + sum_k a_k cos(2*pi*k*t/365.25) + b_k sin(...) (+ c*t),
  k <= HARMONIC_MODES in 1..3, fitted by closed-form least squares — the
  model at ``force/skel/dswi_harmonic_tsi.py:35-52,116-147`` (scipy
  curve_fit there; the model is linear-in-params so lstsq is exact and
  deterministic);
- RBF smoother: multi-sigma Gaussian-weighted means combined by per-kernel
  data density, ``force/skel/TSA.prm:229-245``;
- noise filter: per-triplet linear interpolation residuals, iteratively drop
  obs whose residual > ABOVE_NOISE * rmse, ``force/skel/TSA.prm:142-154``.

The harmonic fit has two entry points around one per-series step
(``harmonic_fit_kernel``): ``harmonic_fit`` for long rows (one pandas
group per series) and ``harmonic_fit_rows`` for nested tier rows (one
``mapInArrow`` pass over the list buffers, Engine.harmonic).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sits_classification_spark.operators.seriesmap import map_doc_groups

YEAR_DAYS = 365.25


def _coltype(df: DataFrame, name: str) -> str:
    """simpleString type of a column — keeps pandas-UDF output schemas in
    sync with whatever id/day types the caller's table uses."""
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}[name]


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
    series, or None if underdetermined — the per-series step of both
    harmonic_fit and harmonic_fit_rows."""
    X = harmonic_design(days.astype(np.float64), modes, trend, period, t0)
    if days.size < X.shape[1]:
        return None
    values = values.astype(np.float64)
    coef, *_ = np.linalg.lstsq(X, values, rcond=None)
    resid = values - X @ coef
    return coef, float(np.sqrt(np.mean(resid**2)))


def harmonic_fit_rows(
    rows: DataFrame,
    modes: int = 2,
    trend: bool = False,
    period: float = YEAR_DAYS,
    t0: float = 0.0,
    bounds: bool = False,
) -> DataFrame:
    """harmonic_fit over nested series rows (doc_id, source, days, values),
    one row per series with `days` ascending — the tier row format. One
    ``mapInArrow`` pass reads the flat list buffers and fits each series
    in turn: no repartition, no sort, no pandas. Same output as
    harmonic_fit on the exploded rows (NaN values dropped); with
    ``bounds`` also the row's first and last day as `lo`, `hi`, the fit
    window harmonic_eval extends."""
    dayt = rows.schema["days"].dataType.elementType.simpleString()
    schema = "doc_id string, source string, coef array<double>, rmse double, n int"
    names = ["doc_id", "source", "coef", "rmse", "n"]
    if bounds:
        schema += f", lo {dayt}, hi {dayt}"
        names += ["lo", "hi"]
    ncoef = 1 + 2 * modes + int(trend)

    def run(batches):
        for batch in batches:
            (doff, days), (voff, vals) = (
                (c.offsets.to_numpy(), c.values.to_numpy(zero_copy_only=False))
                for c in (batch.column("days"), batch.column("values"))
            )
            keep, coefs, rmse, n = [], [], [], []
            for i in range(len(batch)):
                v = vals[voff[i]:voff[i + 1]]
                ok = ~np.isnan(v)
                d = days[doff[i]:doff[i + 1]][ok]
                res = harmonic_fit_kernel(d, v[ok], modes, trend, period, t0)
                if res is not None:
                    keep.append(i)
                    coefs.append(res[0])
                    rmse.append(res[1])
                    n.append(d.size)
            idx = pa.array(keep, type=pa.int64())
            arrays = [
                batch.column("doc_id").take(idx),
                batch.column("source").take(idx),
                pa.ListArray.from_arrays(
                    pa.array(np.arange(len(keep) + 1, dtype=np.int32) * ncoef),
                    pa.array(np.concatenate(coefs) if coefs else [], type=pa.float64()),
                ),
                pa.array(rmse, type=pa.float64()),
                pa.array(n, type=pa.int32()),
            ]
            if bounds:  # the row's first and last day, NaN values included
                arrays += [pa.array(days[doff[:-1][keep]]), pa.array(days[doff[1:][keep] - 1])]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return rows.mapInArrow(run, schema=schema)


def harmonic_fit(
    long: DataFrame,
    modes: int = 2,
    trend: bool = False,
    day_col: str = "day",
    value_col: str = "value",
    period: float = YEAR_DAYS,
    t0: float = 0.0,
    fit_range: tuple[float, float] | None = None,
) -> DataFrame:
    """Per-doc harmonic coefficients + in-sample RMSE (NRT residual base).

    `period`/`t0` pin the basis phase: the reference fits annual harmonics
    (dswi_harmonic_tsi.py:35-52); short fit windows want a matching period
    or the design goes collinear.

    `fit_range=(lo, hi)` restricts the FIT to observations with
    lo <= day <= hi (the NRT break-detection setup, TSA.prm:246-261: fit a
    stable history window, predict outside it via harmonic_eval and judge
    new observations by their residuals). rmse/n are over the fit window."""
    idt = _coltype(long, "doc_id")
    schema = (
        f"doc_id {idt}, source string, coef array<double>, rmse double, n int"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.dropna(subset=[value_col]).sort_values(day_col)
        if fit_range is not None:
            lo, hi = fit_range
            pdf = pdf[(pdf[day_col] >= lo) & (pdf[day_col] <= hi)]
            if not len(pdf):
                return pd.DataFrame(
                    columns=["doc_id", "source", "coef", "rmse", "n"]
                )
        d = pdf[day_col].to_numpy(dtype=np.float64)
        v = pdf[value_col].to_numpy(dtype=np.float64)
        res = harmonic_fit_kernel(d, v, modes, trend, period, t0)
        if res is None:
            return pd.DataFrame(
                columns=["doc_id", "source", "coef", "rmse", "n"]
            )
        return pd.DataFrame(
            {
                "doc_id": [pdf["doc_id"].iloc[0]],
                "source": [pdf["source"].iloc[0]],
                "coef": [res[0]],
                "rmse": [res[1]],
                "n": [int(v.size)],
            }
        )

    # composite key: a doc_id appearing under two sources is two series
    return map_doc_groups(
        long, fit, schema, key=("doc_id", "source"), order_cols=(day_col,)
    )


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
    so each source's curve keeps its own bounds."""
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
    long: DataFrame,
    sigmas: tuple[int, ...] = (8, 16, 32),
    cutoff: float = 0.95,
    day_col: str = "day",
    value_col: str = "value",
) -> DataFrame:
    """W4: multi-sigma Gaussian-kernel smoother, kernels truncated at
    `cutoff` cumulative area, combined weighted by per-kernel data density
    (TSA.prm:229-245). Evaluated at the observation days."""
    idt, dayt = _coltype(long, "doc_id"), _coltype(long, day_col)
    schema = f"doc_id {idt}, source string, {day_col} {dayt}, value double, smoothed double"

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(day_col).reset_index(drop=True)
        d = pdf[day_col].to_numpy(dtype=np.float64)
        v = pdf[value_col].to_numpy(dtype=np.float64)
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
        out = pdf[["doc_id", "source", day_col]].copy()
        out["value"] = v
        out["smoothed"] = sm
        return out

    return map_doc_groups(
        long, smooth, schema, key=("doc_id", "source"), order_cols=(day_col,)
    )


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
    JVM-side (the grouped-pandas kernel `rbf_smooth` pays one Python group
    call per doc, ~10× slower on many small series)."""
    radii = rbf_radii(sigmas, cutoff)
    rmax = max(radii.values())
    a, b = long.alias("a"), long.alias("b")
    ad, bd = F.col(f"a.{day_col}"), F.col(f"b.{day_col}")
    bv = F.col(f"b.{value_col}").cast("double")
    # the pandas kernel masks non-finite values out before computing density;
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

    Consumes ``EngineConfig.below_noise``. Pure Column expressions — one
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
    long: DataFrame,
    above_noise: float = 3.0,
    max_iter: int = 10,
    day_col: str = "day",
    value_col: str = "value",
) -> DataFrame:
    """F2: iteratively drop observations whose deviation from the line
    between their neighbors exceeds above_noise * rmse of all deviations
    (TSA.prm:142-154). Adds boolean `kept`."""
    idt, dayt = _coltype(long, "doc_id"), _coltype(long, day_col)
    schema = f"doc_id {idt}, source string, {day_col} {dayt}, {value_col} double, kept boolean"

    def screen(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(day_col).reset_index(drop=True)
        d = pdf[day_col].to_numpy(dtype=np.float64)
        v = pdf[value_col].to_numpy(dtype=np.float64)
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
        out = pdf[["doc_id", "source"]].copy()
        out[day_col] = pdf[day_col]
        out[value_col] = v
        out["kept"] = keep
        return out

    return map_doc_groups(
        long, screen, schema, key=("doc_id", "source"), order_cols=(day_col,)
    )

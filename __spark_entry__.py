"""Driver contract for the spark-graft builder (PySpark target).

Queries exercise the sits_classification_spark engine over the driver's
testdata tables:

- time-series tier/rollup semantics (SURVEY.md §2.4/§2.5) run on `events`
  as the long-form series source (doc = user_id, day = epoch-days of ts);
- training-data pipeline ops (dedup, text analysis, fingerprints, minhash)
  run on `documents`;
- similarity search runs on `embeddings`;
- relational operators (J3-style joins, A1 STM aggs) run on the TPC-H-ish
  tables.

Every oracle-checked query mirrors its DuckDB SQL **exactly** (same hash
construction through md5, same arithmetic expression order, shared rounding)
so value-hash comparison is deterministic — including the engine-native
queries: the fused mapInPandas cascade is oracled through its quantized
fold outputs, and the Gorilla round-trip through its closed-form expected
row set (ok=true per generated doc), so the registry carries ZERO
rows-only entries.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sits_classification_spark.operators.dedup import (
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from sits_classification_spark.operators.similarity import ann_lsh_topk, cosine_topk
from sits_classification_spark.operators.text import (
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)

SF_DEFAULT = "/root/testdata/sf0.001"

_T = lambda sf, name: f"{sf}/{name}.parquet"  # noqa: E731


def _read(spark: SparkSession, sf: str, name: str) -> DataFrame:
    return spark.read.parquet(_T(sf, name))


# ---------------------------------------------------------------------------
# shared series derivation: events -> deduped long-form (doc_id, day, value)
# (decode W6 + dedup-first-per-day W7/J6, pytorch/predict.py:400-413)
# ---------------------------------------------------------------------------

def _series(spark: SparkSession, sf: str) -> DataFrame:
    ev = _read(spark, sf, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    ev = ev.select("user_id", day.alias("day"), "value", "ts", "event_id")
    # repartition on the PREFIX of the dedup key: hashpartitioning(user_id)
    # satisfies the window's (user_id, day) clustering AND every downstream
    # per-doc window/groupBy — the whole series query family runs on ONE
    # exchange instead of two (measured 0.51 -> 0.42s at sf0.1; at real
    # scale it halves shuffle volume for every consumer)
    ev = ev.repartition("user_id")
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("user_id").alias("doc_id"), F.col("day").cast("long").alias("day"), "value")
    )


_SERIES_SQL = """
    SELECT doc_id, day, value FROM (
        SELECT user_id AS doc_id,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               value,
               row_number() OVER (
                   PARTITION BY user_id, datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   ORDER BY ts, event_id) AS rn
        FROM events) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# time-series queries
# ---------------------------------------------------------------------------

def q_tier_raw_dedup(spark, sf):
    """W7/J6 dedup keep-first per (doc, day)."""
    return _series(spark, sf)


def q_tier_10d_interp(spark, sf):
    """W1+W2: linear gap-fill + 10-day equidistant resample (TSA.prm:262-264),
    the cascade's tier_10d kernel over each series row
    (seriesmap.resample_rows), one grid point per output row."""
    from sits_classification_spark.operators.seriesmap import resample_rows, series_rows

    out = resample_rows(series_rows(_series(spark, sf)), 10)
    return out.select("doc_id", F.inline(F.arrays_zip("days", "values"))).select(
        "doc_id", F.col("days").alias("grid_day"), F.round("values", 6).alias("value"),
    )


def q_locf_3d(spark, sf):
    """W1 LOCF onto a 3-day grid (last-observation-carried-forward tier)."""
    s = _series(spark, sf)
    bounds = s.groupBy("doc_id").agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    grid = bounds.select(
        "doc_id",
        F.explode(F.sequence("lo", "hi", F.lit(3))).alias("day"),
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("is_grid"),
    )
    obs = s.select("doc_id", "day", "value", F.lit(0).alias("is_grid"))
    both = obs.unionByName(grid)
    wb = (
        Window.partitionBy("doc_id")
        .orderBy("day", "is_grid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        both.withColumn("locf", F.last("value", ignorenulls=True).over(wb))
        .filter(F.col("is_grid") == 1)
        .select("doc_id", F.col("day").cast("long").alias("grid_day"), F.col("locf").alias("value"))
    )


def q_fold_monthly(spark, sf):
    """A2 FBM: monthly AVG fold (TSA.prm:314-334)."""
    s = _series(spark, sf)
    dt = F.date_add(F.to_date(F.lit("1970-01-01")), F.col("day").cast("int"))
    return (
        s.withColumn("bucket", (F.year(dt) * 100 + F.month(dt)).cast("long"))
        .groupBy("doc_id", "bucket")
        .agg(F.round(F.avg("value"), 6).alias("value"), F.count("value").alias("n_obs"))
    )


def q_fold_seasonal(spark, sf):
    """A2 FBQ from FBM: quarterly fold of the (unrounded) monthly tier."""
    s = _series(spark, sf)
    dt = F.date_add(F.to_date(F.lit("1970-01-01")), F.col("day").cast("int"))
    monthly = (
        s.withColumn("bucket", (F.year(dt) * 100 + F.month(dt)).cast("long"))
        .groupBy("doc_id", "bucket")
        .agg(F.avg("value").alias("mv"))
    )
    yr = F.floor(F.col("bucket") / 100)
    q = (yr * 10 + F.floor((F.col("bucket") % 100 - 1) / 3) + 1).cast("long")
    return (
        monthly.withColumn("qbucket", q)
        .groupBy("doc_id", F.col("qbucket").alias("bucket"))
        .agg(F.round(F.avg("mv"), 6).alias("value"), F.count("mv").alias("n_obs"))
    )


def q_nocb_3d(spark, sf):
    """W1 NOCB onto a 3-day grid (next-observation-carried-backward — the
    backfill half of limit_direction='both', utils/class_run.py:193-194)."""
    s = _series(spark, sf)
    bounds = s.groupBy("doc_id").agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    grid = bounds.select(
        "doc_id",
        F.explode(F.sequence("lo", "hi", F.lit(3))).alias("day"),
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("is_grid"),
    )
    obs = s.select("doc_id", "day", "value", F.lit(0).alias("is_grid"))
    both = obs.unionByName(grid)
    # grid rows sort BEFORE same-day observations (is_grid DESC) so a grid
    # point coincident with an obs backfills the coincident value, matching
    # pandas limit_direction='both' — not the NEXT observation
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("day", F.desc("is_grid"))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    return (
        both.withColumn("nocb", F.first("value", ignorenulls=True).over(wf))
        .filter(F.col("is_grid") == 1)
        .select("doc_id", F.col("day").cast("long").alias("grid_day"), F.col("nocb").alias("value"))
    )


def q_fold_weekly(spark, sf):
    """A2 FBW: weekly AVG fold (bucket = epoch_day // 7)."""
    from sits_classification_spark.operators.folds import fold_by_period

    s = _series(spark, sf)
    out = fold_by_period(s, "week", "AVG", day_col="day", keys=("doc_id",))
    return out.select(
        "doc_id", F.col("bucket").cast("long").alias("bucket"),
        F.round("value", 6).alias("value"), F.col("n_obs").cast("long").alias("n_obs"),
    )


def q_fold_monthly_q50(spark, sf):
    """A2 with a non-AVG FOLD_TYPE: monthly median (Q50) fold."""
    from sits_classification_spark.operators.folds import fold_by_period

    s = _series(spark, sf)
    out = fold_by_period(s, "month", "Q50", day_col="day", keys=("doc_id",))
    return out.select(
        "doc_id", F.col("bucket").cast("long").alias("bucket"),
        F.round("value", 6).alias("value"), F.col("n_obs").cast("long").alias("n_obs"),
    )


def q_stm_user(spark, sf):
    """A1 STM: MIN/Q25/Q50/Q75/MAX/AVG/STD/RNG/IQR/SKW/KRT/NUM per series
    (TSA.prm:300-312); population moments like the reference's numpy."""
    s = _series(spark, sf)
    v = F.col("value")
    mean = F.avg(v)
    m2 = F.avg(v * v) - mean * mean
    m3 = F.avg(v * v * v) - 3 * mean * F.avg(v * v) + 2 * mean * mean * mean
    m4 = (
        F.avg(v * v * v * v)
        - 4 * mean * F.avg(v * v * v)
        + 6 * mean * mean * F.avg(v * v)
        - 3 * F.pow(mean, F.lit(4))
    )
    return s.groupBy("doc_id").agg(
        F.round(F.min(v), 6).alias("vmin"),
        F.round(F.percentile(v, F.lit(0.25)), 6).alias("q25"),
        F.round(F.percentile(v, F.lit(0.50)), 6).alias("q50"),
        F.round(F.percentile(v, F.lit(0.75)), 6).alias("q75"),
        F.round(F.max(v), 6).alias("vmax"),
        F.round(F.avg(v), 6).alias("avg"),
        F.round(F.sqrt(m2), 6).alias("std"),
        F.round(F.max(v) - F.min(v), 6).alias("rng"),
        F.round(
            F.percentile(v, F.lit(0.75)) - F.percentile(v, F.lit(0.25)), 6
        ).alias("iqr"),
        F.round(m3 / F.pow(m2, F.lit(1.5)), 6).alias("skw"),
        F.round(m4 / (m2 * m2) - 3, 6).alias("krt"),
        F.count(v).alias("num"),
    )


_TREND_SLOPE = "((avg(day*value) - avg(day)*avg(value)) / (avg(day*day) - avg(day)*avg(day)))"


def q_trend_user(spark, sf):
    """A3 trend: per-series OLS slope/intercept/r2 (TSA.prm:335-343).

    Explicit moment formulas, textually identical to the SQL oracle —
    regr_intercept's internal algorithm differs between engines by more
    than rounding can absorb."""
    s = _series(spark, sf)
    return s.groupBy("doc_id").agg(
        F.expr(f"round({_TREND_SLOPE}, 7)").alias("slope"),
        F.expr(f"round(avg(value) - {_TREND_SLOPE}*avg(day), 3)").alias("intercept"),
        F.expr(
            "round(pow(avg(day*value) - avg(day)*avg(value), 2)"
            " / ((avg(day*day) - avg(day)*avg(day)) * (avg(value*value) - avg(value)*avg(value))), 8)"
        ).alias("r2"),
        F.count("value").alias("n"),
    )


def q_trend_sig(spark, sf):
    """A3 significance decision (TSA.prm:483-497): per-series OLS slope,
    t-statistic, CONF=0.95 two-tailed critical value from the published t
    table, and the pass/fail verdict."""
    from sits_classification_spark.operators.seriesmap import series_rows
    from sits_classification_spark.operators.stm import trend

    out = trend(series_rows(_series(spark, sf)), tail="TWO")
    return out.select(
        "doc_id",
        F.round("slope", 7).alias("slope"),
        F.round("t_stat", 5).alias("t_stat"),
        F.round("t_crit", 4).alias("t_crit"),
        "significant",
        "n",
    )


def q_pol_phenology(spark, sf):
    """W12 POL variant: value-weighted circular mean of the day-of-year per
    (doc, year) — seasonal timing (mean_doy) + concentration."""
    from sits_classification_spark.operators.phenology import pol_metrics
    from sits_classification_spark.operators.seriesmap import series_rows

    out = pol_metrics(series_rows(_series(spark, sf)))
    return out.select(
        "doc_id", F.col("year").cast("long").alias("year"),
        F.round("rx", 4).alias("rx"),
        F.round("ry", 4).alias("ry"),
        F.round("mean_doy", 4).alias("mean_doy"),
        F.round("seasonality", 6).alias("seasonality"),
        "n",
    )


def q_argmax_class(spark, sf):
    """C6 argmax over class scores (pytorch/predict.py:527-528): index of
    the max embedding component as a synthetic predicted class."""
    from sits_classification_spark.functions.scalar import argmax

    e = _read(spark, sf, "embeddings")
    return e.select(
        "vec_id",
        argmax(F.col("embedding")).cast("long").alias("pred"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_score"),
    )


def q_moving_avg_10d(spark, sf):
    """W3 moving-average smoother: ±10-day range window (TSA.prm:225-228)."""
    s = _series(spark, sf)
    w = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("day").cast("long"))
        .rangeBetween(-10, 10)
    )
    return s.select(
        "doc_id",
        "day",
        F.round(F.avg("value").over(w), 6).alias("smoothed"),
        F.count("value").over(w).alias("n_win"),
    )


def q_asof_purchase(spark, sf):
    """J2 as-of lookup: latest purchase value at-or-before each event
    (thermal-time as-of semantics, utils/class_run.py:39-61)."""
    ev = _read(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id",
        F.col("user_id").alias("doc_id"),
        "event_type",
        F.last(pv, ignorenulls=True).over(w).alias("asof_value"),
    )


_HARM_CTE = """
    sums AS (
        SELECT doc_id,
               count(*) AS n,
               sum(c) AS sc, sum(s) AS ss,
               sum(c*c) AS scc, sum(s*s) AS sss, sum(c*s) AS scs,
               sum(value) AS sy, sum(c*value) AS scy, sum(s*value) AS ssy
        FROM (SELECT doc_id, value,
                     cos(2*pi()*(day-19700)/30.0) AS c,
                     sin(2*pi()*(day-19700)/30.0) AS s
              FROM series) GROUP BY doc_id)
"""

_HARM_DET = "(n*(scc*sss-scs*scs) - sc*(sc*sss-scs*ss) + ss*(sc*scs-scc*ss))"

# shared fitted-curve text (harmonic_eval_sql(1, 30.0, 19700.0)) — imported
# lazily to keep module import light
def _harm_eval1() -> str:
    from sits_classification_spark.operators.harmonic import harmonic_eval_sql

    return harmonic_eval_sql(1, 30.0, 19700.0)
_HARM_A0 = "(sy*(scc*sss-scs*scs) - sc*(scy*sss-scs*ssy) + ss*(scy*scs-scc*ssy))"
_HARM_A1 = "(n*(scy*sss-scs*ssy) - sy*(sc*sss-scs*ss) + ss*(sc*ssy-scy*ss))"
_HARM_B1 = "(n*(scc*ssy-scy*scs) - sc*(sc*ssy-scy*ss) + sy*(sc*scs-scc*ss))"


def q_harmonic_user(spark, sf):
    """W5 harmonic fit (1 mode, 30-day period over the event window):
    closed-form least squares a0 + a1*cos + b1*sin per series
    (model of force/skel/dswi_harmonic_tsi.py:35-52). The Spark side uses
    the same textual arithmetic as the SQL oracle for bit-equal op order."""
    s = _series(spark, sf)
    s = s.withColumn("c", F.expr("cos(2*pi()*(day-19700)/30.0)")).withColumn(
        "s", F.expr("sin(2*pi()*(day-19700)/30.0)")
    )
    sums = s.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sc"),
        F.sum("s").alias("ss"),
        F.sum(F.expr("c*c")).alias("scc"),
        F.sum(F.expr("s*s")).alias("sss"),
        F.sum(F.expr("c*s")).alias("scs"),
        F.sum("value").alias("sy"),
        F.sum(F.expr("c*value")).alias("scy"),
        F.sum(F.expr("s*value")).alias("ssy"),
    )
    return sums.select(
        "doc_id",
        F.expr(f"round({_HARM_A0} / {_HARM_DET}, 5)").alias("a0"),
        F.expr(f"round({_HARM_A1} / {_HARM_DET}, 5)").alias("a1"),
        F.expr(f"round({_HARM_B1} / {_HARM_DET}, 5)").alias("b1"),
        F.col("n"),
    )




def q_harmonic_forecast(spark, sf):
    """W5 second half — evaluate/forecast: fit the 1-mode harmonic exactly
    as harmonic_user, then evaluate the fitted curve on a 10-day grid
    extended 30 days past the last observation (the TSI/NRT output stage,
    dswi_harmonic_tsi.py:116-147; residual/forecast per TSA.prm:255-261).
    Rows past the last obs are flagged is_forecast."""
    from sits_classification_spark.operators.harmonic import harmonic_eval_expr

    s = _series(spark, sf)
    s = s.withColumn("c", F.expr("cos(2*pi()*(day-19700)/30.0)")).withColumn(
        "s", F.expr("sin(2*pi()*(day-19700)/30.0)")
    )
    sums = s.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sc"),
        F.sum("s").alias("ss"),
        F.sum(F.expr("c*c")).alias("scc"),
        F.sum(F.expr("s*s")).alias("sss"),
        F.sum(F.expr("c*s")).alias("scs"),
        F.sum("value").alias("sy"),
        F.sum(F.expr("c*value")).alias("scy"),
        F.sum(F.expr("s*value")).alias("ssy"),
        F.min("day").alias("lo"),
        F.max("day").alias("hi"),
    )
    coefs = sums.select(
        "doc_id",
        F.expr(f"{_HARM_A0} / {_HARM_DET}").alias("a0"),
        F.expr(f"{_HARM_A1} / {_HARM_DET}").alias("a1"),
        F.expr(f"{_HARM_B1} / {_HARM_DET}").alias("b1"),
        "lo", "hi",
    )
    grid = coefs.select(
        "doc_id", "a0", "a1", "b1", "hi",
        F.explode(F.sequence("lo", F.col("hi") + F.lit(30), F.lit(10))).alias("day"),
    )
    fitted = harmonic_eval_expr(1, 30.0, 19700.0)
    return grid.select(
        "doc_id",
        F.col("day").cast("long").alias("day"),
        F.round(fitted, 4).alias("fitted"),
        (F.col("day") > F.col("hi")).alias("is_forecast"),
    )


_NRT_CUTOFF = 19740  # fit window = days <= cutoff (~60% of the event range)


def q_harmonic_nrt(spark, sf):
    """W5 fit sub-range (the NRT break-detection setup, TSA.prm:246-261):
    fit the 1-mode harmonic on the HISTORY window (day <= cutoff) only,
    evaluate the fitted curve at every observed day — in and out of the fit
    window — and emit residuals; out-of-window rows are the monitoring
    region (is_forecast). Engine twin: harmonic_fit(fit_range=(lo, hi)) +
    harmonic_eval; here in closed form for textual oracle parity."""
    from sits_classification_spark.operators.harmonic import harmonic_eval_expr

    s = _series(spark, sf)
    s = s.withColumn("c", F.expr("cos(2*pi()*(day-19700)/30.0)")).withColumn(
        "s", F.expr("sin(2*pi()*(day-19700)/30.0)")
    )
    sums = s.filter(F.col("day") <= _NRT_CUTOFF).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sc"),
        F.sum("s").alias("ss"),
        F.sum(F.expr("c*c")).alias("scc"),
        F.sum(F.expr("s*s")).alias("sss"),
        F.sum(F.expr("c*s")).alias("scs"),
        F.sum("value").alias("sy"),
        F.sum(F.expr("c*value")).alias("scy"),
        F.sum(F.expr("s*value")).alias("ssy"),
    )
    coefs = sums.select(
        "doc_id",
        F.expr(f"{_HARM_A0} / {_HARM_DET}").alias("a0"),
        F.expr(f"{_HARM_A1} / {_HARM_DET}").alias("a1"),
        F.expr(f"{_HARM_B1} / {_HARM_DET}").alias("b1"),
        F.col("n").alias("n_fit"),
    )
    fitted = harmonic_eval_expr(1, 30.0, 19700.0)
    return s.join(F.broadcast(coefs), "doc_id").select(
        "doc_id",
        F.col("day").cast("long").alias("day"),
        F.round(fitted, 4).alias("fitted"),
        F.round(F.col("value") - fitted, 4).alias("resid"),
        (F.col("day") > _NRT_CUTOFF).alias("is_forecast"),
        F.col("n_fit").cast("long").alias("n_fit"),
    )


def q_nrt_break(spark, sf):
    """NRT break detection — the reference's near-real-time monitoring loop
    closed end-to-end (TSA.prm:246-261 fit window + the break decision):
    1-mode harmonic fitted on the history window only, residuals over the
    monitoring window standardized by the FIT-window residual RMS, then the
    two-sided CUSUM decision (k=0.5, h=5) via the engine's cusum_scores.
    Residuals are rounded at 4 and sigma at 6 on BOTH engines, so every
    prefix sum — and therefore the break day/side — is bit-deterministic
    cross-engine."""
    from sits_classification_spark.operators.seriesmap import series_rows
    from sits_classification_spark.operators.stm import cusum_scores

    r = q_harmonic_nrt(spark, sf)
    # sigma as a WINDOW over the doc partition, not a join: a sig-subquery
    # join re-evaluates the whole harmonic subtree (events scanned 3x —
    # measured 2.8s vs 1.9s at sf0.1); the window rides the one doc_id
    # exchange, and sigma is carried through cusum_scores by keying on
    # (doc_id, sigma) — constant per doc, so the groups are unchanged
    sigma = F.round(
        F.sqrt(
            F.avg(
                F.when(~F.col("is_forecast"), F.col("resid") * F.col("resid"))
            ).over(Window.partitionBy("doc_id"))
        ),
        6,
    )
    mon = (
        r.select("doc_id", "day", "resid", "is_forecast", sigma.alias("sigma"))
        .filter(F.col("is_forecast"))
        .select(
            "doc_id",
            "day",
            "sigma",
            F.when(F.col("sigma") <= 0, F.lit(0.0))
            .otherwise(F.col("resid") / F.col("sigma"))
            .alias("_z"),
        )
    )
    out = cusum_scores(
        series_rows(mon, ("doc_id", "sigma"), "day", "_z"), k=0.5, h=5.0
    )
    return out.select(
        "doc_id", "sigma", "n", "s_pos_max", "s_neg_max",
        "break_day", "break_side",
    )


def q_stratified_points(spark, sf):
    """The reference's sampling stage (utils/sampling_run.py:26-118) over a
    synthetic pixel lattice derived bijectively from event ids: grid
    decimation (skip=2 — the distance//pixel_size thinning) then
    value-range stratified sampling with per-range proportions of a
    200-point budget; md5-rank replaces random.sample (the engine-wide
    deterministic substitute)."""
    from sits_classification_spark.operators.lookup import (
        stratified_point_sample,
    )

    ev = _read(spark, sf, "events")
    pts = ev.select(
        F.pmod(F.col("event_id"), F.lit(1000)).cast("long").alias("px"),
        F.expr("event_id DIV 1000").cast("long").alias("py"),
        "value",
    )
    return stratified_point_sample(
        pts,
        [(0.0, 30.0, 0.4), (30.0, 80.0, 0.4), (80.0, 100000.0, 0.2)],
        total_points=200,
        skip=2,
    )


def q_qai_screen(spark, sf):
    """F1 QAI bitmask screening (TSA.prm:135-141): synthetic quality flags
    derived from event_id; drop rows whose bits intersect
    {CLOUD_OPAQUE, CLOUD_SHADOW, SNOW} (mask 0b110010 = 50)."""
    from sits_classification_spark.operators.screens import qai_screen

    ev = _read(spark, sf, "events")
    flags = F.pmod(F.col("event_id"), F.lit(256))
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    return (
        qai_screen(ev.withColumn("qai", flags), "qai", ("CLOUD_OPAQUE", "CLOUD_SHADOW", "SNOW"))
        .select(
            "event_id",
            F.col("user_id").alias("doc_id"),
            day.cast("long").alias("day"),
            "qai",
            "value",
        )
    )


def q_doy_window(spark, sf):
    """F4 DOY-range filter with wrap-around (TSA.prm:162-169): keep DOY in
    [350, 15] across the year boundary."""
    ev = _read(spark, sf, "events")
    doy = F.dayofyear(F.to_date("ts"))
    return (
        ev.withColumn("doy", doy.cast("long"))
        .filter((F.col("doy") >= 350) | (F.col("doy") <= 15))
        .select("event_id", F.col("user_id").alias("doc_id"), "doy")
    )


def q_cat_change(spark, sf):
    """A4 CAT analysis (TSA.prm:344-353): greatest day-over-day change +
    trend slopes before/after the change point, per series."""
    from sits_classification_spark.operators.cat import cat_analysis

    s = _series(spark, sf)
    out = cat_analysis(s, bucket_col="day", value_col="value", keys=("doc_id",))
    return out.select(
        "doc_id",
        F.round("change", 6).alias("change"),
        "change_bucket",
        F.round("slope_full", 8).alias("slope_full"),
        F.round("slope_before", 8).alias("slope_before"),
        F.round("slope_after", 8).alias("slope_after"),
        "n",
    )


def q_standardize_user(spark, sf):
    """W11 standardize: per-series NORMALIZE (v-mean)/std_pop (TSA.prm:184-186)."""
    from sits_classification_spark.operators.stm import standardize

    s = _series(spark, sf)
    out = standardize(s, mode="NORMALIZE")
    return out.select("doc_id", "day", F.round("standardized", 6).alias("standardized"))


def q_rbf_smooth_user(spark, sf):
    """W4 RBF smoother: multi-sigma (8/16/32) Gaussian-weighted means,
    truncated at 95% kernel area, combined by data density (TSA.prm:229-245).
    Catalyst self-join form (rbf_smooth_expr); the numpy series kernel
    rbf_smooth computes the same values (tested to 1e-9). No persist: it
    leaked an InMemoryRelation into every later query in the session, and
    measured at sf0.1 the unpersisted plan is now the faster one."""
    from sits_classification_spark.operators.harmonic import rbf_smooth_expr

    s = _series(spark, sf)
    out = rbf_smooth_expr(s, sigmas=(8, 16, 32), cutoff=0.95)
    return out.select(
        "doc_id", F.col("day").cast("long").alias("day"),
        F.round("smoothed", 5).alias("smoothed"),
    )


def q_noise_residuals(spark, sf):
    """F2 (single-pass form): residual of each interior obs vs the line
    between its neighbors; kept = resid <= 3*rmse (TSA.prm:142-154)."""
    s = _series(spark, sf)
    w = Window.partitionBy("doc_id").orderBy("day")
    pv, nv = F.lag("value").over(w), F.lead("value").over(w)
    pd_, nd = F.lag("day").over(w), F.lead("day").over(w)
    interp = pv + (nv - pv) * ((F.col("day") - pd_) / (nd - pd_))
    s = s.withColumn("resid", F.abs(F.col("value") - interp))
    rmse = F.sqrt(F.avg(F.col("resid") * F.col("resid")).over(Window.partitionBy("doc_id")))
    return s.select(
        "doc_id", "day",
        F.round("resid", 6).alias("resid"),
        (F.col("resid").isNull() | (F.col("resid") <= 3 * rmse)).alias("kept"),
    )


def q_noise_filter_iter(spark, sf):
    """F2 (full iterative form): fixpoint screen over each series row
    (map_series) — drops the worst outlier per pass until resid <= k*rmse
    (no ANSI-SQL equivalent)."""
    from sits_classification_spark.operators.harmonic import noise_filter
    from sits_classification_spark.operators.seriesmap import series_rows

    out = noise_filter(series_rows(_series(spark, sf)), above_noise=2.0)
    return out.select("doc_id", F.col("day").cast("long").alias("day"), "kept")


def q_noise_restore(spark, sf):
    """F2 BELOW_NOISE restore (TSA.prm:148-154): QAI-masked obs (synthetic
    flags from event_id, as in qai_screen) whose residual against the line
    between bracketing unmasked neighbors is < 1.0*rmse are restored."""
    from sits_classification_spark.operators.harmonic import below_noise_restore

    ev = _read(spark, sf, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    ev = ev.select("user_id", day.alias("day"), "value", "ts", "event_id")
    # prefix repartition: one exchange for dedup window + per-doc windows
    # (same trick as _series; this variant carries the mask column through)
    ev = ev.repartition("user_id")
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    s = (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("user_id").alias("doc_id"),
            F.col("day").cast("long").alias("day"),
            "value",
            (F.pmod(F.col("event_id"), F.lit(256)).bitwiseAND(F.lit(50)) != 0).alias("masked"),
        )
    )
    out = below_noise_restore(s, below_noise=1.0)
    return out.select(
        "doc_id", "day", "masked",
        F.round("resid", 6).alias("resid"), "restored", "kept",
    )


def q_class_weights(spark, sf):
    """A5 class histogram + inverse-frequency weights (trainer.py:95-123)."""
    from sits_classification_spark.operators.metrics import class_histogram

    e = _read(spark, sf, "embeddings")
    out = class_histogram(e, label_col="label")
    return out.select(
        F.col("label").cast("long").alias("label"), "n",
        F.round("weight", 6).alias("weight"),
    )


def _with_pred(df):
    """Deterministic synthetic classifier output: every 5th vector predicts
    the next class — gives a fixed confusion structure for A6 parity."""
    pred = F.when(
        F.col("vec_id") % 5 == 0, (F.col("label") + 1) % 10
    ).otherwise(F.col("label"))
    return df.select(
        F.col("label").cast("long").alias("truth"), pred.cast("long").alias("pred")
    )


_PRED_SQL = """
    SELECT CAST(label AS BIGINT) AS truth,
           CAST(CASE WHEN vec_id % 5 = 0 THEN (label + 1) % 10 ELSE label END AS BIGINT) AS pred
    FROM embeddings
"""


def q_confusion_report(spark, sf):
    """A6 per-class precision/recall/F1 (classmetric.py:20-54)."""
    from sits_classification_spark.operators.metrics import classification_report

    out = classification_report(_with_pred(_read(spark, sf, "embeddings")))
    return out.select(
        "cls", "support",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


def q_overall_acc_kappa(spark, sf):
    """A6 overall accuracy + Cohen's kappa (classmetric.py:30-44)."""
    from sits_classification_spark.operators.metrics import overall_metrics

    out = overall_metrics(_with_pred(_read(spark, sf, "embeddings")))
    return out.select(
        "n", F.round("oa", 6).alias("oa"), F.round("kappa", 6).alias("kappa")
    )


def q_rmse_r2_persistence(spark, sf):
    """A7 RMSE/R² of the persistence forecast (pred = previous value per
    user), classmetric.py:100-118 formulas."""
    from sits_classification_spark.operators.metrics import regression_metrics

    ev = _read(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.col("value").alias("truth"), F.lag("value").over(w).alias("pred")
    ).filter(F.col("pred").isNotNull())
    out = regression_metrics(t, "truth", "pred")
    return out.select(F.round("rmse", 6).alias("rmse"), F.round("r2", 6).alias("r2"))


def q_asof_tolerance_7d(spark, sf):
    """J2 general as-of join (cogrouped pd.merge_asof): latest purchase
    within 7 days at-or-before each event, per user."""
    from sits_classification_spark.operators.asof import asof_join_cogroup

    ev = _read(spark, sf, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    left = ev.select("event_id", "user_id", day.alias("day"), "value")
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", day.alias("day"), "value", "event_id")
        .groupBy("user_id", "day")
        .agg(F.max_by("value", "event_id").alias("pval"))
    )
    out = asof_join_cogroup(left, right, key="user_id", time_col="day",
                            value_col="pval", tolerance=7, buckets=32)
    return out.select("event_id", "user_id", F.col("day").cast("long").alias("day"),
                      "value", "asof_value")


def q_end_padding(spark, sf):
    """W8 end-padding compaction + W9 fixed-length pad: non-pad tokens moved
    stably to the front, padded to 32 (pytorch/predict.py:173-215)."""
    from sits_classification_spark.operators.windows import (
        compact_nonzero,
        pad_to_length,
    )
    from sits_classification_spark.operators.text import words

    d = _read(spark, sf, "documents")
    toks = F.transform(words("text"), lambda w: F.length(w) % 4)
    window = pad_to_length(compact_nonzero(toks), 32)
    return d.select(
        "doc_id",
        F.concat_ws(",", F.transform(window, lambda x: x.cast("string"))).alias("window_str"),
        F.size(F.filter(toks, lambda x: x != F.lit(0))).cast("long").alias("n_nonzero"),
    )


def q_screen_pipeline(spark, sf):
    """F3+F11+F12 composed: date-range -> value-clamp -> type-route screens."""
    from sits_classification_spark.operators.screens import (
        date_range_filter,
        source_route,
        value_clamp,
    )

    ev = _read(spark, sf, "events")
    out = source_route(
        value_clamp(
            date_range_filter(ev, "ts", "2024-01-10", "2024-01-20"),
            "value", 300.0,
        ),
        "event_type", ("view", "click"),
    )
    return out.select("event_id", F.col("user_id").alias("doc_id"), "event_type", "value")


def q_lsp_phenology(spark, sf):
    """W12 LSP phenology: start/peak/end-of-season metrics per (doc, year)
    over the 10-day tier (TSA.prm:355-481) — numpy kernel per series row
    (map_series)."""
    from sits_classification_spark.operators.phenology import lsp_metrics
    from sits_classification_spark.operators.seriesmap import resample_rows, series_rows

    s = resample_rows(series_rows(_series(spark, sf)), 10)
    out = lsp_metrics(s, frac=0.5)
    longs = [
        F.col(c).cast("long").alias(c)
        for c in ("year", "sos_day", "pos_day", "eos_day", "season_length")
    ]
    return out.select(
        "doc_id", *longs,
        F.round("amplitude", 6).alias("amplitude"),
        F.round("integral", 4).alias("integral"),
    )


def q_lsp_phenometrics(spark, sf):
    """W12 full phenometric menu (TSA.prm:392-400): DEM/DSS/DRI/DPS/DFI/
    DES/DLM dates, base level + seasonal amplitude, total + green season
    lengths, four integrals, average + maximum rise/fall rates — per
    (doc, year) over the 3-day tier (the events window spans ~1 month, so
    the 10-day grid leaves too few points for an interior peak + both
    inflections). First-occurrence tie-breaks and segment-start inflection
    anchoring shared with the SQL oracle."""
    from sits_classification_spark.operators.phenology import lsp_phenometrics
    from sits_classification_spark.operators.seriesmap import resample_rows, series_rows

    s = resample_rows(series_rows(_series(spark, sf)), 3)
    out = lsp_phenometrics(s, frac=0.5)
    days = [
        F.col(c).cast("long").alias(c)
        for c in ("dem_day", "sos_day", "dri_day", "pos_day", "dfi_day",
                  "eos_day", "dlm_day", "lts", "lgs")
    ]
    return out.select(
        "doc_id", F.col("year").cast("long").alias("year"), *days,
        F.round("vbl", 6).alias("vbl"), F.round("vsa", 6).alias("vsa"),
        # integrals as floor(x*4000 + 0.5) scaled ints, not round(): the
        # 2-decimal event values put every trapezoid on an exact 0.00025
        # lattice (verified at sf0.01/sf0.1), so any decimal round() sits
        # ON a boundary where Spark (BigDecimal HALF_UP) and DuckDB
        # (scaled-double) can flip opposite ways; at scale 4000 the scaled
        # value is an integer, a full 0.5 away from the floor boundary
        F.floor(F.col("ist") * 4000 + 0.5).cast("long").alias("ist"),
        F.floor(F.col("ibl") * 4000 + 0.5).cast("long").alias("ibl"),
        F.floor(F.col("ibt") * 4000 + 0.5).cast("long").alias("ibt"),
        F.floor(F.col("igs") * 4000 + 0.5).cast("long").alias("igs"),
        F.round("rar", 6).alias("rar"), F.round("raf", 6).alias("raf"),
        F.round("rmr", 6).alias("rmr"), F.round("rmf", 6).alias("rmf"),
    )


def q_spl_phenology(spark, sf):
    """W12 SPL variant, fit half (TSA.prm:355-407): cubic regression-spline
    coefficients (truncated-power basis, LSP_N_SEGMENT=2, t normalized to
    the doc's grid range) over the 3-day interp tier, numpy lstsq per series
    row (map_series). Oracle: the generic unrolled normal-equations solve.
    The season detection on the smoothed curve (spl_metrics) shares
    lsp_kernel with the oracle-green threshold variant and is pinned by
    pytest."""
    from sits_classification_spark.operators.phenology import spline_fit
    from sits_classification_spark.operators.seriesmap import resample_rows, series_rows

    s = resample_rows(series_rows(_series(spark, sf)), 3)
    out = spline_fit(s, n_segments=2)
    # round 3, not 4: the truncated-power basis yields O(1e3) coefficients,
    # so lstsq-vs-normal-equations noise (~1e-8 relative = ~1e-5 absolute)
    # straddles a 1e-4 rounding boundary about once per 10k values at sf0.1.
    sel = [F.round(F.col("coef")[i], 3).alias(f"c{i}") for i in range(5)]
    return out.select(
        "doc_id", *sel,
        F.round("rmse", 5).alias("rmse"),
        F.col("n").cast("long").alias("n"),
    )


def q_harmonic_fit_m2(spark, sf):
    """W5 general harmonic fit (2 modes, 30-day period matching the event
    window, numpy lstsq per series row — dswi_harmonic_tsi.py:35-52). Coefficients
    are flattened to scalar columns c0..c4 (the driver comparator cannot hash
    array cells), plus in-sample RMSE. Oracle: closed-form normal-equations
    solve (unrolled Gaussian elimination generated by _harm2_oracle_sql)."""
    from sits_classification_spark.operators.harmonic import harmonic_fit
    from sits_classification_spark.operators.seriesmap import series_rows

    out = harmonic_fit(
        series_rows(_series(spark, sf)), modes=2, trend=False, period=30.0, t0=19700.0
    )
    sel = [F.round(F.col("coef")[i], 4).alias(f"c{i}") for i in range(5)]
    return out.select(
        "doc_id", *sel,
        F.round("rmse", 5).alias("rmse"),
        F.col("n").cast("long").alias("n"),
    )


def q_positional_encoding(spark, sf):
    """W14 sin/cos positional encodings of DOY at channels 0..3, d_model=8
    (pytorch/models/transformer/Models.py:32-54), pads untouched."""
    from sits_classification_spark.functions.scalar import positional_encoding

    ev = _read(spark, sf, "events")
    doy = F.dayofyear(F.to_date("ts"))
    cols = [
        F.round(positional_encoding(doy, i, d_model=8), 6).alias(f"pe{i}")
        for i in range(4)
    ]
    return ev.select("event_id", doy.cast("long").alias("doy"), *cols)


def q_mosaic_last_wins(spark, sf):
    """S9 mosaic: union two overlapping event slices, later part wins on key
    collisions (pytorch/predict.py:218-253 overwrite order)."""
    from sits_classification_spark.operators.screens import mosaic

    ev = _read(spark, sf, "events")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    base = ev.select("event_id", day.alias("day"), "value", F.lit("t0").alias("part"))
    patch = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", day.alias("day"), (F.col("value") * 2).alias("value"),
                F.lit("t1").alias("part"))
    )
    out = mosaic([base, patch], dedup_keys=["event_id"])
    return out.select("event_id", F.col("day").cast("long").alias("day"),
                      F.round("value", 4).alias("value"), "part")


def q_spectral_index(spark, sf):
    """C1 spectral-index arithmetic: the DSWI ratio shape
    (b1+b2)/(b3+b4) (udf_block.py:52) over lineitem numeric columns, with
    the F11 |v|<5 clamp (dswi_harmonic_tsi.py:123-124) and C2 scale/round."""
    from sits_classification_spark.functions.scalar import dswi
    from sits_classification_spark.operators.screens import value_clamp

    li = _read(spark, sf, "lineitem")
    idx = dswi(
        F.col("l_extendedprice") / 1000, F.col("l_tax"),
        F.col("l_quantity"), F.col("l_discount"),
    )
    out = value_clamp(li.select("l_orderkey", "l_linenumber", idx.alias("idx")), "idx", 5.0)
    # explicit floor(x*1e4 + 0.5) instead of round(): the 2-decimal money
    # inputs make many idx values land EXACTLY on decimal boundaries, where
    # Spark's BigDecimal HALF_UP and DuckDB's scaled-double round() disagree
    # by construction; this expression is the same IEEE ops in both engines
    return out.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.floor(F.col("idx") * 10000 + F.lit(0.5)).cast("long").alias("idx_e4"),
        # same boundary hazard as idx_e4: the int16 scale-and-round (C2)
        # is compared through the shared floor text; values are identical
        # for the positive idx domain
        F.floor(F.col("idx") * 1000 + F.lit(0.5)).cast("long").alias("idx_i16"),
    )


def q_index_menu(spark, sf):
    """C1 full index menu: the reference's spelled-out formulas
    (NBR/ARI/CRI/RENDVI1/RENDVI2/MSI/NDWI/VMI/CCCI,
    dswi_harmonic_tsi.py:92-114) over synthetic bands derived from lineitem
    numeric columns. Each index quantized with the shared floor(x*1e4+0.5)
    text (cross-engine round() disagrees on boundary-exact doubles). Rows
    where the CCCI denominator NDVI ~ 0 are filtered with an identical-text
    predicate both sides."""
    from sits_classification_spark.functions import scalar as X

    li = _read(spark, sf, "lineitem")
    blue = F.col("l_quantity").cast("double")
    green = F.col("l_discount") + 0.05
    red = F.col("l_tax") + 0.03
    re1 = F.col("l_quantity") / 25.0
    re2 = F.col("l_quantity") / 50.0 + 0.02
    bnir = F.col("l_extendedprice") / 100000.0
    swir1 = F.col("l_quantity") / 100.0
    swir2 = F.col("l_discount") + 0.01

    def q4(c):
        return F.floor(c * 10000 + F.lit(0.5)).cast("long")

    return li.filter(F.abs(bnir - red) > 0.001).select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        q4(X.nbr(bnir, swir2)).alias("nbr_e4"),
        q4(X.ari(bnir, green, re1)).alias("ari_e4"),
        q4(X.cri(blue, green)).alias("cri_e4"),
        q4(X.rendvi1(re1, red)).alias("rendvi1_e4"),
        q4(X.rendvi2(re2, red)).alias("rendvi2_e4"),
        q4(X.msi(swir1, bnir)).alias("msi_e4"),
        q4(X.ndwi(bnir, swir1)).alias("ndwi_e4"),
        q4(X.vmi(bnir, swir2)).alias("vmi_e4"),
        q4(X.ccci(bnir, re1, red)).alias("ccci_e4"),
    )


def q_index_menu_full(spark, sf):
    """C1 closure: the TSA INDEX menu names (TSA.prm:179-183) whose
    formulas the reference never spells out, implemented from their
    published literature definitions (NDTI, ARVI/SARVI/SAVI, the Huang
    2002 tasseled-cap triplet + Healey 2005 DI, NDBI, MNDWI, NDMI, NDSI,
    kNDVI, the red-edge family, CCI — citations in functions/scalar.py).
    With q_index_menu's reference-spelled nine and q_sma_fractions'
    closed-form unmixing, every menu name is covered (SMA's iterative
    NNLS option alone stays out — no closed form). Bands synthesized
    from lineitem in reflectance-like ranges; e4 quantization; the ARVI
    denominator guard uses identical text on both engines."""
    from sits_classification_spark.functions import scalar as X

    li = _read(spark, sf, "lineitem")
    blue = F.col("l_quantity") / 60.0
    green = F.col("l_discount") + 0.05
    red = F.col("l_tax") + 0.03
    nir = F.col("l_extendedprice") / 120000.0
    bnir = F.col("l_extendedprice") / 150000.0
    re1 = F.col("l_quantity") / 80.0 + 0.02
    re2 = F.col("l_quantity") / 70.0 + 0.03
    re3 = F.col("l_quantity") / 60.0 + 0.04
    swir1 = F.col("l_quantity") / 100.0 + 0.01
    swir2 = F.col("l_discount") + 0.01
    rb = 2.0 * red - blue
    tc = (blue, green, red, nir, swir1, swir2)

    def q4(c):
        return F.floor(c * 10000 + F.lit(0.5)).cast("long")

    return li.filter(
        (F.abs(nir + rb) > 0.05) & (nir + rb + 0.5 > 0.05)
    ).select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        q4(X.ndti(swir1, swir2)).alias("ndti_e4"),
        q4(X.arvi(nir, red, blue)).alias("arvi_e4"),
        q4(X.savi(nir, red)).alias("savi_e4"),
        q4(X.sarvi(nir, red, blue)).alias("sarvi_e4"),
        q4(X.tc_component("bright", *tc)).alias("tcb_e4"),
        q4(X.tc_component("green", *tc)).alias("tcg_e4"),
        q4(X.tc_component("wet", *tc)).alias("tcw_e4"),
        q4(X.tc_di(*tc)).alias("tcdi_e4"),
        q4(X.ndbi(swir1, nir)).alias("ndbi_e4"),
        q4(X.mndwi(green, swir1)).alias("mndwi_e4"),
        q4(X.ndmi(nir, swir1)).alias("ndmi_e4"),
        q4(X.ndsi(green, swir1)).alias("ndsi_e4"),
        q4(X.kndvi(nir, red)).alias("kndvi_e4"),
        q4(X.ndre1(re2, re1)).alias("ndre1_e4"),
        q4(X.ndre2(re3, re1)).alias("ndre2_e4"),
        q4(X.cire(re3, re1)).alias("cire_e4"),
        q4(X.ndvire(nir, re1)).alias("ndvire1_e4"),
        q4(X.ndvire(nir, re2)).alias("ndvire2_e4"),
        q4(X.ndvire(nir, re3)).alias("ndvire3_e4"),
        q4(X.ndvire(bnir, re1)).alias("ndvire1n_e4"),
        q4(X.ndvire(bnir, re2)).alias("ndvire2n_e4"),
        q4(X.ndvire(bnir, re3)).alias("ndvire3n_e4"),
        q4(X.msrre(nir, re1)).alias("msrre_e4"),
        q4(X.msrre(bnir, re1)).alias("msrren_e4"),
        q4(X.cci(green, red)).alias("cci_e4"),
    )


# SMA endmember matrix (B=6 bands × k=3 endmembers: vegetation, soil,
# water — plausible reflectance spectra, fixed literals; the reference
# takes this as a user input file, TSA.prm:194+)
_SMA_E = [
    [0.03, 0.12, 0.08],  # blue
    [0.05, 0.18, 0.06],  # green
    [0.03, 0.25, 0.04],  # red
    [0.55, 0.35, 0.02],  # nir
    [0.25, 0.45, 0.01],  # swir1
    [0.12, 0.40, 0.01],  # swir2
]

_SMA_BANDS = ("blue", "green", "red", "nir", "swir1", "swir2")


def _sma_band_cols():
    return [
        F.col("l_quantity") / 60.0,
        F.col("l_discount") + 0.05,
        F.col("l_tax") + 0.03,
        F.col("l_extendedprice") / 120000.0,
        F.col("l_quantity") / 100.0 + 0.01,
        F.col("l_discount") + 0.01,
    ]


def q_sma_fractions(spark, sf):
    """C1 SMA (the final TSA INDEX menu name): sum-to-one linear spectral
    unmixing of the synthetic 6-band pixels against a 3-endmember matrix
    (vegetation/soil/water). The constrained LS closed form is an affine
    map f = P·x + c precomputed driver-side (functions/scalar.sma_affine),
    so the per-pixel work is literal Column arithmetic — zero exchanges,
    scan-stage only, like the tasseled cap — and the DuckDB oracle spells
    the identical literal sequence. f_sum_e6 == 1e6 is the built-in
    sum-to-one self-check; rmse_e6 is the standard SMA model-quality
    band. SMA_NON_NEG (iterative NNLS) is documented out of the Column
    path (no closed form)."""
    from sits_classification_spark.functions import scalar as X

    li = _read(spark, sf, "lineitem")
    bands = _sma_band_cols()
    P, c = X.sma_affine(_SMA_E, sum_to_one=True)
    fr = X.sma_fractions(bands, P, c)
    rmse = X.sma_rmse(bands, fr, _SMA_E)

    def q6(col):
        return F.floor(col * 1000000 + F.lit(0.5)).cast("long")

    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        q6(fr[0]).alias("f_veg_e6"),
        q6(fr[1]).alias("f_soil_e6"),
        q6(fr[2]).alias("f_water_e6"),
        q6(fr[0] + fr[1] + fr[2]).alias("f_sum_e6"),
        q6(rmse).alias("rmse_e6"),
    )


def _sma_oracle_sql() -> str:
    """Mirror of q_sma_fractions: same affine coefficients (computed by the
    same sma_affine call), same left-to-right literal accumulation text."""
    from sits_classification_spark.functions.scalar import sma_affine

    P, c = sma_affine(_SMA_E, sum_to_one=True)
    fr = []
    for i in range(3):
        e = repr(float(c[i]))
        for w, b in zip(P[i], _SMA_BANDS):
            e = f"({e} + {float(w)!r}*{b})"
        fr.append(e)
    total = "0.0"
    for b_idx, b in enumerate(_SMA_BANDS):
        model = "0.0"
        for i in range(3):
            model = f"({model} + {float(_SMA_E[b_idx][i])!r}*f{i})"
        total = f"({total} + ({b} - {model})*({b} - {model}))"
    rmse = f"sqrt({total} / 6.0)"

    def q6(x):
        return f"CAST(floor(({x})*1000000 + 0.5) AS BIGINT)"

    return f"""
        WITH b AS (
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   l_quantity/60.0 AS blue,
                   l_discount + 0.05 AS green,
                   l_tax + 0.03 AS red,
                   l_extendedprice/120000.0 AS nir,
                   l_quantity/100.0 + 0.01 AS swir1,
                   l_discount + 0.01 AS swir2
            FROM lineitem),
        f AS (SELECT *, {fr[0]} AS f0, {fr[1]} AS f1, {fr[2]} AS f2 FROM b)
        SELECT l_orderkey, l_linenumber,
               {q6('f0')} AS f_veg_e6,
               {q6('f1')} AS f_soil_e6,
               {q6('f2')} AS f_water_e6,
               {q6('(f0 + f1) + f2')} AS f_sum_e6,
               {q6(rmse)} AS rmse_e6
        FROM f
    """


def q_sma_nnls(spark, sf):
    """C1 SMA_NON_NEG (TSA.prm:204, the last SMA option): EXACT
    non-negative unmixing by active-set enumeration
    (scalar.sma_nnls_maps) — with 3 endmembers the 8 candidate active
    sets are precomputed affine maps, and the solve is a CASE over their
    primal/dual feasibility predicates: scan-stage Column arithmetic,
    no iterations, no UDF, and the DuckDB oracle spells the identical
    literal sequence (an iterative Lawson-Hanson loop has a
    data-dependent trip count no unrolled oracle can mirror).
    active_set pins the chosen branch cross-engine; rmse_e6 is the
    standard SMA model-quality band. Every affine value and validity
    flag is staged ONCE as an aliased column (scalar.sma_nnls;
    SPARK-36718 pins non-cheap multiply-referenced aliases), so neither
    the three fraction CASEs, the index CASE, nor the rmse re-expand any
    affine tree — the same three staging layers the oracle spells as
    CTEs."""
    from sits_classification_spark.functions import scalar as X

    li = _read(spark, sf, "lineitem")
    staged = li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        *[b.alias(n) for n, b in zip(_SMA_BANDS, _sma_band_cols())],
    )
    bcols = [F.col(n) for n in _SMA_BANDS]
    withf = X.sma_nnls(staged, bcols, _SMA_E)
    fcols = [F.col("_f0"), F.col("_f1"), F.col("_f2")]
    rmse = X.sma_rmse([F.col(n) for n in _SMA_BANDS], fcols, _SMA_E)

    def q6(col):
        return F.floor(col * 1000000 + F.lit(0.5)).cast("long")

    return withf.select(
        "l_orderkey",
        "l_linenumber",
        q6(F.col("_f0")).alias("f_veg_e6"),
        q6(F.col("_f1")).alias("f_soil_e6"),
        q6(F.col("_f2")).alias("f_water_e6"),
        "active_set",
        q6(rmse).alias("rmse_e6"),
    )


def _sma_nnls_oracle_sql() -> str:
    """Mirror of q_sma_nnls: the same enumerated affine maps (from the
    same sma_nnls_maps call), the same left-to-right literal
    accumulation, the same three staging layers (affine values ->
    validity flags -> CASEs over column refs), the same probe order."""
    from sits_classification_spark.functions.scalar import (
        NNLS_EPS,
        sma_nnls_maps,
    )

    maps = sma_nnls_maps(_SMA_E)
    eps = f"-{NNLS_EPS!r}"

    def aff(row):
        e = "0.0"
        for w, b in zip(row, _SMA_BANDS):
            e = f"({e} + {float(w)!r}*{b})"
        return e

    staged = []
    for s, (S, P, W) in enumerate(maps):
        for i in range(3):
            staged.append(f"{aff(P[i])} AS _p{s}_{i}")
        for j in range(3):
            if j not in S:
                staged.append(f"{aff(W[j])} AS _w{s}_{j}")

    def valid(s, S):
        conds = ["TRUE"]
        for i in S:
            conds.append(f"(_p{s}_{i} >= {eps})")
        for j in range(3):
            if j not in S:
                conds.append(f"(_w{s}_{j} >= {eps})")
        out = conds[0]
        for c in conds[1:]:
            out = f"({out} AND {c})"
        return out

    flags = [
        f"{valid(s, S)} AS _v{s}" for s, (S, _, _) in enumerate(maps)
    ]

    def case_frac(i):
        arms = "".join(
            f" WHEN _v{s} THEN _p{s}_{i}" for s in range(len(maps))
        )
        return f"greatest(0.0, CASE{arms} ELSE _p0_{i} END)"

    sel_arms = "".join(f" WHEN _v{s} THEN {s}" for s in range(len(maps)))
    case_sel = f"CAST(CASE{sel_arms} ELSE -1 END AS BIGINT)"

    total = "0.0"
    for b_idx, b in enumerate(_SMA_BANDS):
        model = "0.0"
        for i in range(3):
            model = f"({model} + {float(_SMA_E[b_idx][i])!r}*_f{i})"
        total = f"({total} + ({b} - {model})*({b} - {model}))"
    rmse = f"sqrt({total} / 6.0)"

    def q6(x):
        return f"CAST(floor(({x})*1000000 + 0.5) AS BIGINT)"

    return f"""
        WITH b AS (
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   l_quantity/60.0 AS blue,
                   l_discount + 0.05 AS green,
                   l_tax + 0.03 AS red,
                   l_extendedprice/120000.0 AS nir,
                   l_quantity/100.0 + 0.01 AS swir1,
                   l_discount + 0.01 AS swir2
            FROM lineitem),
        g AS (SELECT *, {", ".join(staged)} FROM b),
        v AS (SELECT *, {", ".join(flags)} FROM g),
        f AS (SELECT *, {case_frac(0)} AS _f0, {case_frac(1)} AS _f1,
                     {case_frac(2)} AS _f2, {case_sel} AS active_set
              FROM v)
        SELECT l_orderkey, l_linenumber,
               {q6('_f0')} AS f_veg_e6,
               {q6('_f1')} AS f_soil_e6,
               {q6('_f2')} AS f_water_e6,
               active_set,
               {q6(rmse)} AS rmse_e6
        FROM f
    """


def q_augment_zero_out(spark, sf):
    """W13 augmentation: zero-out of ~10% of valid positions
    (augmentation.py:212-249) on the shared fixture sequences — the
    hash-selected Column-expression variant, so every zeroed CELL is
    verified bit-for-bit by the DuckDB oracle. Output flattens the array
    to an order-free per-doc checksum (xor of aug*1000+pos)."""
    from sits_classification_spark.operators.augment import zero_out_hash

    path = _ensure_cascade_fixture()
    seq = spark.read.parquet(path)
    out = zero_out_hash(seq, frac=0.1)
    both = out.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("tokens").alias("_aug"),
    ).join(
        seq.select("doc_id", F.col("tokens").alias("_orig")), "doc_id"
    )
    n_zeroed = F.size(
        F.filter(
            F.zip_with("_orig", "_aug", lambda a, b: a != b), lambda x: x
        )
    )
    checksum = F.aggregate(
        F.transform("_aug", lambda x, i: x.cast("long") * 1000 + i),
        F.lit(0).cast("long"),
        lambda a, b: a.bitwiseXOR(b),
    )
    return both.select(
        "doc_id",
        "n_tok",
        n_zeroed.cast("long").alias("n_zeroed"),
        checksum.alias("checksum"),
    )


# ---------------------------------------------------------------------------
# relational / TPC-H-ish queries
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf):
    """TPC-H Q1 shape: date-filtered groupBy+multi-agg on lineitem
    (F3 date-range filter + A1-style aggregates)."""
    li = _read(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") >= F.lit("1995-01-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_revenue_by_nation(spark, sf):
    """J3-style dimension joins (broadcast): customer⋈orders⋈nation⋈region."""
    c = _read(spark, sf, "customer")
    o = _read(spark, sf, "orders")
    n = _read(spark, sf, "nation")
    r = _read(spark, sf, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_part_supplier_margin(spark, sf):
    """TPC-H Q9 shape: lineitem joined to part/supplier/nation (all dims
    broadcast, fact never shuffles before the aggregate); margin =
    discounted revenue minus retail cost, by supplier nation x part brand."""
    li = _read(spark, sf, "lineitem")
    p = _read(spark, sf, "part")
    s = _read(spark, sf, "supplier")
    n = _read(spark, sf, "nation")
    margin = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "p_brand")
        .agg(
            F.round(F.sum(margin), 4).alias("margin"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_top3_orders_per_customer(spark, sf):
    """Top-K per group via row_number window (common OLAP pattern)."""
    o = _read(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice"), F.col("rn").cast("long").alias("rn"))
    )


# ---------------------------------------------------------------------------
# documents: dedup + text analysis
# ---------------------------------------------------------------------------

def q_doc_exact_dedup(spark, sf):
    d = _read(spark, sf, "documents")
    return d.groupBy(F.md5("text").alias("content_key")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


def q_doc_token_counts(spark, sf):
    d = _read(spark, sf, "documents")
    out = token_count(d)
    return out.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.round("chars_per_token", 6).alias("chars_per_token"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
    )


def q_doc_quality(spark, sf):
    d = _read(spark, sf, "documents")
    out = quality_score(d)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("upper_ratio", 6).alias("upper_ratio"),
    )


def q_doc_lang_id(spark, sf):
    d = _read(spark, sf, "documents")
    out = lang_id(d)
    casts = [F.col(c).cast("long").alias(c) for c in out.columns if c.startswith("hits_")]
    return out.select("doc_id", "lang", "pred_lang", *casts)


def q_winnow_fingerprints(spark, sf):
    """Winnowing (MOSS) fingerprints: distinct sliding-window minima of the
    3-gram hash stream, window 4 — any >= 6-token match between two docs is
    guaranteed to share a fingerprint."""
    from sits_classification_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(_read(spark, sf, "documents"), k=3, w=4)


def q_doc_fingerprint(spark, sf):
    d = _read(spark, sf, "documents")
    out = fingerprint(d)
    return out.select("doc_id", "fingerprint", F.col("n_tokens").cast("long").alias("n_tokens"))


def q_minhash_sigs(spark, sf):
    d = _read(spark, sf, "documents")
    return minhash_signatures(d, k=4)


def q_minhash_lsh_pairs(spark, sf):
    """MinHash LSH candidate pairs: k=4 signature, 2 bands of 2 rows,
    hot buckets (> 1000 ids) dropped before pair generation."""
    from sits_classification_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _read(spark, sf, "documents"), k=4, bands=2, max_bucket=1000
    )


def q_dedup_clusters(spark, sf):
    """Near-dup clustering: connected components over the MinHash-LSH
    candidate pairs; cluster_id = min reachable doc_id (the canonical
    survivor). Oracle: recursive-CTE transitive closure over the same
    pairs."""
    from sits_classification_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(
        _read(spark, sf, "documents"), k=4, bands=2, max_bucket=1000
    )
    return dedup_clusters(pairs)


def q_corpus_clean(spark, sf):
    """End-to-end training-data cleaning pass, the composition a
    pre-training corpus job runs: quality screen (>= 30 tokens) AND
    exact-content canonical (min doc_id per md5(text)) AND near-dup
    canonical (not in any LSH cluster, or the cluster's min doc_id).
    Output: the surviving corpus."""
    from sits_classification_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )
    from sits_classification_spark.operators.text import words

    d = _read(spark, sf, "documents")
    w = Window.partitionBy(F.md5("text"))
    clusters = dedup_clusters(
        minhash_lsh_pairs(d, k=4, bands=2, max_bucket=1000)
    )
    return (
        d.withColumn("n_tokens", F.size(words("text")))
        .withColumn("keeper", F.min("doc_id").over(w))
        .join(clusters, "doc_id", "left")
        .filter(
            (F.col("n_tokens") >= 30)
            & (F.col("doc_id") == F.col("keeper"))
            & (F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
        )
        .select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))
    )


def q_training_mix(spark, sf):
    """The full make-a-training-set pipeline as ONE query — the composition
    every stage of this engine exists for: stratified split -> quality
    screen (>= 30 tokens) -> exact-content canonical -> near-dup canonical
    (LSH + connected components) -> Bloom decontamination against the test
    split -> temperature mixture over the survivors' token mass (alpha=0.7,
    50% budget). Every stage is an already-oracled operator; the oracle is
    the same composition in SQL."""
    from sits_classification_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )
    from sits_classification_spark.operators.split import (
        mixture_sample_tokens,
        stratified_split,
    )
    from sits_classification_spark.operators.text import (
        bloom_decontaminate,
        words,
    )

    d = stratified_split(
        _read(spark, sf, "documents"), "lang", "doc_id", train=0.8, val=0.1
    )
    w = Window.partitionBy(F.md5("text"))
    clusters = dedup_clusters(
        minhash_lsh_pairs(d, k=4, bands=2, max_bucket=1000)
    )
    flagged = (
        bloom_decontaminate(d, split_col="split", n=8)
        .filter("flagged")
        .select("doc_id")
    )
    clean = (
        d.withColumn("n_tokens", F.size(words("text")))
        .withColumn("keeper", F.min("doc_id").over(w))
        .join(clusters, "doc_id", "left")
        .join(flagged, "doc_id", "left_anti")
        .filter(
            (F.col("split") == "train")
            & (F.col("n_tokens") >= 30)
            & (F.col("doc_id") == F.col("keeper"))
            & (
                F.col("cluster_id").isNull()
                | (F.col("cluster_id") == F.col("doc_id"))
            )
        )
        .select("doc_id", "source", "n_chars")
    )
    return mixture_sample_tokens(
        clean, budget_frac=0.5, temperature=0.7, weight_col="n_chars"
    )


def q_simhash16(spark, sf):
    d = _read(spark, sf, "documents")
    return simhash(d, nbits=16)


def q_ngram_jaccard(spark, sf):
    """3-gram Jaccard near-dup pairs (inverted-index join with stop-shingle
    pruning — shingles in >100 docs are dropped, the skew guard that keeps
    the self-join linear at scale)."""
    d = _read(spark, sf, "documents")
    out = ngram_jaccard_pairs(d, n=3, threshold=0.04, max_shingle_df=100)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def q_ngram_containment(spark, sf):
    """Asymmetric 3-gram containment pairs (subsumption screen: a short
    doc quoted inside a long one scores ~1 where Jaccard stays tiny);
    same inverted-index plan as ngram_jaccard, both directions emitted."""
    from sits_classification_spark.operators.dedup import ngram_containment_pairs

    d = _read(spark, sf, "documents")
    out = ngram_containment_pairs(d, n=3, threshold=0.5, max_shingle_df=100)
    return out.select(
        "doc_a", "doc_b",
        F.round("containment_ab", 6).alias("containment_ab"),
        F.round("containment_ba", 6).alias("containment_ba"),
    )


# ---------------------------------------------------------------------------
# embeddings: similarity search
# ---------------------------------------------------------------------------

def q_cosine_topk(spark, sf):
    """Brute-force cosine top-10 vs the vec_id=0 query vector."""
    e = _read(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    out = cosine_topk(e, q, k=10)
    return out.select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ann_recall(spark, sf):
    """Recall@10 of multi-probe SRP-LSH ANN vs the exact cosine scan over 20
    query vectors. Measured on this corpus: probe_hamming 0/1/2 ->
    recall 0.20/0.49/0.845 (4 planes); the driver config uses 2."""
    e = _read(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = cosine_topk(e, q, k=10).select("query_id", "vec_id")
    ann = ann_lsh_topk(
        e, q, dim=64, k=10, n_planes=4, probe_hamming=2
    ).select("query_id", "vec_id")
    hits = exact.join(ann, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("h")
    )
    perq = (
        q.select(F.col("vec_id").alias("query_id"))
        .distinct()
        .join(hits, "query_id", "left")
        .select(F.coalesce("h", F.lit(0)).alias("h"))
    )
    return perq.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(F.avg("h") / 10.0, 4).alias("recall_at_10"),
    )


def q_ivf_topk(spark, sf):
    """IVF-Flat ANN: 16 deterministic centroids, probe the 4 nearest cells,
    exact cosine inside them — the second ANN family next to SRP-LSH."""
    from sits_classification_spark.operators.similarity import ivf_topk

    e = _read(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    out = ivf_topk(e, q, k=10, n_centroids=16, nprobe=4)
    return out.select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_embedding_near_dups(spark, sf):
    """Embedding-cosine near-dup pairs, SRP-LSH blocked (4 planes => 16
    buckets), hot buckets dropped before the self-join."""
    from sits_classification_spark.operators.similarity import embedding_near_dups

    e = _read(spark, sf, "embeddings")
    out = embedding_near_dups(e, dim=64, threshold=0.30, n_planes=4, max_bucket=2000)
    return out.select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    )


def q_embedding_norms(spark, sf):
    e = _read(spark, sf, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return e.select("vec_id", "label", F.round(norm, 6).alias("l2_norm"))


def q_kmeans_cells(spark, sf):
    """Distributed Lloyd k-means (k=8, 3 iterations) over the embeddings
    corpus from the deterministic md5-keyed seeds; the oracle re-runs the
    same unrolled iterations in SQL (quantized distances + quantized
    centroid updates keep the two engines on bit-identical centroids)."""
    from sits_classification_spark.operators.clustering import kmeans_embeddings

    e = _read(spark, sf, "embeddings")
    return kmeans_embeddings(e, k=8, iters=3)


_BM25_TERMS = ("join", "hash", "vector")


def q_bm25_scores(spark, sf):
    """Okapi BM25 of a fixed 3-term query against every document (corpus
    triage scoring); score emitted in integer micro-units."""
    from sits_classification_spark.operators.text import bm25_scores

    d = _read(spark, sf, "documents")
    out = bm25_scores(d, terms=_BM25_TERMS)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        *[F.col(f"tf_{i}").cast("long").alias(f"tf_{i}") for i in range(3)],
        "bm25_e6",
    )


def q_stratified_split(spark, sf):
    """Deterministic stratified train/val/test split over documents by
    language: exact per-stratum proportions via an md5-ordered rank."""
    from sits_classification_spark.operators.split import stratified_split

    d = _read(spark, sf, "documents")
    out = stratified_split(d, "lang", "doc_id", train=0.8, val=0.1)
    return out.select(
        "doc_id",
        F.col("lang").alias("stratum"),
        F.floor(F.col("frac") * 1000000 + F.lit(0.5)).cast("long").alias("frac_e6"),
        "split",
    )


def q_pack_chunks(spark, sf):
    """Sequence packing (concat-then-chunk, capacity 256) over the
    deterministic sequences fixture — the LLM-pretraining layout that the
    W8/W9 fixed-length windows feed into (the reference instead pads each
    ragged sequence per batch, pytorch/train.py:300-302). All arithmetic is
    int64 (distributed two-pass prefix sum + integer DIV), so the DuckDB
    oracle matches bit-exactly by construction."""
    from sits_classification_spark.operators.packing import pack_chunks

    path = _ensure_cascade_fixture()
    seq = spark.read.parquet(path).withColumn(
        "ord", F.substring("doc_id", 4, 8).cast("long")
    )
    return pack_chunks(
        seq.select("doc_id", "source", "ord", "n_tok"),
        capacity=256,
        n_tok_col="n_tok",
        order_col="ord",
    ).select("doc_id", "source", "chunk_id", "chunk_off", "doc_off", "seg_len")


def q_chunk_plan(spark, sf):
    """Overlapping context-window chunking plan (window=32 tokens,
    stride=24 — the standard fixed-context + overlap layout for LLM
    training/embedding, complementing pack_chunks' concat-then-chunk):
    per doc, n_chunks = 1 + ceil(max(0, n-W)/S) strided windows, the last
    clipped to the doc end; emits (doc_id, k, start_tok, end_tok,
    chunk_len). All-integer arithmetic (DIV-based ceil), token count =
    the shared whitespace words() contract. Map-only: one explode of a
    per-row sequence — no shuffle, no window."""
    from sits_classification_spark.operators.text import words

    W, S = 32, 24
    d = _read(spark, sf, "documents").select(
        "doc_id", F.size(words("text")).cast("long").alias("n")
    ).filter(F.col("n") > 0)
    n_chunks = F.lit(1) + F.expr(
        f"CASE WHEN n > {W} THEN (n - {W} + {S} - 1) DIV {S} ELSE 0 END"
    )
    e = d.select(
        "doc_id",
        "n",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("k"),
    )
    start = F.col("k") * S
    end = F.least(F.col("n"), start + W)
    return e.select(
        "doc_id",
        F.col("k").cast("long").alias("k"),
        start.cast("long").alias("start_tok"),
        end.cast("long").alias("end_tok"),
        (end - start).cast("long").alias("chunk_len"),
    )


def q_minhash_accuracy(spark, sf):
    """MinHash estimation-quality audit — the dedup analog of ann_recall:
    for every LSH candidate pair, the signature-estimated Jaccard
    (matching components / k) against the EXACT shingle-set Jaccard, plus
    the per-pair absolute error in micro-units. Quantifies what the k=4
    driver signature buys — and measures it honestly: on the synthetic
    corpus the mean |est - exact| is ~0.70, i.e. 2-band candidates are
    mostly coincidental band collisions, NOT near-duplicates. That is the
    quantified argument for the pipeline's architecture: LSH only
    GENERATES candidates; verification is exact Jaccard/containment
    (ngram_jaccard, corpus_clean's content canonical) downstream. All
    counts are exact ints; the error is |matches*union - k*inter| /
    (k*union) micro-quantized from identical integers. Plan: the pair
    list (already bucket-capped) joins the signature+base table twice on
    doc id — both sides derive from the one shingle scan."""
    from sits_classification_spark.operators.dedup import (
        minhash_base,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    k = 4
    d = _read(spark, sf, "documents")
    pairs = minhash_lsh_pairs(d, k=k, bands=2, max_bucket=1000)
    both = minhash_signatures(d, k=k).join(minhash_base(d), "doc_id")
    left = both.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"_a{i}") for i in range(k)],
        F.col("base").alias("_ba"),
    )
    right = both.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"_b{i}") for i in range(k)],
        F.col("base").alias("_bb"),
    )
    j = pairs.join(left, "doc_a").join(right, "doc_b")
    matches = sum(
        F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
        for i in range(k)
    ).cast("long")
    inter = F.size(F.array_intersect("_ba", "_bb")).cast("long")
    uni = (F.size("_ba") + F.size("_bb")).cast("long") - inter
    j = j.select(
        "doc_a",
        "doc_b",
        matches.alias("matches"),
        inter.alias("inter"),
        uni.alias("uni"),
    )
    err = F.floor(
        F.lit(1000000.0)
        * F.abs(F.col("matches") * F.col("uni") - k * F.col("inter"))
        / (F.lit(4.0) * F.col("uni"))
        + F.lit(0.5)
    ).cast("long")
    return j.select("doc_a", "doc_b", "matches", "inter", "uni", err.alias("err_e6"))


def q_tfidf_top_terms(spark, sf):
    """Top-3 TF-IDF terms per document (corpus keyword extraction); scores
    quantized to integer micro-units BEFORE ranking so the top-k set is
    engine-stable."""
    from sits_classification_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(_read(spark, sf, "documents"), k=3)


def q_unigram_logprob(spark, sf):
    """Unigram-LM negative log-likelihood per document (fluency/quality
    scoring); per-token NLL quantized to int micro-units before the sum so
    the aggregate is summation-order-free."""
    from sits_classification_spark.operators.text import unigram_logprob

    return unigram_logprob(_read(spark, sf, "documents"))


def q_char_entropy(spark, sf):
    """Character-distribution Shannon entropy per doc (gibberish/spam
    screen): run-length fold over the sorted char array, per-run c*ln(c)
    quantized to int micro-nats as it retires — zero shuffles, engine-exact."""
    from sits_classification_spark.operators.text import char_entropy

    return char_entropy(_read(spark, sf, "documents"))


def q_bigram_logprob(spark, sf):
    """Cross-split bigram LM with stupid backoff (Brants et al. 2007; the
    CCNet-style quality screen): counts trained on the stratified TRAIN
    split, held-out test docs scored; per-bigram -ln quantized to int
    micro-units before the per-doc sum (engine-exact)."""
    from sits_classification_spark.operators.split import stratified_split
    from sits_classification_spark.operators.text import bigram_logprob

    d = stratified_split(
        _read(spark, sf, "documents"), "lang", "doc_id", train=0.8, val=0.1
    )
    return bigram_logprob(d, split_col="split")


def q_contamination(spark, sf):
    """Train/test decontamination: 8-gram shingle overlap between the test
    and train halves of the stratified split (composed on
    `stratified_split`, the bipartite variant of the near-dup inverted
    index)."""
    from sits_classification_spark.operators.split import stratified_split
    from sits_classification_spark.operators.text import (
        cross_split_contamination,
    )

    d = stratified_split(
        _read(spark, sf, "documents"), "lang", "doc_id", train=0.8, val=0.1
    )
    return cross_split_contamination(d, split_col="split", n=8)


def q_contamination_bloom(spark, sf):
    """Bloom-prefiltered decontamination: a deterministic md5-derived Bloom
    filter over the TEST split's 8-gram shingles (k=3 positions, m=2^22
    bits) probed map-only over every train doc via broadcast bit-table
    lookups — the scale path in front of the exact `contamination` screen;
    no false negatives by construction."""
    from sits_classification_spark.operators.split import stratified_split
    from sits_classification_spark.operators.text import bloom_decontaminate

    d = stratified_split(
        _read(spark, sf, "documents"), "lang", "doc_id", train=0.8, val=0.1
    )
    return bloom_decontaminate(d, split_col="split", n=8, m_bits=1 << 22)


def _doc_media(spark, sf):
    """Deterministic media table derived from documents: payload = UTF-8
    text bytes (the corpus is ASCII, so DuckDB's per-char ascii() sees the
    same byte values), kind round-robins by doc_id, duration from
    n_chars."""
    d = _read(spark, sf, "documents")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("doc_id"), 3) + 1).cast("int"),
    )
    return d.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        (F.col("n_chars") * 7).cast("int").alias("duration_ms"),
    )


def q_media_features(spark, sf):
    """Multimodal Arrow path with a DuckDB oracle: the byte-bounded
    mapInPandas pipeline (1 MiB chunk cap, so re-chunking actually fires)
    computing per-media byte statistics — proves the media plumbing
    delivers exactly-once, batch-boundary-independent rows."""
    from sits_classification_spark.operators.multimodal import byte_stats

    return byte_stats(_doc_media(spark, sf), max_batch_bytes=1 << 20)


def q_media_frames(spark, sf):
    """Video frame-sampling plan (the Spark-side half of frame extraction):
    one row per (video, frame timestamp) at a 250 ms stride."""
    from sits_classification_spark.operators.multimodal import frame_sample_plan

    media = _doc_media(spark, sf).filter(F.col("kind") == "video")
    out = frame_sample_plan(media, every_ms=250)
    return out.select("media_id", F.col("frame_ms").cast("long").alias("frame_ms"))


def q_media_decode(spark, sf):
    """REAL (dependency-free) media decode through the byte-bounded Arrow
    pipeline: per doc, a deterministic uncompressed 24-bit BMP (even
    doc_id) or PCM16 WAV (odd) is synthesized from closed-form byte
    formulas, decoded by the pure-python container parsers
    (multimodal.decode_media — actual header walk + numpy pixel/sample
    stats, not a fake), and the typed feature vector is checked against a
    DuckDB oracle that re-derives every statistic from the same closed
    forms. Closes the decoder seam: the NotImplementedError path is gone
    for the containers a no-codec environment can honestly parse."""
    import pandas as pd

    from sits_classification_spark.operators.multimodal import (
        decode_media,
        extract_features,
        synth_bmp,
        synth_wav,
    )

    d = _read(spark, sf, "documents").select("doc_id")

    def build(batches):
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            payloads = [
                synth_bmp(i, 4 + i % 5, 3 + i % 4)
                if i % 2 == 0
                else synth_wav(i, 50 + i % 20)
                for i in ids
            ]
            yield pd.DataFrame(
                {
                    "media_id": [f"m{i}" for i in ids],
                    "kind": ["image" if i % 2 == 0 else "audio" for i in ids],
                    "payload": payloads,
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    media = d.mapInPandas(
        build, "media_id string, kind string, payload binary, n_bytes long"
    )
    feats = extract_features(media, decoder=decode_media)
    cols = [
        F.element_at("feature", i + 1).cast("long").alias(f"f{i}")
        for i in range(9)
    ]
    return feats.select("media_id", "kind", *cols)


def q_media_tif(spark, sf):
    """REAL TIFF decode (the reference's actual raster container —
    pytorch/predict.py:346-455 reads GeoTIFF stacks; GeoTIFF is baseline
    TIFF plus geo tags a statistics decode ignores) through the same
    byte-bounded Arrow pipeline as media_decode: per doc, a deterministic
    uncompressed 16-bit 3-band multi-strip TIFF — LITTLE-endian for even
    doc_ids, BIG-endian for odd, so both header paths of the IFD walk are
    oracle-pinned — synthesized from the closed form
    sample(i) = (doc_id*19 + i) % 60001, decoded by the pure-struct IFD
    walker (multimodal._decode_tiff), feature vector re-derived by DuckDB
    from the same closed form."""
    import pandas as pd

    from sits_classification_spark.operators.multimodal import (
        decode_media,
        extract_features,
        synth_tiff,
    )

    d = _read(spark, sf, "documents").select("doc_id")

    def build(batches):
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            payloads = [
                synth_tiff(i, 3 + i % 4, 2 + i % 5, big_endian=bool(i % 2))
                for i in ids
            ]
            yield pd.DataFrame(
                {
                    "media_id": [f"m{i}" for i in ids],
                    "kind": ["image"] * len(ids),
                    "payload": payloads,
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    media = d.mapInPandas(
        build, "media_id string, kind string, payload binary, n_bytes long"
    )
    feats = extract_features(media, decoder=decode_media)
    cols = [
        F.element_at("feature", i + 1).cast("long").alias(f"f{i}")
        for i in range(9)
    ]
    return feats.select("media_id", *cols)


def q_stream_fold_equiv(spark, sf):
    """Streaming/batch twin CONTRACT as a driver row: run the streaming
    10-day fold (file source, availableNow, complete mode) and the
    identical batch plan over the same events, round the float aggregate
    at 6 (the twins agg in different partial orders), and return the
    symmetric exceptAll diff — EXPECTED EMPTY. The oracle is the matching
    empty relation, so rows+schema+hash pass iff the twins agree row-for-
    row on every bucket."""
    from sits_classification_spark.streaming.rollup import run_file_stream_once

    src = f"{sf}/events.parquet"
    stream = run_file_stream_once(
        spark, src, query_name="fold_equiv_stream", window="10 days"
    )
    batch = (
        spark.read.parquet(src)
        .dropDuplicates(["user_id", "event_id"])
        .groupBy(F.window("ts", "10 days").alias("w"), "user_id")
        .agg(F.avg("value").alias("value"), F.count(F.lit(1)).alias("n_obs"))
        .select(
            F.col("user_id").alias("doc_id"),
            F.col("w.start").alias("bucket_start"),
            F.col("w.end").alias("bucket_end"),
            "value",
            "n_obs",
        )
    )

    def norm(df):
        return df.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.unix_timestamp(F.col("bucket_start").cast("timestamp")).alias(
                "bucket_start"
            ),
            F.unix_timestamp(F.col("bucket_end").cast("timestamp")).alias(
                "bucket_end"
            ),
            F.round("value", 6).alias("value"),
            F.col("n_obs").cast("long").alias("n_obs"),
        )

    a, b = norm(stream), norm(batch)
    return a.exceptAll(b).unionAll(b.exceptAll(a))


def _event_scores(spark, sf):
    """Deterministic per-(user, day) standardized scores from events —
    shared input of the batch/streaming CUSUM twins (min() not first():
    first() in an agg is order-dependent)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    return (
        ev.groupBy("user_id", day.alias("day"))
        .agg(F.min("value").alias("v"))
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("day").cast("long").alias("day"),
            ((F.col("v") - 50.0) / 25.0).alias("z"),
        )
    )


def q_stream_ohlc_equiv(spark, sf):
    """Streaming/batch twin contract for the OHLC candlestick fold: run
    the windowed OHLC stream (file source, availableNow, complete mode,
    watermark-deduped on (user_id, event_id), open/close pinned by the
    full (ts, event_id, value) struct ordering) and the IDENTICAL batch
    plan over the same events; return the symmetric exceptAll diff —
    EXPECTED EMPTY. OHLC values are selected (not averaged) raw doubles,
    so the twins must agree exactly with no rounding. The oracle is the
    matching empty relation."""
    from sits_classification_spark.streaming.rollup import (
        ohlc_fold,
        run_ohlc_stream_once,
    )

    src = f"{sf}/events.parquet"
    stream = run_ohlc_stream_once(spark, src, query_name="ohlc_equiv_stream")
    batch = ohlc_fold(
        spark.read.parquet(src).dropDuplicates(["user_id", "event_id"])
    )

    def norm(df):
        return df.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.unix_timestamp(F.col("bucket_start").cast("timestamp")).alias(
                "bucket_start"
            ),
            F.unix_timestamp(F.col("bucket_end").cast("timestamp")).alias(
                "bucket_end"
            ),
            F.col("open").cast("double").alias("open"),
            F.col("high").cast("double").alias("high"),
            F.col("low").cast("double").alias("low"),
            F.col("close").cast("double").alias("close"),
            F.col("n_obs").cast("long").alias("n_obs"),
        )

    a, b = norm(stream), norm(batch)
    return a.exceptAll(b).unionAll(b.exceptAll(a))


def q_stream_cusum_equiv(spark, sf):
    """Streaming/batch CUSUM twin contract as a driver row: replay the
    score stream in 3 day-ordered micro-batches through the
    applyInPandasWithState detector, take each series' final summary
    (max cumulative n), and diff against the batch cusum_scores closed
    form — EXPECTED EMPTY (carry-in reflected-walk identity makes the
    registers bit-compatible; floats rounded at 6 on both sides)."""
    import os
    import tempfile

    from pyspark.sql import Window as W

    from sits_classification_spark.operators.seriesmap import series_rows
    from sits_classification_spark.operators.stm import cusum_scores
    from sits_classification_spark.streaming.rollup import (
        streaming_cusum_scores,
    )

    scores = _event_scores(spark, sf)
    batch = cusum_scores(series_rows(scores, ("user_id",), "day", "z"), k=0.5, h=3.0)

    stream_dir = os.path.join(
        tempfile.mkdtemp(prefix="cusum_equiv_"), "src"
    )
    rows = scores.orderBy("day", "user_id").collect()
    n = len(rows)
    for i in range(3):
        part = rows[i * n // 3 : (i + 1) * n // 3]
        spark.createDataFrame(
            part, schema="user_id long, day long, z double"
        ).coalesce(1).write.mode("append" if i else "overwrite").parquet(
            stream_dir
        )
    stream = (
        spark.readStream.schema("user_id long, day long, z double")
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(stream_dir)
    )
    q = (
        streaming_cusum_scores(stream, k=0.5, h=3.0)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("cusum_equiv_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    latest = (
        spark.sql("SELECT * FROM cusum_equiv_stream")
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("n").desc())
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    def norm(df):
        return df.select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("n").cast("long").alias("n"),
            F.round("s_pos_max", 6).alias("s_pos_max"),
            F.round("s_neg_max", 6).alias("s_neg_max"),
            F.col("break_day").cast("long").alias("break_day"),
            F.col("break_side").cast("int").alias("break_side"),
        )

    a = norm(latest)
    b = norm(batch)  # keys=("user_id",): already the twin's column names
    return a.exceptAll(b).unionAll(b.exceptAll(a))


_SAMPLE_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}


def q_hash_sample(spark, sf):
    """Deterministic per-source Bernoulli sampling by md5 hash threshold
    (corpus mixing: keep 100%/50%/25%/10% of four sources, drop the rest);
    map-only, no RNG, reproducible across engines and cluster sizes."""
    from sits_classification_spark.operators.split import hash_sample

    return hash_sample(
        _read(spark, sf, "documents"),
        rates=_SAMPLE_RATES,
        rate_col="source",
        id_col="doc_id",
    ).select("doc_id", "source")


def q_session_stats(spark, sf):
    """Gap-based sessionization of the event stream (30-min inactivity
    timeout) with per-session rollups; all time math in integer
    epoch-microseconds so bounds/durations are engine-exact."""
    from sits_classification_spark.operators.sessions import session_stats

    return session_stats(_read(spark, sf, "events"), timeout_s=1800)


def q_hll_distinct(spark, sf):
    """Per-source HyperLogLog distinct-doc estimate (p=12, md5-derived
    registers, int64 power-of-two accumulation) — reproducible across
    engines, unlike approx_count_distinct's private hash."""
    from sits_classification_spark.operators.sketch import hll_distinct

    return hll_distinct(
        _read(spark, sf, "documents"), "doc_id", ("source",), p=12
    )


def q_repetition(spark, sf):
    """Gopher/C4-style repetition screens (dup-word fraction, top-bigram
    fraction, longest token run) as pure array expressions — zero
    shuffles, computed inside the scan stage."""
    from sits_classification_spark.operators.text import repetition_metrics

    return repetition_metrics(_read(spark, sf, "documents"))


def q_pii_scrub(spark, sf):
    """PII count + redaction over documents with deterministically
    injected emails/phones (the synthetic corpus has none, so the query
    plants `user<id>@example.com` on doc_id%5==0 and a 555-number on
    doc_id%7==0 before scrubbing — both sides of the oracle inject
    identically). Returns counts plus an md5 of the cleaned text."""
    from sits_classification_spark.operators.text import pii_scrub

    d = _read(spark, sf, "documents")
    injected = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" call 555-867-5309")),
        )
        .otherwise(F.col("text")),
    )
    out = pii_scrub(injected)
    return out.select(
        "doc_id", "n_emails", "n_phones", F.md5("clean_text").alias("clean_key")
    )


_CM_PROBE_TERMS = (
    "the", "a", "table", "value", "key", "row", "scan", "fast", "data", "zzzz",
)


def q_cm_counts(spark, sf):
    """Count-Min sketch term-frequency estimates (Cormode & Muthukrishnan
    2005): d=4 x width=1024 cells built over every corpus token, point
    queries for a fixed probe set (incl. one unseen term) — bounded-size
    frequency accounting with est >= true; md5-derived rows keep the
    sketch engine-reproducible."""
    from sits_classification_spark.operators.sketch import cm_estimate, count_min
    from sits_classification_spark.operators.text import words

    toks = _read(spark, sf, "documents").select(
        F.explode(words("text")).alias("term")
    )
    sk = count_min(toks, width=1024)
    probe = spark.createDataFrame(
        [(t,) for t in _CM_PROBE_TERMS], "term string"
    )
    return cm_estimate(sk, probe, width=1024)


def q_heavy_hitters(spark, sf):
    """Corpus top-10 terms via distributed Misra-Gries (k=4096 counters per
    partition, mergeable-summaries shrink); exact — and oracle-checkable —
    whenever per-partition vocabulary < k (fixture vocab ~31, two orders of
    magnitude of headroom; a shrink logs to stderr if it ever fires)."""
    from sits_classification_spark.operators.sketch import heavy_hitters

    return heavy_hitters(_read(spark, sf, "documents"), k=4096, topn=10)


def q_source_cap(spark, sf):
    """Per-source document cap (mixture spec "at most 300 docs per
    source"): md5-ranked deterministic survivors with their rank."""
    from sits_classification_spark.operators.split import cap_per_source

    return cap_per_source(_read(spark, sf, "documents"), cap=300).select(
        "doc_id", "source", "rk"
    )


def q_length_quantiles(spark, sf):
    """Exact per-source doc-length quantiles (percentile_disc semantics,
    rank ceil(q*n)) — order statistics, not a sketch, so the DuckDB
    oracle reproduces them bit-for-bit."""
    from sits_classification_spark.operators.split import group_quantiles

    return group_quantiles(
        _read(spark, sf, "documents"), "n_chars",
        qs=(0.25, 0.5, 0.75, 0.95), group_cols=("source",),
    )


def q_dup_spans(spark, sf):
    """Exact-substring duplicate-span detection (Lee et al. 2022 dedup):
    maximal spans of >= 15 consecutive tokens occurring more than once in
    the corpus, located by token index — the window-plan replacement for a
    suffix array (dup L-gram starts merged by gaps-and-islands)."""
    from sits_classification_spark.operators.dedup import dup_spans

    return dup_spans(_read(spark, sf, "documents"), min_len=15)


def q_cusum_breaks(spark, sf):
    """Two-sided mean-shift CUSUM break detection per series (Page 1954),
    S_t = max(0, S_{t-1} + z_t - k) computed via the reflected-random-walk
    identity (prefix sum minus running min) in one fold over each series
    row, no iteration."""
    from sits_classification_spark.operators.seriesmap import series_rows
    from sits_classification_spark.operators.stm import cusum_breaks

    return cusum_breaks(series_rows(_series(spark, sf)), k=0.25, h=3.0)


def q_mixture_plan(spark, sf):
    """Temperature-based mixture sampling plan (alpha=0.7 source
    rebalancing a la XLM/T5): per-source weight n^alpha / sum(n^alpha),
    doc targets for a 40% corpus budget, and the equivalent keep rates."""
    from sits_classification_spark.operators.split import mixture_plan

    return mixture_plan(
        _read(spark, sf, "documents"), budget_frac=0.4, temperature=0.7
    )


def q_mixture_sample(spark, sf):
    """Apply the temperature-mixture plan with EXACT per-source counts:
    md5-ranked within source, first target_n survive — deterministic
    doc-for-doc across runs and engines."""
    from sits_classification_spark.operators.split import mixture_sample

    return mixture_sample(
        _read(spark, sf, "documents"), budget_frac=0.4, temperature=0.7
    )


def q_mixture_tokens(spark, sf):
    """Token-budget temperature mixture (mix specs are written in tokens):
    per-source char-mass weights at alpha=0.7, greedy hash-ranked prefix
    within each source up to the per-source token target."""
    from sits_classification_spark.operators.split import mixture_sample_tokens

    return mixture_sample_tokens(
        _read(spark, sf, "documents"), budget_frac=0.4, temperature=0.7,
        weight_col="n_chars",
    )


def q_dup_span_removal(spark, sf):
    """Cut duplicated >=15-token spans from every doc, keeping the canonical
    (min doc_id, min pos) occurrence of each duplicated gram — the cleaning
    pass over dup_spans; returns per-doc removal counts and an md5 of the
    cleaned text."""
    from sits_classification_spark.operators.dedup import dup_span_removal

    out = dup_span_removal(_read(spark, sf, "documents"), min_len=15)
    return out.select(
        "doc_id", "n_tokens", "n_removed", F.md5("clean_text").alias("clean_key")
    )


# ---------------------------------------------------------------------------
# engine-native queries (no ANSI-SQL equivalent -> rows-only check)
# ---------------------------------------------------------------------------

_FIXTURE_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    ".fixtures", "cascade_sequences_500_v1.parquet",
)


def _ensure_cascade_fixture() -> str:
    """Deterministic 500-doc sequences table materialized once so the DuckDB
    oracle reads the exact same parquet bytes as the Spark cascade query
    (generation is splitmix64-deterministic; the file is content-stable).
    Concurrency-safe: each writer uses a pid-unique temp name and the final
    os.replace is atomic — racing writers install identical bytes."""
    if not os.path.exists(_FIXTURE_PATH):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sits_classification_spark.datagen import generate_pandas

        os.makedirs(os.path.dirname(_FIXTURE_PATH), exist_ok=True)
        pdf = generate_pandas(500)
        schema = pa.schema(
            [
                ("doc_id", pa.string()),
                ("tokens", pa.list_(pa.int32())),
                ("n_tok", pa.int32()),
                ("source", pa.string()),
            ]
        )
        tmp = f"{_FIXTURE_PATH}.tmp.{os.getpid()}"
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema), tmp)
        os.replace(tmp, _FIXTURE_PATH)
    return _FIXTURE_PATH


def q_cascade_monthly(spark, sf):
    """The one-pass mapInArrow tier cascade (stage_cascade) on the
    deterministic synthetic sequences fixture; its tier_monthly rows in
    long form.
    The oracle recomputes decode -> 10-day interp -> monthly AVG in SQL from
    the same parquet file. Compared on the double fold value (round 6) —
    the int token column uses numpy half-even rounding, which SQL round()
    does not reproduce; token equality is pinned by the pytest oracle."""
    from sits_classification_spark.config import EngineConfig
    from sits_classification_spark.plans.cascade import salt_width, stage_cascade, with_salt

    cfg = EngineConfig()
    seq = with_salt(spark.read.parquet(_ensure_cascade_fixture()), salt_width(spark, cfg))
    tiers = stage_cascade(seq, cfg)
    monthly = tiers.where(F.col("tier") == "tier_monthly")
    return monthly.select(
        "doc_id",
        "source",
        F.posexplode(F.arrays_zip("buckets", "values")).alias("pos", "bv"),
    ).select(
        "doc_id",
        "source",
        F.col("bv.buckets").cast("long").alias("bucket"),
        F.round(F.col("bv.values"), 6).alias("value"),
    )


def q_retention_monthly(spark, sf):
    """Retention policy over the monthly tier (drop_chunks analog): keep
    only buckets >= 197006 of the fixture cascade's monthly tier; docs
    trimmed to nothing disappear. Oracle = the cascade oracle + the same
    bucket cutoff."""
    from sits_classification_spark.config import EngineConfig
    from sits_classification_spark.plans.cascade import (
        salt_width,
        stage_cascade,
        stage_retention,
        with_salt,
    )

    cfg = EngineConfig()
    seq = with_salt(spark.read.parquet(_ensure_cascade_fixture()), salt_width(spark, cfg))
    tiers = stage_cascade(seq, cfg)
    monthly = tiers.where(F.col("tier") == "tier_monthly")
    kept = stage_retention(monthly, 197006, "tier_monthly")
    return kept.select(
        "doc_id",
        "source",
        F.posexplode(F.arrays_zip("buckets", "values")).alias("pos", "bv"),
    ).select(
        "doc_id",
        "source",
        F.col("bv.buckets").cast("long").alias("bucket"),
        F.round(F.col("bv.values"), 6).alias("value"),
    )


def q_gorilla_roundtrip(spark, sf):
    """Gorilla+DoD codec round-trip over the raw tier (ok=true per doc)."""
    from sits_classification_spark.config import EngineConfig
    from sits_classification_spark.datagen import generate_spark
    from sits_classification_spark.plans.cascade import (
        salt_width,
        stage_cascade,
        verify_rows,
        with_salt,
    )

    cfg = EngineConfig()
    tiers = stage_cascade(with_salt(generate_spark(spark, 300), salt_width(spark, cfg)), cfg)
    return verify_rows(tiers.where(F.col("tier") == "tier_raw"))


def q_ann_lsh_topk(spark, sf):
    """ANN via sign-random-projection LSH buckets (approximate; exact
    baseline is q_cosine_topk)."""
    e = _read(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    return ann_lsh_topk(e, q, dim=64, k=10, n_planes=4).select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_fixed_windows(spark, sf):
    """W8/W9 fixed-length windows: word-length tokens padded/truncated to 64
    (string-encoded for exact cross-engine comparison)."""
    d = _read(spark, sf, "documents")
    from sits_classification_spark.operators.text import words

    toks = F.transform(words("text"), lambda w: F.length(w))
    padded = F.slice(
        F.concat(
            toks,
            F.array_repeat(F.lit(0), F.greatest(F.lit(0), F.lit(64) - F.size(toks))),
        ),
        1,
        64,
    )
    return d.select(
        "doc_id",
        F.concat_ws(",", F.transform(padded, lambda x: x.cast("string"))).alias(
            "window_str"
        ),
        F.least(F.size(toks), F.lit(64)).cast("long").alias("valid_len"),
    )


_PT_LON = "-10.0 + CAST((c_custkey * 37) % 4000 AS DOUBLE) / 100.0"
_PT_LAT = "35.0 + CAST((c_custkey * 61) % 3000 AS DOUBLE) / 100.0"

from sits_classification_spark.functions.geo import (  # noqa: E402
    laea_forward_oracle_cte as _laea_cte,
)


def q_laea_reproject(spark, sf):
    """S4 — EPSG:4326 -> EPSG:3035 reprojection (force_class_utils.py:67-83)
    as pure whole-stage-codegen Column trig: the ellipsoidal LAEA forward
    mapping (Snyder 1987 pp.187-188 / EPSG method 9820) on deterministic
    synthetic lon/lat from customer keys. The oracle runs the IDENTICAL
    staged expression text in DuckDB (geo.laea_forward_stages), so the two
    engines differ by libm ulps only — quantization at centimeters is ~6
    orders of magnitude above that."""
    from sits_classification_spark.functions.geo import laea_forward

    pts = _read(spark, sf, "customer").selectExpr(
        "CAST(c_custkey AS BIGINT) AS custkey",
        f"{_PT_LON} AS lon",
        f"{_PT_LAT} AS lat",
    )
    return laea_forward(pts, "lon", "lat").selectExpr(
        "custkey",
        "CAST(floor(x3035 * 100.0 + 0.5) AS BIGINT) AS x_cm",
        "CAST(floor(y3035 * 100.0 + 0.5) AS BIGINT) AS y_cm",
    )


def q_shapefile_roundtrip(spark, sf):
    """S4/S11 — point-shapefile sink -> distributed source round-trip as a
    driver row: synthesize nation-keyed points (EPSG:4326), write a real
    .shp/.shx/.dbf/.prj set via the driver-side sink (the predictions.shp
    path, predict.py:700-707), read it back through the binaryFile +
    applyInPandas reader, and return the symmetric exceptAll diff vs the
    synthesized relation — EXPECTED EMPTY. Doubles survive the shapefile
    bit-exactly (IEEE f64 on disk), so the diff needs no rounding; the
    oracle is the matching empty relation."""
    from sits_classification_spark.sources.shapefile import (
        read_point_shapefiles,
        write_point_shapefile,
    )

    expected = (
        _read(spark, sf, "nation")
        .selectExpr(
            "CAST(n_nationkey AS BIGINT) AS nkey",
            "n_name AS name",
            "-10.0 + CAST((n_nationkey * 53) % 4000 AS DOUBLE) / 100.0 AS x",
            "35.0 + CAST((n_nationkey * 29) % 3000 AS DOUBLE) / 100.0 AS y",
        )
        .withColumn(
            "fid",
            F.row_number().over(Window.orderBy("nkey")).cast("long"),
        )
    )
    pdf = expected.orderBy("nkey").toPandas()[["x", "y", "nkey", "name"]]
    base = f"/tmp/sits_shp_rt_{os.path.basename(os.path.normpath(sf))}/pts"
    write_point_shapefile(pdf, base, epsg=4326)

    got = read_point_shapefiles(spark, base + ".shp").select(
        F.col("fid").cast("long").alias("fid"),
        "x",
        "y",
        F.col("attrs")["nkey"].cast("long").alias("nkey"),
        F.col("attrs")["name"].alias("name"),
        F.col("epsg").cast("int").alias("epsg"),
    )
    exp = expected.select(
        "fid", "x", "y", "nkey", "name", F.lit(4326).cast("int").alias("epsg")
    )
    return got.exceptAll(exp).unionAll(exp.exceptAll(got))


def q_psi_drift(spark, sf):
    """Population Stability Index per series — the standard drift screen
    for training-data monitoring: split each series at its (exact integer)
    median day, histogram values into 10 fixed bins, and compute
    PSI = sum_i (p_i - q_i)·ln(p_i/q_i) with add-one smoothing. Bin
    counts, totals, and the early/late split are all-integer; each bin
    term quantizes to micro-units before the 10-term int sum (ln ulp
    exposure ~1e-12 per floor at these magnitudes). PSI > 0.2 (the
    conventional action threshold) flags as drifted — an integer compare.
    Two aggregates + one mid-rank window on the doc exchange."""
    s = _series(spark, sf)
    wd = Window.partitionBy("doc_id")
    r = (
        s.withColumn("rn", F.row_number().over(wd.orderBy("day")))
        .withColumn("n", F.count(F.lit(1)).over(wd))
    )
    lo, hi = F.expr("(n + 1) DIV 2"), F.expr("(n + 2) DIV 2")
    med = r.groupBy("doc_id").agg(
        (
            F.sum(F.when(F.col("rn") == lo, F.col("day")).otherwise(0))
            + F.sum(F.when(F.col("rn") == hi, F.col("day")).otherwise(0))
        ).alias("md2")
    )
    binc = F.least(
        F.lit(9), F.greatest(F.lit(0), F.floor(F.col("value") / 10).cast("int"))
    )
    h = (
        r.join(med, "doc_id")
        .withColumn("early", (2 * F.col("day") <= F.col("md2")).cast("int"))
        .groupBy("doc_id", binc.alias("bin"))
        .agg(
            F.sum("early").alias("a"),
            F.sum(1 - F.col("early")).alias("b"),
        )
    )
    tot = h.groupBy("doc_id").agg(
        F.sum("a").alias("na"), F.sum("b").alias("nb")
    )
    p = (F.col("a") + 1).cast("double") / (F.col("na") + 10)
    q = (F.col("b") + 1).cast("double") / (F.col("nb") + 10)
    term = F.floor((p - q) * F.log(p / q) * 1000000 + F.lit(0.5)).cast("long")
    return (
        h.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("na").cast("long").alias("n_early"),
            F.max("nb").cast("long").alias("n_late"),
            F.sum(term).cast("long").alias("psi_e6"),
        )
        .withColumn("drifted", (F.col("psi_e6") > 200000).cast("int"))
    )


_PSI_ORACLE = """
    WITH s0 AS ({series}),
    r AS (SELECT doc_id, day, value,
                 row_number() OVER (PARTITION BY doc_id ORDER BY day) AS rn,
                 count(*) OVER (PARTITION BY doc_id) AS n
          FROM s0),
    med AS (SELECT doc_id,
                   CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN day ELSE 0 END)
                        + sum(CASE WHEN rn = (n + 2) // 2 THEN day ELSE 0 END)
                        AS BIGINT) AS md2
            FROM r GROUP BY doc_id),
    h AS (SELECT r.doc_id,
                 least(9, greatest(0, CAST(floor(value / 10) AS INTEGER)))
                   AS bin,
                 CAST(sum(CASE WHEN 2*r.day <= med.md2 THEN 1 ELSE 0 END)
                      AS BIGINT) AS a,
                 CAST(sum(CASE WHEN 2*r.day <= med.md2 THEN 0 ELSE 1 END)
                      AS BIGINT) AS b
          FROM r JOIN med USING (doc_id) GROUP BY 1, 2),
    tot AS (SELECT doc_id, CAST(sum(a) AS BIGINT) AS na,
                   CAST(sum(b) AS BIGINT) AS nb
            FROM h GROUP BY doc_id)
    SELECT h.doc_id, max(na) AS n_early, max(nb) AS n_late,
           CAST(sum(CAST(floor(
               (CAST(a + 1 AS DOUBLE) / (na + 10)
                - CAST(b + 1 AS DOUBLE) / (nb + 10))
               * ln((CAST(a + 1 AS DOUBLE) / (na + 10))
                    / (CAST(b + 1 AS DOUBLE) / (nb + 10)))
               * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS psi_e6,
           CAST(CASE WHEN CAST(sum(CAST(floor(
               (CAST(a + 1 AS DOUBLE) / (na + 10)
                - CAST(b + 1 AS DOUBLE) / (nb + 10))
               * ln((CAST(a + 1 AS DOUBLE) / (na + 10))
                    / (CAST(b + 1 AS DOUBLE) / (nb + 10)))
               * 1000000 + 0.5) AS BIGINT)) AS BIGINT) > 200000
                THEN 1 ELSE 0 END AS INTEGER) AS drifted
    FROM h JOIN tot USING (doc_id) GROUP BY h.doc_id
"""


def q_acf(spark, sf):
    """Per-series autocorrelation function at row-order lags 1..3 — the
    standard residual/seasonality diagnostic the A3/W5 menu lacked:
    r_k = sum_{t<=n-k}(x_t - xbar)(x_{t+k} - xbar) / sum(x_t - xbar)^2,
    full-series mean and denominator (Box-Jenkins convention). Values are
    exact 2-decimal data, so cq = floor(v*100 + 0.5) is lossless; scaling
    both factors by n clears the mean's division — num_k =
    sum (n*cq_t - S)(n*cq_{t+k} - S) is EXACT int64 (|n*cq| <= 1.5e6,
    30-term sum <= 7e13), den likewise, and the single final int/int
    division is the only float op, so both engines emit identical doubles.
    Plan: one doc_id exchange (shared with the series family) carrying a
    lead window + an unbounded-window total, then one hash aggregate."""
    s = _series(spark, sf)
    wd = Window.partitionBy("doc_id")
    wo = wd.orderBy("day")
    cq = F.floor(F.col("value") * 100 + 0.5).cast("long")
    r = (
        s.withColumn("cq", cq)
        .withColumn("n", F.count(F.lit(1)).over(wd))
        .withColumn("s", F.sum("cq").over(wd))
    )
    dev = F.col("n") * F.col("cq") - F.col("s")
    for k in (1, 2, 3):
        r = r.withColumn(
            f"p{k}", dev * (F.col("n") * F.lead("cq", k).over(wo) - F.col("s"))
        )
    agg = r.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("n"),
        F.sum(dev * dev).alias("den"),
        *[F.sum(f"p{k}").alias(f"num{k}") for k in (1, 2, 3)],
    )
    rk = [
        F.when(
            F.col("den") > 0,
            F.col(f"num{k}").cast("double") / F.col("den").cast("double"),
        ).alias(f"r{k}")
        for k in (1, 2, 3)
    ]
    return agg.select("doc_id", "n", *rk)


_ACF_ORACLE = """
    WITH s AS ({series}),
    b AS (SELECT doc_id,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cq,
                 count(*) OVER (PARTITION BY doc_id) AS n,
                 sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                     OVER (PARTITION BY doc_id) AS s,
                 lead(CAST(floor(value * 100 + 0.5) AS BIGINT), 1)
                     OVER (PARTITION BY doc_id ORDER BY day) AS l1,
                 lead(CAST(floor(value * 100 + 0.5) AS BIGINT), 2)
                     OVER (PARTITION BY doc_id ORDER BY day) AS l2,
                 lead(CAST(floor(value * 100 + 0.5) AS BIGINT), 3)
                     OVER (PARTITION BY doc_id ORDER BY day) AS l3
          FROM s),
    a AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n,
                 sum((n*cq - s) * (n*cq - s)) AS den,
                 sum((n*cq - s) * (n*l1 - s)) AS num1,
                 sum((n*cq - s) * (n*l2 - s)) AS num2,
                 sum((n*cq - s) * (n*l3 - s)) AS num3
          FROM b GROUP BY doc_id)
    SELECT doc_id, n,
           CASE WHEN den > 0 THEN CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE) END AS r1,
           CASE WHEN den > 0 THEN CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE) END AS r2,
           CASE WHEN den > 0 THEN CAST(num3 AS DOUBLE) / CAST(den AS DOUBLE) END AS r3
    FROM a
"""


def q_market_corr(spark, sf):
    """Cross-sectional 'market mode' correlation — the first genuinely
    CROSS-series diagnostic in the menu: per doc, the Pearson correlation
    between its series and the corpus-wide market series y_t = sum over
    all docs of cq at day t (the SUM, not the mean — correlation is
    scale-invariant, and the sum stays exact int64). Only days the doc
    observes enter its correlation (pairwise-complete convention).

    Exactness: cq is the lossless cent quantization; with m = the doc's
    obs count, the m-scaled deviations dx = m*cq - Sx and dy = m*y - Sy
    make numerator and both denominator sums exact int64.
    dy is SHIFT-INVARIANT in y (m*y_t - Sy = sum_{t'} (y_t - y_{t'})), so
    its magnitude is bounded by m * range(y) — the market's FLUCTUATION,
    not its level: ~3e8 at sf0.1 (dy^2 sums ~2.7e18 < 2^63). ANSI mode
    turns any violation into a loud error, never a wrong answer; at
    corpus sizes where m*range(y) approaches 2^31.5 the deterministic
    fix is a first-pass max to pick a power-of-two pre-scale for the
    (already tiny) market table — a two-pass, still engine-exact
    contract. r = num / sqrt(dx2) / sqrt(dy2) from identical integers —
    identical doubles.

    Plan: the market table is a ~#days-row groupBy(day) aggregate,
    broadcast back onto the one shared doc exchange; then one per-doc
    hash aggregate. No second wide shuffle."""
    s = _series(spark, sf)
    cq = F.floor(F.col("value") * 100 + 0.5).cast("long")
    b = s.select("doc_id", "day", cq.alias("cq"))
    market = b.groupBy("day").agg(F.sum("cq").alias("y"))
    j = b.join(F.broadcast(market), "day")
    wd = Window.partitionBy("doc_id")
    j = (
        j.withColumn("m", F.count(F.lit(1)).over(wd))
        .withColumn("sx", F.sum("cq").over(wd))
        .withColumn("sy", F.sum("y").over(wd))
    )
    dx = F.col("m") * F.col("cq") - F.col("sx")
    dy = F.col("m") * F.col("y") - F.col("sy")
    agg = (
        j.select("doc_id", dx.alias("dx"), dy.alias("dy"), "m")
        .groupBy("doc_id")
        .agg(
            F.max("m").cast("long").alias("n_obs"),
            F.sum(F.col("dx") * F.col("dy")).alias("num"),
            F.sum(F.col("dx") * F.col("dx")).alias("dx2"),
            F.sum(F.col("dy") * F.col("dy")).alias("dy2"),
        )
    )
    r = F.when(
        (F.col("dx2") > 0) & (F.col("dy2") > 0),
        F.col("num").cast("double")
        / F.sqrt(F.col("dx2").cast("double"))
        / F.sqrt(F.col("dy2").cast("double")),
    )
    return agg.select("doc_id", "n_obs", r.alias("market_r"))


_MARKET_ORACLE = """
    WITH s AS ({series}),
    b AS (SELECT doc_id, day, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cq
          FROM s),
    mk AS (SELECT day, CAST(sum(cq) AS BIGINT) AS y FROM b GROUP BY day),
    j AS (SELECT b.doc_id, b.cq, mk.y,
                 count(*) OVER (PARTITION BY b.doc_id) AS m,
                 sum(b.cq) OVER (PARTITION BY b.doc_id) AS sx,
                 sum(mk.y) OVER (PARTITION BY b.doc_id) AS sy
          FROM b JOIN mk ON mk.day = b.day),
    d AS (SELECT doc_id, m,
                 m*cq - sx AS dx,
                 m*y - sy AS dy
          FROM j),
    a AS (SELECT doc_id, CAST(max(m) AS BIGINT) AS n_obs,
                 CAST(sum(dx * dy) AS BIGINT) AS num,
                 CAST(sum(dx * dx) AS BIGINT) AS dx2,
                 CAST(sum(dy * dy) AS BIGINT) AS dy2
          FROM d GROUP BY doc_id)
    SELECT doc_id, n_obs,
           CASE WHEN dx2 > 0 AND dy2 > 0 THEN
               CAST(num AS DOUBLE) / sqrt(CAST(dx2 AS DOUBLE))
                                   / sqrt(CAST(dy2 AS DOUBLE))
           END AS market_r
    FROM a
"""


def q_predict_plan(spark, sf):
    """The assembled chunked-inference loop of the reference's prediction
    path (pytorch/predict.py:498-531) as ONE map-only plan: nodata
    zero-mask short-circuit (498-507) -> end-padding compaction (173-215,
    W8) -> model forward through a deterministic seam -> response denorm
    (521-525) -> argmax class (527-528, C6 tie rule) -> -9999 scatter for
    masked pixels (530-531). The torch model is replaced by a literal
    integer linear scorer W[c][i] = ((c*7 + i*3) % 11) - 5 over
    micro-quantized components (the model seam carries the plumbing —
    batch shape, masking, padding, denorm, argmax — which is what Spark
    owns; swapping in a real predictor is a one-function change). The
    fixture has no nodata pixels, so vec_id % 7 == 0 vectors are zeroed
    as the synthetic nodata injection, exercising the mask path in both
    engines. Everything is exact int64; zero padding is a no-op for a
    linear model, so compaction reduces to position-reindexed weights
    over the nonzero components — the identical fold both engines spell.
    Map-only: no shuffle, no window, no UDF."""
    n_classes = 5
    emb = _read(spark, sf, "embeddings")
    xq = F.transform(
        "embedding",
        lambda x: F.when(
            F.col("vec_id") % 7 == 0, F.lit(0).cast("long")
        ).otherwise(F.floor(x.cast("double") * 1000000 + 0.5).cast("long")),
    )
    e = emb.select("vec_id", xq.alias("xq"))
    comp = F.filter("xq", lambda x: x != 0)
    e = e.select(
        "vec_id",
        comp.alias("comp"),
        F.size(comp).cast("long").alias("n_valid"),
    )
    def weigher(c):
        # closure factory: Spark introspects lambda arity, so the class
        # index must be closed over, not a default arg
        return lambda x, i: x * (F.pmod(F.lit(c * 7) + i * 3, F.lit(11)) - 5)

    scores = []
    for c in range(n_classes):
        weighted = F.transform("comp", weigher(c))
        raw = F.aggregate(
            weighted, F.lit(0).cast("long"), lambda acc, x: acc + x
        )
        scores.append((raw * (c + 1) + F.lit(1000 * c)).alias(f"_s{c}"))
    e = e.select("vec_id", "n_valid", *scores)
    arms = None
    for c in range(n_classes):
        cond = F.lit(True)
        for d in range(c + 1, n_classes):
            cond = cond & (F.col(f"_s{c}") >= F.col(f"_s{d}"))
        for d in range(c):
            cond = cond & (F.col(f"_s{c}") > F.col(f"_s{d}"))
        arms = (
            F.when(cond, F.lit(c)) if arms is None else arms.when(cond, F.lit(c))
        )
    cls = F.when(F.col("n_valid") == 0, F.lit(-9999)).otherwise(
        arms.otherwise(F.lit(-1))
    )
    top = F.when(
        F.col("n_valid") > 0,
        F.greatest(*[F.col(f"_s{c}") for c in range(n_classes)]),
    )
    return e.select(
        "vec_id",
        "n_valid",
        cls.cast("long").alias("cls"),
        top.cast("long").alias("top_score"),
    )


def _predict_plan_oracle_sql(n_classes: int = 5) -> str:
    score_cols = []
    for c in range(n_classes):
        score_cols.append(
            f"CAST(list_aggregate(list_transform(comp, "
            f"(x, i) -> x * ((({c * 7} + (i - 1) * 3) % 11) - 5)), 'sum') "
            f"* {c + 1} + {1000 * c} AS BIGINT) AS _s{c}"
        )
    arms = []
    for c in range(n_classes):
        conds = ["TRUE"]
        for d in range(c + 1, n_classes):
            conds.append(f"_s{c} >= _s{d}")
        for d in range(c):
            conds.append(f"_s{c} > _s{d}")
        arms.append(f"WHEN {' AND '.join(conds)} THEN {c}")
    top = "greatest(" + ", ".join(f"_s{c}" for c in range(n_classes)) + ")"
    return f"""
    WITH b AS (SELECT vec_id,
                      list_filter(
                        list_transform(embedding, x ->
                          CASE WHEN vec_id % 7 = 0 THEN CAST(0 AS BIGINT)
                               ELSE CAST(floor(CAST(x AS DOUBLE) * 1000000
                                                + 0.5) AS BIGINT) END),
                        x -> x <> 0) AS comp
               FROM embeddings),
    s AS (SELECT vec_id, CAST(len(comp) AS BIGINT) AS n_valid,
                 {", ".join(score_cols)}
          FROM b)
    SELECT vec_id, n_valid,
           CAST(CASE WHEN n_valid = 0 THEN -9999
                     ELSE (CASE {" ".join(arms)} ELSE -1 END) END
                AS BIGINT) AS cls,
           CASE WHEN n_valid > 0 THEN CAST({top} AS BIGINT) END AS top_score
    FROM s
"""


def q_runs_test(spark, sf):
    """Wald-Wolfowitz runs test per series — the classical randomness
    screen the diagnostics menu lacked (ACF measures linear dependence;
    runs detects ANY above/below-median clustering): dichotomize at the
    exact lower median (rank (n+1) DIV 2 over (cq, day) — the house
    percentile_disc rule), drop median-equal observations (the standard
    convention), count runs R in day order, and compare against the
    exact-integer-fed normal approximation mean = 1 + 2*n1*n2/n,
    var = 2*n1*n2*(2*n1*n2 - n)/(n^2*(n-1)). R, n1, n2 are exact int64;
    z derives by identical expressions, NULL when var = 0 (one-sided or
    constant series) or when one observation survives the drop (n1 + n2 =
    1, where var is 0/0) — both engines spell the NULL explicitly. One shared
    doc exchange: the median is a windowed CASE-max, runs a lag window."""
    s = _series(spark, sf)
    cq = F.floor(F.col("value") * 100 + 0.5).cast("long")
    b = s.select("doc_id", "day", cq.alias("cq"))
    wd = Window.partitionBy("doc_id")
    b = (
        b.withColumn("n_all", F.count(F.lit(1)).over(wd))
        .withColumn(
            "vr",
            F.row_number().over(wd.orderBy("cq", "day")),
        )
    )
    med = F.max(
        F.when(F.col("vr") == F.expr("(n_all + 1) DIV 2"), F.col("cq"))
    ).over(wd)
    b = b.withColumn("med", med).filter(F.col("cq") != F.col("med"))
    above = (F.col("cq") > F.col("med")).cast("int")
    wo = wd.orderBy("day")
    b = b.withColumn("ab", above).withColumn("prev", F.lag("ab").over(wo))
    agg = b.groupBy("doc_id").agg(
        F.sum("ab").cast("long").alias("n1"),
        F.sum(1 - F.col("ab")).cast("long").alias("n2"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("ab") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        ).cast("long").alias("runs"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    n = n1 + n2
    mean = F.lit(1.0) + 2.0 * n1 * n2 / n
    # one surviving observation (n = 1) has no variance: NULL, not 0/0
    var = F.when(
        n > 1, 2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n * n * (n - 1.0))
    )
    z = F.when(var > 0, (F.col("runs").cast("double") - mean) / F.sqrt(var))
    return agg.select(
        "doc_id",
        "n1",
        "n2",
        "runs",
        z.alias("z"),
        F.when(z.isNotNull(), (F.abs(z) > 1.96).cast("int")).alias(
            "non_random"
        ),
    )


_RUNS_ORACLE = """
    WITH s AS ({series}),
    b AS (SELECT doc_id, day,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cq,
                 count(*) OVER (PARTITION BY doc_id) AS n_all,
                 row_number() OVER (PARTITION BY doc_id
                     ORDER BY CAST(floor(value * 100 + 0.5) AS BIGINT), day)
                     AS vr
          FROM s),
    m AS (SELECT *,
                 max(CASE WHEN vr = (n_all + 1) // 2 THEN cq END)
                     OVER (PARTITION BY doc_id) AS med
          FROM b),
    f AS (SELECT doc_id, day,
                 CASE WHEN cq > med THEN 1 ELSE 0 END AS ab,
                 lag(CASE WHEN cq > med THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY day) AS prev
          FROM m WHERE cq <> med),
    a AS (SELECT doc_id,
                 CAST(sum(ab) AS BIGINT) AS n1,
                 CAST(sum(1 - ab) AS BIGINT) AS n2,
                 CAST(1 + sum(CASE WHEN prev IS NOT NULL AND ab <> prev
                                   THEN 1 ELSE 0 END) AS BIGINT) AS runs
          FROM f GROUP BY doc_id),
    z AS (SELECT *,
                 CASE WHEN n1 + n2 > 1
                       AND 2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + CAST(n2 AS DOUBLE)))
                           / ((n1 + CAST(n2 AS DOUBLE)) * (n1 + CAST(n2 AS DOUBLE))
                              * ((n1 + CAST(n2 AS DOUBLE)) - 1.0)) > 0
                      THEN (CAST(runs AS DOUBLE)
                            - (1.0 + 2.0 * n1 * n2 / (n1 + CAST(n2 AS DOUBLE))))
                           / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + CAST(n2 AS DOUBLE)))
                                  / ((n1 + CAST(n2 AS DOUBLE)) * (n1 + CAST(n2 AS DOUBLE))
                                     * ((n1 + CAST(n2 AS DOUBLE)) - 1.0)))
                      END AS z
          FROM a)
    SELECT doc_id, n1, n2, runs, z,
           CAST(CASE WHEN z IS NULL THEN NULL
                     WHEN abs(z) > 1.96 THEN 1 ELSE 0 END AS INTEGER)
               AS non_random
    FROM z
"""


def q_seasonal_mk(spark, sf):
    """Seasonal Mann-Kendall (Hirsch & Slack 1984, independence form) —
    the trend test actually used on seasonal environmental series (and on
    the engine's folded tiers): MK's S and tie-corrected 18*Var(S) are
    computed WITHIN each season (month-of-year by the engine's m30
    convention: (day DIV 30) % 12) and summed per doc; a monotone trend
    masked by seasonality in plain MK becomes visible, and an annual
    cycle cannot fake one. Seasons with < 2 observations drop from both
    sums (both engines spell the same rule). Implementation reuses the
    mann_kendall operator verbatim on series rows nested by a composite
    (doc, season) key —
    the sums stay exact int64; Z = (S-+1)/sqrt(var18/18.0) from identical
    integers."""
    from sits_classification_spark.operators.seriesmap import series_rows
    from sits_classification_spark.operators.stm import mann_kendall

    s = _series(spark, sf)
    sid = (F.col("doc_id") * 12 + F.expr("(day DIV 30) % 12")).alias("doc_id")
    per_season = mann_kendall(series_rows(s.select(sid, "day", "value")))
    agg = (
        per_season.withColumn("doc", F.expr("doc_id DIV 12"))
        .groupBy("doc")
        .agg(
            F.sum("n_obs").cast("long").alias("n_obs"),
            F.count(F.lit(1)).cast("long").alias("n_seasons"),
            F.sum("s_stat").cast("long").alias("s_stat"),
            F.sum("var18").cast("long").alias("var18"),
        )
    )
    z = (
        F.when(F.col("s_stat") > 0,
               (F.col("s_stat") - 1).cast("double")
               / F.sqrt(F.col("var18") / F.lit(18.0)))
        .when(F.col("s_stat") < 0,
              (F.col("s_stat") + 1).cast("double")
              / F.sqrt(F.col("var18") / F.lit(18.0)))
        .otherwise(F.lit(0.0))
    )
    return agg.select(
        F.col("doc").alias("doc_id"),
        "n_obs",
        "n_seasons",
        "s_stat",
        "var18",
        z.alias("z"),
        (F.abs(z) > 1.96).cast("int").alias("significant"),
    )


_SMK_ORACLE = """
    WITH s AS ({series}),
    b AS (SELECT doc_id, day,
                 (day // 30) % 12 AS season,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cq
          FROM s),
    pr AS (SELECT a.doc_id, a.season,
                  CAST(sum(CASE WHEN bb.cq > a.cq THEN 1
                                WHEN bb.cq < a.cq THEN -1 ELSE 0 END)
                       AS BIGINT) AS s_g
           FROM b a JOIN b bb
             ON bb.doc_id = a.doc_id AND bb.season = a.season
             AND bb.day > a.day
           GROUP BY a.doc_id, a.season),
    nn AS (SELECT doc_id, season, CAST(count(*) AS BIGINT) AS n_g FROM b
           GROUP BY doc_id, season),
    tg AS (SELECT doc_id, season, cq, count(*) AS t FROM b
           GROUP BY doc_id, season, cq),
    tt AS (SELECT doc_id, season,
                  CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_g
           FROM tg GROUP BY doc_id, season),
    g AS (SELECT nn.doc_id, nn.season, nn.n_g,
                 coalesce(pr.s_g, 0) AS s_g,
                 CAST(nn.n_g * (nn.n_g - 1) * (2 * nn.n_g + 5)
                      - tt.tie_g AS BIGINT) AS var18_g
          FROM nn JOIN tt ON tt.doc_id = nn.doc_id AND tt.season = nn.season
          LEFT JOIN pr ON pr.doc_id = nn.doc_id AND pr.season = nn.season
          WHERE nn.n_g >= 2),
    a AS (SELECT doc_id,
                 CAST(sum(n_g) AS BIGINT) AS n_obs,
                 CAST(count(*) AS BIGINT) AS n_seasons,
                 CAST(sum(s_g) AS BIGINT) AS s_stat,
                 CAST(sum(var18_g) AS BIGINT) AS var18
          FROM g GROUP BY doc_id),
    z AS (SELECT *,
                 CASE WHEN s_stat > 0 THEN
                        CAST(s_stat - 1 AS DOUBLE) / sqrt(var18 / 18.0)
                      WHEN s_stat < 0 THEN
                        CAST(s_stat + 1 AS DOUBLE) / sqrt(var18 / 18.0)
                      ELSE 0.0 END AS z
          FROM a)
    SELECT doc_id, n_obs, n_seasons, s_stat, var18, z,
           CAST(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END AS INTEGER)
               AS significant
    FROM z
"""


def q_pettitt(spark, sf):
    """Pettitt change-point test (Pettitt 1979) per series — the canonical
    nonparametric SINGLE-changepoint locator, completing the break-
    detection triad (CUSUM flags drift, regime_segments labels the path,
    Pettitt pinpoints and tests the split): U_t = sum_{i<=t, j>t}
    sgn(x_j - x_i), K = max_t |U_t|, change point = the day at the
    smallest t attaining K. Computed via the exact recurrence
    U_t = U_{t-1} + W_t with W_t = sum_{j != t} sgn(x_j - x_t) — one
    O(n^2) row-sign pass + a prefix sum, all int64 over cent-quantized
    values. Significance: the standard approximation p = 2 exp(-6K^2 /
    (n^3 + n^2)) < 0.05 becomes the integer-fed comparison
    6.0*K^2/(n^3+n^2) > 3.6888794541139363 (= ln 40, a shared literal).
    Plan: nested once by series_rows (as theil_sen), the signs and the
    prefix sums JVM-side inside each series row, no self-join."""
    from sits_classification_spark.operators.seriesmap import series_rows

    cq = F.transform("values", lambda v: F.floor(v * 100 + 0.5).cast("long"))
    g = series_rows(_series(spark, sf)).select("doc_id", "days", cq.alias("cq"))
    w_arr = F.transform(
        "cq",
        lambda x: F.aggregate(
            "cq",
            F.lit(0).cast("long"),
            lambda acc, y: acc + F.signum((y - x).cast("double")).cast("long"),
        ),
    )
    g = g.select("doc_id", "days", F.size("cq").alias("n"), w_arr.alias("w"))
    # U_t = prefix sum of w over t = 1..n-1 (the full-series sum is 0 by
    # antisymmetry, so t = n is excluded by construction)
    u_arr = F.transform(
        F.sequence(F.lit(1), F.col("n") - 1),
        lambda t: F.aggregate(
            F.slice("w", F.lit(1), t),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    g = g.filter(F.col("n") >= 2).select(
        "doc_id", "days", "n", u_arr.alias("u")
    )
    k_stat = F.array_max(F.transform("u", F.abs))
    g = g.select("doc_id", "days", "n", "u", k_stat.alias("k_stat"))
    # smallest t with |U_t| = K (1-based); array_position finds the first
    change_t = F.array_position(
        F.transform("u", lambda x: F.abs(x) == F.col("k_stat")), True
    ).cast("int")
    g = g.select("doc_id", "days", "n", "k_stat", change_t.alias("ct"))
    change_day = F.element_at("days", F.col("ct")).cast("long")
    n = F.col("n").cast("double")
    stat = (
        F.lit(6.0)
        * (F.col("k_stat") * F.col("k_stat")).cast("double")
        / (n * n * n + n * n)
    )
    return g.select(
        "doc_id",
        F.col("n").cast("long").alias("n_obs"),
        F.col("k_stat").cast("long").alias("k_stat"),
        change_day.alias("change_day"),
        (stat > 3.6888794541139363).cast("int").alias("significant"),
    )


_PETTITT_ORACLE = """
    WITH s AS ({series}),
    b AS (SELECT doc_id, day,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cq,
                 row_number() OVER (PARTITION BY doc_id ORDER BY day) AS t,
                 count(*) OVER (PARTITION BY doc_id) AS n
          FROM s),
    w AS (SELECT a.doc_id, a.t, a.day, a.n,
                 CAST(sum(CASE WHEN bb.cq > a.cq THEN 1
                               WHEN bb.cq < a.cq THEN -1 ELSE 0 END)
                      AS BIGINT) AS w
          FROM b a JOIN b bb ON bb.doc_id = a.doc_id AND bb.t <> a.t
          GROUP BY a.doc_id, a.t, a.day, a.n),
    u AS (SELECT doc_id, t, day, n,
                 sum(w) OVER (PARTITION BY doc_id ORDER BY t) AS u
          FROM w),
    k AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n_obs,
                 CAST(max(abs(u)) AS BIGINT) AS k_stat
          FROM u WHERE t < n GROUP BY doc_id),
    c AS (SELECT u.doc_id, min(u.t) AS ct
          FROM u JOIN k ON k.doc_id = u.doc_id
          WHERE u.t < u.n AND abs(u.u) = k.k_stat
          GROUP BY u.doc_id)
    SELECT k.doc_id, k.n_obs, k.k_stat,
           CAST(max(b.day) AS BIGINT) AS change_day,
           CAST(CASE WHEN 6.0 * CAST(k.k_stat * k.k_stat AS DOUBLE)
                          / (CAST(k.n_obs AS DOUBLE) * k.n_obs * k.n_obs
                             + CAST(k.n_obs AS DOUBLE) * k.n_obs)
                          > 3.6888794541139363
                     THEN 1 ELSE 0 END AS INTEGER) AS significant
    FROM k
    JOIN c ON c.doc_id = k.doc_id
    JOIN b ON b.doc_id = k.doc_id AND b.t = c.ct
    GROUP BY k.doc_id, k.n_obs, k.k_stat
"""


def q_ljung_box(spark, sf):
    """Ljung-Box portmanteau white-noise test at m=3 lags per series:
    Q = n(n+2) * sum_k r_k^2/(n-k), flagged against the chi-square 95%
    critical value at 3 df (7.814728, a shared literal). The r_k inputs
    are bit-identical across engines (q_acf), and Q is derived by the
    identical expression tree — bit-identical doubles, integer flag.
    A constant series (zero variance) or n <= 3 yields NULL r_k, NULL Q,
    and a NULL flag — the oracle spells the same NULL propagation
    explicitly so the contract holds on degenerate inputs too."""
    a = q_acf(spark, sf)
    n = F.col("n").cast("double")
    q = (
        n
        * (n + F.lit(2.0))
        * (
            F.col("r1") * F.col("r1") / (n - F.lit(1.0))
            + F.col("r2") * F.col("r2") / (n - F.lit(2.0))
            + F.col("r3") * F.col("r3") / (n - F.lit(3.0))
        )
    )
    return a.select(
        "doc_id",
        "n",
        q.alias("q_stat"),
        (q > 7.814728).cast("int").alias("not_white_noise"),
    )


_LB_ORACLE = """
    WITH a AS ({acf}),
    q AS (SELECT doc_id, n,
                 CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
                   * (r1*r1 / (CAST(n AS DOUBLE) - 1.0)
                      + r2*r2 / (CAST(n AS DOUBLE) - 2.0)
                      + r3*r3 / (CAST(n AS DOUBLE) - 3.0)) AS q_stat
          FROM a)
    SELECT doc_id, n, q_stat,
           CAST(CASE WHEN q_stat IS NULL THEN NULL
                     WHEN q_stat > 7.814728 THEN 1 ELSE 0 END AS INTEGER)
               AS not_white_noise
    FROM q
"""


def q_mann_kendall(spark, sf):
    """Mann-Kendall monotone-trend test per series — the nonparametric
    partner of theil_sen (Sen slope + MK test is the standard pairing in
    the SITS change literature). S and the tie-corrected 18*Var(S) are
    exact int64 over cent-quantized values; Z and the 95% flag derive
    from those integers by identical expressions both engines."""
    from sits_classification_spark.operators.seriesmap import series_rows
    from sits_classification_spark.operators.stm import mann_kendall

    return mann_kendall(series_rows(_series(spark, sf)))


_MK_ORACLE = """
    WITH s AS ({series}),
    b AS (SELECT doc_id, day, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cq
          FROM s),
    pr AS (SELECT a.doc_id,
                  CAST(sum(CASE WHEN bb.cq > a.cq THEN 1
                                WHEN bb.cq < a.cq THEN -1 ELSE 0 END)
                       AS BIGINT) AS s_stat
           FROM b a JOIN b bb ON bb.doc_id = a.doc_id AND bb.day > a.day
           GROUP BY a.doc_id),
    nn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_obs FROM b
           GROUP BY doc_id),
    tg AS (SELECT doc_id, cq, count(*) AS t FROM b GROUP BY doc_id, cq),
    tt AS (SELECT doc_id,
                  CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
           FROM tg GROUP BY doc_id),
    j AS (SELECT nn.doc_id, nn.n_obs,
                 coalesce(pr.s_stat, 0) AS s_stat,
                 CAST(nn.n_obs * (nn.n_obs - 1) * (2 * nn.n_obs + 5)
                      - tt.tie_term AS BIGINT) AS var18
          FROM nn JOIN tt ON tt.doc_id = nn.doc_id
          LEFT JOIN pr ON pr.doc_id = nn.doc_id
          WHERE nn.n_obs >= 2),
    z AS (SELECT *,
                 CASE WHEN s_stat > 0 THEN
                        CAST(s_stat - 1 AS DOUBLE) / sqrt(var18 / 18.0)
                      WHEN s_stat < 0 THEN
                        CAST(s_stat + 1 AS DOUBLE) / sqrt(var18 / 18.0)
                      ELSE 0.0 END AS z
          FROM j)
    SELECT doc_id, n_obs, s_stat, var18, z,
           CAST(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END AS INTEGER)
               AS significant
    FROM z
"""


def q_pacf(spark, sf):
    """Per-series partial autocorrelation at lags 1..3 via Durbin-Levinson
    on the engine-exact ACF: phi11 = r1; phi22 = (r2 - r1^2)/(1 - r1^2);
    phi33 = (r3 - a21*r2 - phi22*r1)/(1 - a21*r1 - phi22*r2) with
    a21 = r1*(1 - phi22). The r_k inputs are bit-identical across engines
    (q_acf's n-scaled int64 sums), and the D-L recurrences are spelled as
    the SAME expression tree in both engines, so every derived double is
    bit-identical too — no quantization at the boundary. Adds nothing to
    the plan: the same single-exchange aggregate as q_acf plus scalar
    arithmetic in the final project."""
    a = q_acf(spark, sf)
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    phi2 = (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)
    a21 = r1 * (F.lit(1.0) - phi2)
    phi3 = (r3 - a21 * r2 - phi2 * r1) / (
        F.lit(1.0) - a21 * r1 - phi2 * r2
    )
    return a.select(
        "doc_id",
        "n",
        r1.alias("phi1"),
        phi2.alias("phi2"),
        phi3.alias("phi3"),
    )


_PACF_ORACLE = """
    WITH a AS ({acf}),
    d AS (SELECT doc_id, n, r1, r2, r3,
                 (r2 - r1*r1) / (1.0 - r1*r1) AS phi2
          FROM a),
    e AS (SELECT *, r1 * (1.0 - phi2) AS a21 FROM d)
    SELECT doc_id, n,
           r1 AS phi1,
           phi2,
           (r3 - a21*r2 - phi2*r1) / (1.0 - a21*r1 - phi2*r2) AS phi3
    FROM e
"""


def q_fold_ohlc(spark, sf):
    """OHLC monthly fold — the candlestick flavor of the A2 fold menu:
    per (series, month) the first/last values by day plus min/max.
    Open/close use min_by/max_by with the (day, value) struct so
    duplicate-day ties (already deduped upstream, but contractually) and
    engine argmin ties are pinned by the full ordering key."""
    s = _series(spark, sf)
    month = F.expr("CAST(day DIV 30 AS BIGINT)")
    return (
        s.groupBy("doc_id", month.alias("m30"))
        .agg(
            F.min(F.struct("day", "value")).alias("_o"),
            F.max(F.struct("day", "value")).alias("_c"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
        .select(
            "doc_id",
            "m30",
            F.col("_o.value").alias("open"),
            "high",
            "low",
            F.col("_c.value").alias("close"),
            "n_obs",
        )
    )


_OHLC_ORACLE = """
    WITH s0 AS ({series})
    SELECT doc_id, CAST(day // 30 AS BIGINT) AS m30,
           arg_min(value, day) AS open,
           max(value) AS high, min(value) AS low,
           arg_max(value, day) AS close,
           CAST(count(*) AS BIGINT) AS n_obs
    FROM s0 GROUP BY 1, 2
"""


def q_mad_outliers(spark, sf):
    """Robust per-series anomaly screen: median + MAD (median absolute
    deviation), flagging |v - median| > 3σ with σ = 1.4826·MAD (the
    normal-consistency constant; Hampel's rule). Medians are exact and
    all-integer — value quantizes to hundredths and both medians carry as
    lower+upper mid-rank SUMS (med200 = 200·median, mad2x = 400·MAD), so
    the only float op is the single threshold multiply, identical text in
    the oracle. Two rank windows + two aggregates, all riding the one
    doc_id exchange. Output: per-series medians and the outlier count."""
    s = _series(spark, sf)
    wd = Window.partitionBy("doc_id")
    r = (
        s.withColumn("vq", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .withColumn("rn", F.row_number().over(wd.orderBy("vq", "day")))
        .withColumn("n", F.count(F.lit(1)).over(wd))
    )
    lo, hi = F.expr("(n + 1) DIV 2"), F.expr("(n + 2) DIV 2")
    med = r.groupBy("doc_id").agg(
        (
            F.sum(F.when(F.col("rn") == lo, F.col("vq")).otherwise(0))
            + F.sum(F.when(F.col("rn") == hi, F.col("vq")).otherwise(0))
        ).alias("med200"),
        F.max("n").cast("long").alias("n_obs"),
    )
    d = (
        r.join(med, "doc_id")
        .withColumn("dev200", F.abs(2 * F.col("vq") - F.col("med200")))
        .withColumn("drn", F.row_number().over(wd.orderBy("dev200", "day")))
    )
    mad = d.groupBy("doc_id").agg(
        (
            F.sum(F.when(F.col("drn") == lo, F.col("dev200")).otherwise(0))
            + F.sum(F.when(F.col("drn") == hi, F.col("dev200")).otherwise(0))
        ).alias("mad2x"),
    )
    out = (
        d.join(mad, "doc_id")
        .withColumn(
            "is_out",
            (
                F.col("dev200").cast("double")
                > F.lit(3 * 1.4826 / 2.0) * F.col("mad2x")
            ).cast("int"),
        )
        .groupBy("doc_id")
        .agg(
            F.max("med200").alias("med200"),
            F.max("mad2x").alias("mad2x"),
            F.max("n").cast("long").alias("n_obs"),
            F.sum("is_out").cast("long").alias("n_outliers"),
        )
    )
    return out


_MAD_C = 3 * 1.4826 / 2.0

_MAD_ORACLE = f"""
    WITH s0 AS ({{series}}),
    r AS (SELECT doc_id, day, value,
                 CAST(floor(value*100 + 0.5) AS BIGINT) AS vq,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY CAST(floor(value*100 + 0.5)
                                                  AS BIGINT), day) AS rn,
                 count(*) OVER (PARTITION BY doc_id) AS n
          FROM s0),
    med AS (SELECT doc_id,
                   CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN vq ELSE 0 END)
                        + sum(CASE WHEN rn = (n + 2) // 2 THEN vq ELSE 0 END)
                        AS BIGINT) AS med200,
                   CAST(max(n) AS BIGINT) AS n_obs
            FROM r GROUP BY doc_id),
    d AS (SELECT r.doc_id, r.n, abs(2*r.vq - med.med200) AS dev200,
                 row_number() OVER (PARTITION BY r.doc_id
                                    ORDER BY abs(2*r.vq - med.med200),
                                             r.day) AS drn
          FROM r JOIN med USING (doc_id)),
    mad AS (SELECT doc_id,
                   CAST(sum(CASE WHEN drn = (n + 1) // 2 THEN dev200 ELSE 0 END)
                        + sum(CASE WHEN drn = (n + 2) // 2 THEN dev200 ELSE 0 END)
                        AS BIGINT) AS mad2x
            FROM d GROUP BY doc_id)
    SELECT d.doc_id, max(med.med200) AS med200, max(mad.mad2x) AS mad2x,
           max(med.n_obs) AS n_obs,
           CAST(sum(CASE WHEN CAST(dev200 AS DOUBLE) > {_MAD_C!r} * mad.mad2x
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM d JOIN med USING (doc_id) JOIN mad USING (doc_id)
    GROUP BY d.doc_id
"""


def q_ewma_level(spark, sf):
    """Simple exponential smoothing (Brown 1956 SES; alpha=0.5) — the final
    smoothed level per series via the closed weighted form
    s_T = (1-a)^(T-1)·x_1 + sum_{t=2..T} a·(1-a)^(T-t)·x_t, initialized at
    the first observation. alpha = 0.5, so every coefficient is an EXACT
    power of two built by integer shift + one double division — libm pow
    never runs (an alpha=0.3 draft lost 1 row in 150 to a cross-engine
    pow ulp on a floor boundary). Each weighted term quantizes to integer
    micro-units BEFORE the per-doc int64 sum (the unigram_logprob
    pattern), so the result is engine-exact and aggregation-order-proof.
    Pure windows + one hash aggregate on the doc exchange."""
    s = _series(spark, sf)
    wd = Window.partitionBy("doc_id")
    w = wd.orderBy("day")
    r = (
        s.withColumn("t", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wd))
    )
    k = F.when(F.col("t") == 1, F.col("n") - 1).otherwise(
        F.col("n") - F.col("t") + 1
    )
    coef = F.when(k >= 62, F.lit(0.0)).otherwise(
        F.lit(1.0)
        / F.expr("shiftleft(CAST(1 AS BIGINT), CAST(CASE WHEN t = 1 "
                 "THEN n - 1 ELSE n - t + 1 END AS INT))")
    )
    term = F.floor(coef * F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    return r.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("n_obs"),
        F.sum(term).cast("long").alias("ewma_e6"),
    )


_EWMA_ORACLE = """
    WITH s0 AS ({series}),
    r AS (SELECT doc_id, day, value,
                 row_number() OVER (PARTITION BY doc_id ORDER BY day) AS t,
                 count(*) OVER (PARTITION BY doc_id) AS n
          FROM s0)
    SELECT doc_id, CAST(max(n) AS BIGINT) AS n_obs,
           CAST(sum(CAST(floor(
               (CASE WHEN (CASE WHEN t = 1 THEN n - 1 ELSE n - t + 1 END) >= 62
                     THEN 0.0
                     ELSE 1.0 / (CAST(1 AS BIGINT) <<
                          (CASE WHEN t = 1 THEN n - 1 ELSE n - t + 1 END)) END)
               * value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS ewma_e6
    FROM r GROUP BY doc_id
"""


def q_holt_level_trend(spark, sf):
    """Holt's linear-trend double exponential smoothing (Holt 1957,
    alpha = beta = 1/2) per series — a genuinely SEQUENTIAL recurrence
    run as a JVM-side array fold over each series row, nested once by
    series_rows on the shared doc exchange (no UDF, no per-step shuffle;
    operators/stm.holt_linear). The DuckDB oracle
    replays the recurrence step-for-step with a RECURSIVE CTE spelling
    the identical expression tree; alpha = 1/2 keeps every op an add or
    an exact halving, so no libm call can diverge and the quantized
    outputs match bit-for-bit."""
    from sits_classification_spark.operators.seriesmap import series_rows
    from sits_classification_spark.operators.stm import holt_linear

    out = holt_linear(series_rows(_series(spark, sf)))

    def q6(c):
        return F.floor(F.col(c) * 1000000 + F.lit(0.5)).cast("long")

    return out.select(
        "doc_id",
        "n_obs",
        q6("level").alias("level_e6"),
        q6("trend").alias("trend_e6"),
        q6("forecast").alias("forecast_e6"),
    )


_HOLT_ORACLE = """
    WITH RECURSIVE s0 AS ({series}),
    r AS (SELECT doc_id, day, value,
                 row_number() OVER (PARTITION BY doc_id ORDER BY day) AS t,
                 count(*) OVER (PARTITION BY doc_id) AS n
          FROM s0),
    h AS (
        SELECT r2.doc_id, CAST(2 AS BIGINT) AS t, r2.n,
               r2.value AS l, r2.value - r1.value AS b
        FROM r r2 JOIN r r1 ON r1.doc_id = r2.doc_id AND r1.t = 1
        WHERE r2.t = 2
        UNION ALL
        SELECT r.doc_id, CAST(r.t AS BIGINT) AS t, r.n,
               0.5*r.value + 0.5*(h.l + h.b) AS l,
               0.5*((0.5*r.value + 0.5*(h.l + h.b)) - h.l) + 0.5*h.b AS b
        FROM h JOIN r ON r.doc_id = h.doc_id AND r.t = h.t + 1
    ),
    fin AS (
        SELECT doc_id, n, l, b FROM h WHERE t = n
        UNION ALL
        SELECT doc_id, n, value AS l, 0.0 AS b FROM r WHERE n = 1
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_obs,
           CAST(floor(l * 1000000 + 0.5) AS BIGINT) AS level_e6,
           CAST(floor(b * 1000000 + 0.5) AS BIGINT) AS trend_e6,
           CAST(floor((l + b) * 1000000 + 0.5) AS BIGINT) AS forecast_e6
    FROM fin
"""


def q_theil_sen(spark, sf):
    """Theil–Sen robust trend per series (median of pairwise slopes +
    Conover intercept; operators/stm.theil_sen). Pair slopes are
    generated JVM-side inside each series row, nested once by series_rows
    (no self-join shuffle);
    the oracle generates them by self-join and picks the same LOWER
    median by row_number — slope doubles are one subtraction each side
    of one division, identical cross-engine."""
    from sits_classification_spark.operators.seriesmap import series_rows
    from sits_classification_spark.operators.stm import theil_sen

    out = theil_sen(series_rows(_series(spark, sf)))

    def q6(c):
        return F.floor(F.col(c) * 1000000 + F.lit(0.5)).cast("long")

    return out.select(
        "doc_id",
        "n_obs",
        "n_pairs",
        q6("slope").alias("slope_e6"),
        q6("intercept").alias("intercept_e6"),
    )


_THEIL_ORACLE = """
    WITH s0 AS ({series}),
    r AS (SELECT doc_id, day, value,
                 row_number() OVER (PARTITION BY doc_id ORDER BY day) AS t,
                 count(*) OVER (PARTITION BY doc_id) AS n
          FROM s0),
    sl AS (SELECT a.doc_id, a.n,
                  (b.value - a.value) / (CAST(b.day AS DOUBLE) - CAST(a.day AS DOUBLE)) AS s
           FROM r a JOIN r b ON a.doc_id = b.doc_id AND a.t < b.t),
    sr AS (SELECT doc_id, n, s,
                  row_number() OVER (PARTITION BY doc_id ORDER BY s) AS rk,
                  count(*) OVER (PARTITION BY doc_id) AS m
           FROM sl),
    med AS (SELECT doc_id, max(n) AS n, max(m) AS m,
                   max(CASE WHEN rk = (m + 1) // 2 THEN s END) AS slope
            FROM sr GROUP BY doc_id),
    res AS (SELECT r.doc_id,
                   r.value - med.slope * CAST(r.day AS DOUBLE) AS e,
                   row_number() OVER (PARTITION BY r.doc_id ORDER BY
                       r.value - med.slope * CAST(r.day AS DOUBLE)) AS rk,
                   med.n
            FROM r JOIN med ON r.doc_id = med.doc_id),
    icp AS (SELECT doc_id, max(CASE WHEN rk = (n + 1) // 2 THEN e END) AS icept
            FROM res GROUP BY doc_id)
    SELECT med.doc_id, CAST(med.n AS BIGINT) AS n_obs,
           CAST(med.m AS BIGINT) AS n_pairs,
           CAST(floor(med.slope * 1000000 + 0.5) AS BIGINT) AS slope_e6,
           CAST(floor(icp.icept * 1000000 + 0.5) AS BIGINT) AS intercept_e6
    FROM med JOIN icp ON med.doc_id = icp.doc_id
    WHERE med.n >= 2
"""


def q_seasonal_decompose(spark, sf):
    """Classical weekly seasonal decomposition (centered-MA trend +
    per-weekday indices) of every series; all-integer detrending makes the
    indices engine-exact — see operators/decompose.py."""
    from sits_classification_spark.operators.decompose import (
        seasonal_decompose_weekday,
    )

    return seasonal_decompose_weekday(_series(spark, sf))


_SEASONAL_ORACLE = f"""
    WITH s0 AS ({{series}}),
    b AS (SELECT doc_id, min(day) AS lo, max(day) AS hi FROM s0 GROUP BY 1),
    grid AS (SELECT doc_id, unnest(generate_series(lo, hi, 1)) AS day,
                    CAST(NULL AS DOUBLE) AS value, 1 AS is_grid
             FROM b),
    obs AS (SELECT doc_id, day, value, 0 AS is_grid FROM s0),
    uni AS (SELECT * FROM obs UNION ALL SELECT * FROM grid),
    fl AS (SELECT doc_id, day, is_grid,
                  last_value(value IGNORE NULLS) OVER (
                      PARTITION BY doc_id ORDER BY day, is_grid
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS locf
           FROM uni),
    daily AS (SELECT doc_id, day,
                     CAST(floor(locf*100 + 0.5) AS BIGINT) AS vq
              FROM fl WHERE is_grid = 1),
    tw AS (SELECT doc_id, day, vq,
                  sum(vq) OVER w7 AS ts7, count(*) OVER w7 AS n7
           FROM daily
           WINDOW w7 AS (PARTITION BY doc_id ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (SELECT doc_id, CAST((day + 4) % 7 AS INTEGER) AS weekday,
                   7*vq - ts7 AS det700
            FROM tw WHERE n7 = 7),
    idx AS (SELECT doc_id, weekday,
                   CAST(count(*) AS BIGINT) AS n_days,
                   sum(det700) AS sd700
            FROM det GROUP BY 1, 2),
    se AS (SELECT doc_id, weekday, n_days,
                  CAST(floor(CAST(sd700 AS DOUBLE) / (700.0 * n_days)
                             * 1000000 + 0.5) AS BIGINT) AS s_e6
           FROM idx)
    SELECT doc_id, weekday, n_days, s_e6,
           s_e6 - CAST(floor(CAST(sum(s_e6) OVER (PARTITION BY doc_id)
                                  AS DOUBLE)
                             / count(*) OVER (PARTITION BY doc_id))
                       AS BIGINT) AS adj_e6
    FROM se
"""


def q_regime_segments(spark, sf):
    """Kleinberg-automaton-style regime segmentation (2-state Viterbi,
    integer L1 costs to per-series quartile levels, switch penalty =
    interquartile spread): decode each series into LOW/HIGH regimes with
    pinned tie rules — the path-labelling complement of the CUSUM break
    screen. Output the decoded path string, HIGH-step count, and total
    cost. The oracle replays the identical integer DP as a recursive CTE
    carrying (v0, v1, path0, path1) per doc."""
    from sits_classification_spark.operators.burst import regime_segments
    from sits_classification_spark.operators.seriesmap import series_rows

    return regime_segments(series_rows(_series(spark, sf)))


def q_twdtw_class(spark, sf):
    """TWDTW nearest-pattern classification (Maus 2016) — the canonical
    training-free SITS classifier the reference approximates with its
    transformer (`pytorch/predict.py`): per-doc time-weighted DTW distance
    to a 3-pattern phenology library with a linear day-of-year weight,
    asymmetric step pattern, open begin/end over the series, argmin label.
    All costs are int64 micro-units (value micro-quantization + integer DOY
    distance), so the DP is engine-exact; the oracle replays the identical
    row recurrence as a recursive CTE carrying one DP row per (doc,
    pattern)."""
    from sits_classification_spark.operators.dtw import twdtw_classify
    from sits_classification_spark.operators.seriesmap import series_rows

    return twdtw_classify(series_rows(_series(spark, sf)))


def q_lttb_points(spark, sf):
    """LTTB visual/archive downsample (Steinarsson 2013) of every series to
    12 shape-preserving points. The oracle unrolls the 10 sequential bucket
    selections as CTEs (the Lloyd-unroll pattern); the triangle-area argmax
    is compared through the count-scaled all-integer form, so selection is
    engine-exact with no float tie risk."""
    from sits_classification_spark.operators.downsample import lttb
    from sits_classification_spark.operators.seriesmap import series_rows

    return lttb(series_rows(_series(spark, sf)), n_out=12).select(
        "doc_id", F.col("day").cast("long").alias("day"), "value"
    )


def _lttb_oracle_sql(n_out: int = 12) -> str:
    nb = n_out - 2
    area = (
        "abs((p.day*x.cnt - x.st)*(c.vq - p.vq)"
        " - (p.day - c.day)*(x.svq - p.vq*x.cnt))"
    )
    sels = []
    for i in range(nb):
        prev = "firstp" if i == 0 else f"sel{i - 1}"
        sels.append(
            f"""sel{i} AS (SELECT doc_id, day, value, vq FROM (
            SELECT c.doc_id, c.day, c.value, c.vq,
                   row_number() OVER (PARTITION BY c.doc_id
                                      ORDER BY {area} DESC, c.day ASC) AS rk
            FROM cand c JOIN {prev} p USING (doc_id)
                        JOIN nx x ON x.doc_id = c.doc_id AND x.i = {i}
            WHERE c.b = {i}) WHERE rk = 1)"""
        )
    sel_union = " UNION ALL ".join(
        f"SELECT doc_id, day, value FROM sel{i}" for i in range(nb)
    )
    return f"""
        WITH s0 AS ({_SERIES_SQL}),
        s AS (SELECT doc_id, day, value,
                     CAST(floor(value*100 + 0.5) AS BIGINT) AS vq,
                     row_number() OVER (PARTITION BY doc_id ORDER BY day) AS rn,
                     count(*) OVER (PARTITION BY doc_id) AS n
              FROM s0),
        shortp AS (SELECT doc_id, day, value FROM s WHERE n <= {n_out}),
        firstp AS (SELECT doc_id, day, value, vq FROM s
                   WHERE n > {n_out} AND rn = 1),
        lastp AS (SELECT doc_id, day, value, vq FROM s
                  WHERE n > {n_out} AND rn = n),
        cand AS (SELECT doc_id, day, value, vq,
                        ((rn - 2) * {nb}) // (n - 2) AS b
                 FROM s WHERE n > {n_out} AND rn BETWEEN 2 AND n - 1),
        nav AS (SELECT doc_id, b, count(*) AS cnt,
                       sum(day) AS st, sum(vq) AS svq
                FROM cand GROUP BY 1, 2),
        nx AS (SELECT doc_id, b - 1 AS i, cnt, st, svq FROM nav WHERE b >= 1
               UNION ALL
               SELECT doc_id, {nb - 1} AS i, 1 AS cnt, day AS st, vq AS svq
               FROM lastp),
        {", ".join(sels)}
        SELECT doc_id, CAST(day AS BIGINT) AS day, value FROM shortp
        UNION ALL SELECT doc_id, CAST(day AS BIGINT), value FROM firstp
        UNION ALL {sel_union.replace("SELECT doc_id, day, value",
                                     "SELECT doc_id, CAST(day AS BIGINT), value")}
        UNION ALL SELECT doc_id, CAST(day AS BIGINT), value FROM lastp
    """


def q_pq_topk(spark, sf):
    """Product quantization ANN (Jégou et al. 2011): train m=8 subspace
    codebooks (ksub=64, 2 Lloyd iters — deterministic md5 seeds, quantized
    centroids; 8 bytes/vector, a 32x compression of the float32 corpus),
    encode the corpus map-only, and rank candidates for query vec 0 by
    Asymmetric Distance Computation through a per-query LUT join
    (recall@10 = 0.50 vs exact L2 on this unstructured synthetic corpus;
    corr(ADC, true distance) = 0.71). The oracle unrolls the SAME
    per-subspace k-means (prefixed kmassign CTEs over sliced vectors) and
    recomputes the ADC sum from its own centroid tables — codes AND
    distances are engine-exact by the shared quantization contract."""
    from sits_classification_spark.operators.clustering import (
        pq_adc_topk,
        pq_train,
    )

    e = _read(spark, sf, "embeddings")
    books = pq_train(e, dim=64, m=8, ksub=64, iters=2)
    q = e.filter(F.col("vec_id") == 0)
    out = pq_adc_topk(e, q, books, k=10)
    return out.select(
        "query_id",
        "vec_id",
        *[F.col(f"c{j}").cast("int").alias(f"c{j}") for j in range(8)],
        "adc_e6",
        F.col("rank").cast("long").alias("rank"),
    )


def q_stream_locf_equiv(spark, sf):
    """Streaming/batch LOCF-tier twin contract as a driver row: replay the
    deduped series in 3 day-ordered micro-batches through the stateful
    grid-filler (state = origin/next-due/last-value per series) and diff
    its emitted grid against the batch locf_3d window form — EXPECTED
    EMPTY. No arithmetic is involved (pure carry-forward), so the twin
    match is bit-exact; the oracle is the matching empty relation."""
    import tempfile

    from sits_classification_spark.streaming.rollup import streaming_locf_grid

    s = _series(spark, sf)
    batch = q_locf_3d(spark, sf).select(
        "doc_id", "grid_day", F.round("value", 6).alias("value")
    )

    stream_dir = os.path.join(tempfile.mkdtemp(prefix="locf_equiv_"), "src")
    rows = s.orderBy("day", "doc_id").collect()
    n = len(rows)
    for i in range(3):
        part = rows[i * n // 3 : (i + 1) * n // 3]
        spark.createDataFrame(
            part, schema="doc_id long, day long, value double"
        ).coalesce(1).write.mode("append" if i else "overwrite").parquet(
            stream_dir
        )
    stream = (
        spark.readStream.schema("doc_id long, day long, value double")
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(stream_dir)
    )
    q = (
        streaming_locf_grid(stream, step=3)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("locf_equiv_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("locf_equiv_stream").select(
        "doc_id", "grid_day", F.round("value", 6).alias("value")
    )
    return got.exceptAll(batch).unionAll(batch.exceptAll(got))


def q_semdedup(spark, sf):
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings, then
    within each cell drop the centroid-nearer member of every cosine >=
    0.40 pair (this synthetic corpus has no 0.95-cosine near-dups; max
    pairwise cosine is 0.51, so the paper default would be vacuous here) (quantized; deterministic per-pair domination contract). The
    oracle re-derives the identical unrolled k-means assignment
    (kmassign CTE) and mirrors the pair/loser logic."""
    from sits_classification_spark.operators.clustering import semdedup

    e = _read(spark, sf, "embeddings")
    return semdedup(e, k=8, iters=3, tau_e6=400_000).select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        "qdist",
        F.col("keep").cast("int").alias("keep"),
    )


def q_dsir_select(spark, sf):
    """DSIR (Xie et al. 2023): hashed unigram+bigram importance weights
    log(p_en / p_raw) with the English corpus as the target domain, then
    deterministic Gumbel top-10 selection per source (md5-uniform noise —
    importance RESAMPLING without RNG). Output: every doc's weight plus
    its picked flag; the per-source window keeps the rank partitioned."""
    from sits_classification_spark.operators.text import dsir_weights, word_hash60

    d = _read(spark, sf, "documents").withColumn(
        "is_target", F.col("lang") == "en"
    )
    wts = dsir_weights(d, target_col="is_target")
    u = (
        F.pmod(
            word_hash60(F.concat(F.lit("dsir:"), F.col("doc_id").cast("string"))),
            F.lit(1 << 50),
        )
        + F.lit(1)
    ) / F.lit(float((1 << 50) + 2))
    gkey = F.col("logw_e6") + F.floor(
        -F.log(-F.log(u)) * 1_000_000 + F.lit(0.5)
    ).cast("long")
    joined = wts.join(
        d.select("doc_id", "source"), "doc_id"
    ).withColumn("gkey_e6", gkey)
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.col("gkey_e6").desc(), F.col("doc_id").asc()
        )
    )
    return joined.withColumn("picked", (rn <= 10).cast("int")).select(
        "doc_id", "n_feats", "logw_e6", "gkey_e6", "source", "picked"
    )


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the monthly continuous-aggregate tier over sf0.001 events,
    via the engine's Catalyst fold path."""
    return q_fold_monthly(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tier_raw_dedup": q_tier_raw_dedup,
        "tier_10d_interp": q_tier_10d_interp,
        "locf_3d": q_locf_3d,
        "fold_monthly": q_fold_monthly,
        "fold_seasonal": q_fold_seasonal,
        "fold_weekly": q_fold_weekly,
        "fold_monthly_q50": q_fold_monthly_q50,
        "nocb_3d": q_nocb_3d,
        "stm_user": q_stm_user,
        "trend_user": q_trend_user,
        "trend_sig": q_trend_sig,
        "pol_phenology": q_pol_phenology,
        "argmax_class": q_argmax_class,
        "moving_avg_10d": q_moving_avg_10d,
        "asof_purchase": q_asof_purchase,
        "harmonic_user": q_harmonic_user,
        "harmonic_forecast": q_harmonic_forecast,
        "harmonic_nrt": q_harmonic_nrt,
        "nrt_break": q_nrt_break,
        "qai_screen": q_qai_screen,
        "stratified_points": q_stratified_points,
        "doy_window": q_doy_window,
        "cat_change": q_cat_change,
        "standardize_user": q_standardize_user,
        "rbf_smooth_user": q_rbf_smooth_user,
        "noise_residuals": q_noise_residuals,
        "noise_filter_iter": q_noise_filter_iter,
        "noise_restore": q_noise_restore,
        "class_weights": q_class_weights,
        "confusion_report": q_confusion_report,
        "overall_acc_kappa": q_overall_acc_kappa,
        "rmse_r2_persistence": q_rmse_r2_persistence,
        "asof_tolerance_7d": q_asof_tolerance_7d,
        "end_padding": q_end_padding,
        "screen_pipeline": q_screen_pipeline,
        "lsp_phenology": q_lsp_phenology,
        "lsp_phenometrics": q_lsp_phenometrics,
        "spl_phenology": q_spl_phenology,
        "harmonic_fit_m2": q_harmonic_fit_m2,
        "augment_zero_out": q_augment_zero_out,
        "positional_encoding": q_positional_encoding,
        "mosaic_last_wins": q_mosaic_last_wins,
        "spectral_index": q_spectral_index,
        "index_menu": q_index_menu,
        "index_menu_full": q_index_menu_full,
        "sma_fractions": q_sma_fractions,
        "sma_nnls": q_sma_nnls,
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "top3_orders_per_customer": q_top3_orders_per_customer,
        "part_supplier_margin": q_part_supplier_margin,
        "doc_exact_dedup": q_doc_exact_dedup,
        "doc_token_counts": q_doc_token_counts,
        "doc_quality": q_doc_quality,
        "doc_lang_id": q_doc_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "winnow_fingerprints": q_winnow_fingerprints,
        "minhash_sigs": q_minhash_sigs,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "minhash_accuracy": q_minhash_accuracy,
        "dedup_clusters": q_dedup_clusters,
        "corpus_clean": q_corpus_clean,
        "training_mix": q_training_mix,
        "simhash16": q_simhash16,
        "ngram_jaccard": q_ngram_jaccard,
        "cosine_topk": q_cosine_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "ann_recall": q_ann_recall,
        "ivf_topk": q_ivf_topk,
        "embedding_norms": q_embedding_norms,
        "kmeans_cells": q_kmeans_cells,
        "bm25_scores": q_bm25_scores,
        "stratified_split": q_stratified_split,
        "pack_chunks": q_pack_chunks,
        "chunk_plan": q_chunk_plan,
        "tfidf_top_terms": q_tfidf_top_terms,
        "unigram_logprob": q_unigram_logprob,
        "bigram_logprob": q_bigram_logprob,
        "char_entropy": q_char_entropy,
        "contamination": q_contamination,
        "contamination_bloom": q_contamination_bloom,
        "media_features": q_media_features,
        "media_decode": q_media_decode,
        "media_tif": q_media_tif,
        "laea_reproject": q_laea_reproject,
        "shapefile_roundtrip": q_shapefile_roundtrip,
        "semdedup": q_semdedup,
        "dsir_select": q_dsir_select,
        "stream_locf_equiv": q_stream_locf_equiv,
        "pq_topk": q_pq_topk,
        "lttb_points": q_lttb_points,
        "twdtw_class": q_twdtw_class,
        "regime_segments": q_regime_segments,
        "seasonal_decompose": q_seasonal_decompose,
        "ewma_level": q_ewma_level,
        "holt_level_trend": q_holt_level_trend,
        "theil_sen": q_theil_sen,
        "mad_outliers": q_mad_outliers,
        "fold_ohlc": q_fold_ohlc,
        "psi_drift": q_psi_drift,
        "acf": q_acf,
        "pacf": q_pacf,
        "mann_kendall": q_mann_kendall,
        "ljung_box": q_ljung_box,
        "market_corr": q_market_corr,
        "pettitt": q_pettitt,
        "seasonal_mk": q_seasonal_mk,
        "runs_test": q_runs_test,
        "predict_plan": q_predict_plan,
        "stream_fold_equiv": q_stream_fold_equiv,
        "stream_ohlc_equiv": q_stream_ohlc_equiv,
        "stream_cusum_equiv": q_stream_cusum_equiv,
        "media_frames": q_media_frames,
        "hash_sample": q_hash_sample,
        "session_stats": q_session_stats,
        "hll_distinct": q_hll_distinct,
        "repetition": q_repetition,
        "ngram_containment": q_ngram_containment,
        "pii_scrub": q_pii_scrub,
        "heavy_hitters": q_heavy_hitters,
        "cm_counts": q_cm_counts,
        "source_cap": q_source_cap,
        "length_quantiles": q_length_quantiles,
        "dup_spans": q_dup_spans,
        "cusum_breaks": q_cusum_breaks,
        "mixture_plan": q_mixture_plan,
        "mixture_sample": q_mixture_sample,
        "mixture_tokens": q_mixture_tokens,
        "dup_span_removal": q_dup_span_removal,
        "fixed_windows": q_fixed_windows,
        "cascade_monthly": q_cascade_monthly,
        "retention_monthly": q_retention_monthly,
        "gorilla_roundtrip": q_gorilla_roundtrip,
        "ann_lsh_topk": q_ann_lsh_topk,
    }


# shared SQL fragments -------------------------------------------------------

_WORDS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
_WH60 = "CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)"
_WH28 = "CAST('0x' || substr(md5(x), 1, 7) AS BIGINT)"
# word 3-gram shingle strings from a words list `w`
_SHINGLES3 = "list_transform(generate_series(1, len(w)-2), i -> array_to_string(w[i:i+2], ' '))"
# minhash base: distinct 28-bit-hashed 3-gram shingles; whole-doc fallback for short docs
_BASE28 = (
    f"CASE WHEN len(w) >= 3 THEN list_distinct(list_transform({_SHINGLES3}, "
    "s -> CAST('0x' || substr(md5(s), 1, 7) AS BIGINT))) "
    "ELSE [CAST('0x' || substr(md5(array_to_string(w, ' ')), 1, 7) AS BIGINT)] END"
)
_M31 = 2_147_483_647
_MH_PARAMS = [(3, 38), (5, 131), (7, 286), (9, 503)]  # _minhash_params(4)

# temperature-mixture plan (alpha=0.7, 40% doc budget) — weight rounded at 6
# BEFORE the integer target mapping so pow()'s last-ulp drift can't move a
# target count; shared by the mixture_plan and mixture_sample oracles
_MIXTURE_PLAN_SQL = """
    SELECT source, n_docs, weight,
           least(CAST(floor(weight * (CAST(0.4 AS DOUBLE) * CAST(total AS DOUBLE)) + 0.5) AS BIGINT),
                 n_docs) AS target_n,
           round(CAST(least(CAST(floor(weight * (CAST(0.4 AS DOUBLE) * CAST(total AS DOUBLE)) + 0.5) AS BIGINT),
                            n_docs) AS DOUBLE) / n_docs, 6) AS rate
    FROM (SELECT source, n_docs,
                 round(pow(CAST(n_docs AS DOUBLE), 0.7)
                       / sum(pow(CAST(n_docs AS DOUBLE), 0.7)) OVER (), 6) AS weight,
                 sum(n_docs) OVER () AS total
          FROM (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY source))
"""

_STOP_EN = "('the','and','of','to','a','in','is','that','it','for')"
_STOP_DE = "('der','die','das','und','ist','von','zu','den','mit','nicht')"
_STOP_FR = "('le','la','les','et','de','un','une','est','que','pour')"
_STOP_ES = "('el','la','los','las','y','de','que','es','un','en')"


def _interp_sql(step: int, value_expr: str, next_order: str = "day, is_grid") -> str:
    """next_order controls the forward window's tie-break: NOCB passes
    'day, is_grid DESC' so a grid row sees a coincident same-day obs in its
    forward frame (the backfill half of limit_direction='both')."""
    return f"""
    WITH series AS ({_SERIES_SQL}),
    bounds AS (SELECT doc_id, min(day) AS lo, max(day) AS hi FROM series GROUP BY doc_id),
    grid AS (SELECT doc_id, unnest(generate_series(lo, hi, {step})) AS day,
                    CAST(NULL AS DOUBLE) AS value, 1 AS is_grid FROM bounds),
    unioned AS (
        SELECT doc_id, day, value, 0 AS is_grid FROM series
        UNION ALL SELECT doc_id, day, value, is_grid FROM grid),
    filled AS (
        SELECT doc_id, day, is_grid,
            last_value(value IGNORE NULLS) OVER w_prev AS pv,
            last_value(CASE WHEN value IS NOT NULL THEN day END IGNORE NULLS) OVER w_prev AS pd,
            first_value(value IGNORE NULLS) OVER w_next AS nv,
            first_value(CASE WHEN value IS NOT NULL THEN day END IGNORE NULLS) OVER w_next AS nd
        FROM unioned
        WINDOW
          w_prev AS (PARTITION BY doc_id ORDER BY day, is_grid
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_next AS (PARTITION BY doc_id ORDER BY {next_order}
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT doc_id, day AS grid_day, {value_expr} AS value
    FROM filled WHERE is_grid = 1
    """


def _rbf_oracle_sql() -> str:
    from sits_classification_spark.operators.harmonic import rbf_radii

    radii = rbf_radii()
    nums, dens = [], []
    for s, r in radii.items():
        w = (
            f"CASE WHEN abs(b.day - a.day) <= {r!r} THEN "
            f"exp(-0.5 * ((b.day - a.day)/{s}.0)*((b.day - a.day)/{s}.0)) END"
        )
        nums.append(f"sum({w} * b.value)")
        dens.append(f"sum({w})")
    rmax = max(radii.values())
    return f"""
        WITH series AS ({_SERIES_SQL})
        SELECT a.doc_id, a.day,
               round(({' + '.join(nums)}) / ({' + '.join(dens)}), 5) AS smoothed
        FROM series a JOIN series b
          ON a.doc_id = b.doc_id AND abs(b.day - a.day) <= {rmax!r}
        GROUP BY a.doc_id, a.day
    """


def _harm2_oracle_sql() -> str:
    """DuckDB oracle for the 2-mode harmonic fit: 5x5 normal equations per
    doc over the shared event series."""
    basis = [
        "1",
        "cos(2*pi()*(day-19700)/30.0)",
        "sin(2*pi()*(day-19700)/30.0)",
        "cos(4*pi()*(day-19700)/30.0)",
        "sin(4*pi()*(day-19700)/30.0)",
    ]
    return _normal_eq_oracle_sql(basis, f"series AS ({_SERIES_SQL})", "series")


def _normal_eq_oracle_sql(
    basis: list[str],
    src_ctes: str,
    src_name: str,
    coef_round: int = 4,
    rmse_round: int = 5,
) -> str:
    """Generic least-squares SQL oracle: build the NxN normal equations per
    doc over `basis` (SQL exprs referencing columns of the `src_name` CTE;
    basis[0] must be the intercept '1'), solve by unrolled Gaussian
    elimination (SPD — no pivoting needed), then compute in-sample RMSE.
    The Spark side solves the same least-squares problem via numpy lstsq;
    both land on the unique minimizer of a well-conditioned system, so
    round(coef_round/rmse_round) absorbs the algorithmic difference."""
    N = len(basis)
    bas_cols = ", ".join(f"{b} AS f{i}" for i, b in enumerate(basis[1:], start=1))
    gram = []
    for i in range(N):
        for j in range(i, N):
            if i == 0 and j == 0:
                e = "count(*)*1.0"
            elif i == 0:
                e = f"sum(f{j})"
            else:
                e = f"sum(f{i}*f{j})"
            gram.append(f"{e} AS a{i}{j}")
    rhs = ["sum(value) AS b0"] + [f"sum(f{i}*value) AS b{i}" for i in range(1, N)]

    def nm(i: int, j: int) -> str:  # symmetric entry name in the g CTE
        return f"a{min(i, j)}{max(i, j)}"

    # forward elimination: stage k updates entries (i,j) with i,j > k;
    # pivot-row entries p{k}_{j} and pb{k} are finalized as they retire.
    cur = {(i, j): nm(i, j) for i in range(N) for j in range(N)}
    bcur = {i: f"b{i}" for i in range(N)}
    carried: list[str] = []  # finalized pivot column names, passed through
    ctes = []
    prev = "g"
    for k in range(N - 1):
        sel = ["doc_id", "n"]
        sel += carried
        for j in range(k, N):
            sel.append(f"{cur[(k, j)]} AS p{k}_{j}")
            carried.append(f"p{k}_{j}")
        sel.append(f"{bcur[k]} AS pb{k}")
        carried.append(f"pb{k}")
        nxt = {}
        bn = {}
        for i in range(k + 1, N):
            f = f"({cur[(i, k)]}/{cur[(k, k)]})"
            for j in range(i, N):
                nxt[(i, j)] = f"e{k}_{i}{j}"
                nxt[(j, i)] = f"e{k}_{i}{j}"
                sel.append(f"{cur[(i, j)]} - {f}*{cur[(k, j)]} AS e{k}_{i}{j}")
            bn[i] = f"eb{k}_{i}"
            sel.append(f"{bcur[i]} - {f}*{bcur[k]} AS eb{k}_{i}")
        ctes.append(f"e{k} AS (SELECT {', '.join(sel)} FROM {prev})")
        prev = f"e{k}"
        cur, bcur = nxt, bn
    last = N - 1
    # back substitution, textually inlined
    x = {last: f"({bcur[last]}/{cur[(last, last)]})"}
    for i in range(last - 1, -1, -1):
        terms = " - ".join(f"p{i}_{j}*{x[j]}" for j in range(i + 1, N))
        x[i] = f"((pb{i} - {terms})/p{i}_{i})"
    xsel = ", ".join(f"{x[i]} AS x{i}" for i in range(N))
    fitted = " + ".join(["x0"] + [f"x{i}*f{i}" for i in range(1, N)])
    csel = ", ".join(f"round(x{i}, {coef_round}) AS c{i}" for i in range(N))
    return f"""
        WITH {src_ctes},
        bas AS (SELECT doc_id, value, {bas_cols}
                FROM {src_name} WHERE value IS NOT NULL),
        g AS (SELECT doc_id, count(*) AS n, {', '.join(gram)}, {', '.join(rhs)}
              FROM bas GROUP BY doc_id HAVING count(*) >= {N}),
        {', '.join(ctes)},
        sol AS (SELECT doc_id, n, {xsel} FROM {prev}),
        res AS (SELECT s.doc_id, s.value - ({fitted}) AS resid
                FROM bas s JOIN sol USING (doc_id))
        SELECT sol.doc_id, {csel},
               round(sqrt(avg(resid*resid)), {rmse_round}) AS rmse,
               CAST(n AS BIGINT) AS n
        FROM sol JOIN res ON sol.doc_id = res.doc_id
        GROUP BY sol.doc_id, n, {', '.join(f'x{i}' for i in range(N))}
    """


_INTERP_RAW = (
    "CASE WHEN pd = day THEN pv "
    "WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv + (nv-pv)*(day-pd)/(nd-pd) "
    "WHEN pv IS NOT NULL THEN pv ELSE nv END"
)


def _lsp_oracle_sql() -> str:
    """Amplitude-threshold LSP over the (unrounded) 10-day interp tier.

    Mirrors operators/phenology.py:lsp_kernel: per (doc, year) with >=3 grid
    points and vmax > vmin, threshold = vmin + 0.5*(vmax-vmin); pos = first
    day of the max; sos = first day >= threshold (always <= pos since the
    max itself is above); eos = last day >= threshold; integral = trapezoid
    over [sos, eos]."""
    return f"""
        WITH t0 AS ({_interp_sql(10, _INTERP_RAW)}),
        t AS (SELECT doc_id,
                     year(DATE '1970-01-01' + INTERVAL (grid_day) DAY) AS year,
                     grid_day AS day, value
              FROM t0),
        st AS (SELECT doc_id, year, min(value) AS vmin, max(value) AS vmax,
                      count(*) AS n
               FROM t GROUP BY doc_id, year),
        ok AS (SELECT doc_id, year, vmin, vmax,
                      vmin + 0.5*(vmax - vmin) AS thresh
               FROM st WHERE n >= 3 AND vmax > vmin),
        marks AS (SELECT t.doc_id, t.year,
                         min(CASE WHEN value = vmax THEN day END) AS pos_day,
                         min(CASE WHEN value >= thresh THEN day END) AS sos_day,
                         max(CASE WHEN value >= thresh THEN day END) AS eos_day
                  FROM t JOIN ok USING (doc_id, year)
                  GROUP BY t.doc_id, t.year),
        pairs AS (SELECT doc_id, year, day, value,
                         lead(day) OVER w AS nd, lead(value) OVER w AS nv
                  FROM t
                  WINDOW w AS (PARTITION BY doc_id, year ORDER BY day)),
        integ AS (SELECT p.doc_id, p.year,
                         sum((p.value + p.nv)/2.0*(p.nd - p.day)) AS integral
                  FROM pairs p JOIN marks m USING (doc_id, year)
                  WHERE p.day >= m.sos_day AND p.nd <= m.eos_day
                  GROUP BY p.doc_id, p.year)
        SELECT ok.doc_id, CAST(ok.year AS BIGINT) AS year,
               m.sos_day, m.pos_day, m.eos_day,
               round(ok.vmax - ok.vmin, 6) AS amplitude,
               m.eos_day - m.sos_day AS season_length,
               round(coalesce(i.integral, 0.0), 4) AS integral
        FROM ok
        JOIN marks m USING (doc_id, year)
        LEFT JOIN integ i USING (doc_id, year)
    """


def _pheno_oracle_sql() -> str:
    """Extended phenometric menu over the 10-day interp tier.

    Mirrors operators/phenology.py:phenometrics_kernel exactly: the
    threshold marks (sos/pos/eos) are the lsp oracle's; dem/dlm are the
    first-occurrence argmin left/right of the peak (peak day inclusive);
    dri/dfi anchor to the START day of the steepest rising / steepest
    falling grid segment inside [dem,pos) / [pos,dlm); rows where the
    date ordering dem<=sos<pos<eos<=dlm fails are dropped (the kernel
    returns None).
    Slopes, base level, amplitude and rates are bit-identical arithmetic
    on the shared interp doubles; only the two trapezoid integrals carry
    sum-order noise, absorbed by round(...,4) as in the lsp oracle."""
    return f"""
        WITH t0 AS ({_interp_sql(3, _INTERP_RAW)}),
        t AS (SELECT doc_id,
                     year(DATE '1970-01-01' + INTERVAL (grid_day) DAY) AS year,
                     grid_day AS day, value
              FROM t0),
        st AS (SELECT doc_id, year, min(value) AS vmin, max(value) AS vmax,
                      count(*) AS n
               FROM t GROUP BY doc_id, year),
        ok AS (SELECT doc_id, year, vmin, vmax,
                      vmin + 0.5*(vmax - vmin) AS thresh
               FROM st WHERE n >= 3 AND vmax > vmin),
        marks AS (SELECT t.doc_id, t.year,
                         min(CASE WHEN value = vmax THEN day END) AS pos_day,
                         min(CASE WHEN value >= thresh THEN day END) AS sos_day,
                         max(CASE WHEN value >= thresh THEN day END) AS eos_day
                  FROM t JOIN ok USING (doc_id, year)
                  GROUP BY t.doc_id, t.year),
        ext AS (SELECT t.doc_id, t.year,
                       min(CASE WHEN t.day <= m.pos_day THEN value END) AS lminv,
                       min(CASE WHEN t.day >= m.pos_day THEN value END) AS rminv,
                       min(CASE WHEN t.day = m.sos_day THEN value END) AS sos_v,
                       min(CASE WHEN t.day = m.eos_day THEN value END) AS eos_v
                FROM t JOIN marks m USING (doc_id, year)
                GROUP BY t.doc_id, t.year),
        extd AS (SELECT t.doc_id, t.year,
                        min(CASE WHEN t.day <= m.pos_day AND t.value = e.lminv
                                 THEN t.day END) AS dem_day,
                        min(CASE WHEN t.day >= m.pos_day AND t.value = e.rminv
                                 THEN t.day END) AS dlm_day
                 FROM t JOIN marks m USING (doc_id, year)
                 JOIN ext e USING (doc_id, year)
                 GROUP BY t.doc_id, t.year),
        keep AS (SELECT m.doc_id, m.year, m.pos_day, m.sos_day, m.eos_day,
                        x.dem_day, x.dlm_day, e.lminv, e.rminv, e.sos_v, e.eos_v,
                        ok.vmax
                 FROM marks m
                 JOIN extd x USING (doc_id, year)
                 JOIN ext e USING (doc_id, year)
                 JOIN ok USING (doc_id, year)
                 WHERE x.dem_day <= m.sos_day AND m.sos_day < m.pos_day
                   AND m.pos_day < m.eos_day AND m.eos_day <= x.dlm_day),
        pairs AS (SELECT doc_id, year, day, value,
                         lead(day) OVER w AS nd, lead(value) OVER w AS nv
                  FROM t
                  WINDOW w AS (PARTITION BY doc_id, year ORDER BY day)),
        slopes AS (SELECT doc_id, year, day,
                          (nv - value)/CAST(nd - day AS DOUBLE) AS slope
                   FROM pairs WHERE nd IS NOT NULL),
        dri AS (SELECT doc_id, year, day AS dri_day, slope AS rmr FROM (
                   SELECT s.doc_id, s.year, s.day, s.slope,
                          row_number() OVER (PARTITION BY s.doc_id, s.year
                                             ORDER BY s.slope DESC, s.day) AS rn
                   FROM slopes s JOIN keep k USING (doc_id, year)
                   WHERE s.day >= k.dem_day AND s.day < k.pos_day)
                WHERE rn = 1),
        dfi AS (SELECT doc_id, year, day AS dfi_day, -slope AS rmf FROM (
                   SELECT s.doc_id, s.year, s.day, s.slope,
                          row_number() OVER (PARTITION BY s.doc_id, s.year
                                             ORDER BY s.slope ASC, s.day) AS rn
                   FROM slopes s JOIN keep k USING (doc_id, year)
                   WHERE s.day >= k.pos_day AND s.day < k.dlm_day)
                WHERE rn = 1),
        ist AS (SELECT p.doc_id, p.year,
                       sum((p.value + p.nv)/2.0*(p.nd - p.day)) AS ist
                FROM pairs p JOIN keep k USING (doc_id, year)
                WHERE p.day >= k.sos_day AND p.nd <= k.eos_day
                GROUP BY p.doc_id, p.year),
        igs AS (SELECT p.doc_id, p.year,
                       sum((p.value + p.nv)/2.0*(p.nd - p.day)) AS igs
                FROM pairs p JOIN dri USING (doc_id, year)
                JOIN dfi USING (doc_id, year)
                WHERE p.day >= dri.dri_day AND p.nd <= dfi.dfi_day
                GROUP BY p.doc_id, p.year)
        SELECT k.doc_id, CAST(k.year AS BIGINT) AS year,
               k.dem_day, k.sos_day, dri.dri_day, k.pos_day, dfi.dfi_day,
               k.eos_day, k.dlm_day,
               round((k.lminv + k.rminv)/2.0, 6) AS vbl,
               round(k.vmax - (k.lminv + k.rminv)/2.0, 6) AS vsa,
               k.eos_day - k.sos_day AS lts,
               dfi.dfi_day - dri.dri_day AS lgs,
               CAST(floor(ist.ist * 4000 + 0.5) AS BIGINT) AS ist,
               CAST(floor((k.lminv + k.rminv)/2.0 * (k.eos_day - k.sos_day)
                          * 4000 + 0.5) AS BIGINT) AS ibl,
               CAST(floor((ist.ist
                     + (k.lminv + k.rminv)/2.0 * (k.eos_day - k.sos_day))
                          * 4000 + 0.5) AS BIGINT) AS ibt,
               CAST(floor(igs.igs * 4000 + 0.5) AS BIGINT) AS igs,
               round((k.vmax - k.sos_v)/CAST(k.pos_day - k.sos_day AS DOUBLE), 6) AS rar,
               round((k.vmax - k.eos_v)/CAST(k.eos_day - k.pos_day AS DOUBLE), 6) AS raf,
               round(dri.rmr, 6) AS rmr,
               round(dfi.rmf, 6) AS rmf
        FROM keep k
        JOIN dri USING (doc_id, year)
        JOIN dfi USING (doc_id, year)
        JOIN ist USING (doc_id, year)
        JOIN igs USING (doc_id, year)
    """


def _noise_iter_oracle_sql(above_noise: float = 2.0, max_iter: int = 10) -> str:
    """SQL re-derivation of the iterative noise filter (F2 full form,
    operators/harmonic.py:noise_filter): each pass recomputes interior
    residuals over the still-kept rows and drops the single worst offender
    with resid > above_noise*rmse, to a fixpoint or max_iter. The bounded
    iteration unrolls into a generated CTE chain (state = per-doc list of
    dropped days), which DuckDB evaluates without recursion."""
    ctes = [
        "d0 AS (SELECT doc_id, CAST([] AS BIGINT[]) AS dropped FROM series GROUP BY doc_id)"
    ]
    for i in range(max_iter):
        ctes.append(f"""
        k{i} AS (SELECT s.doc_id, s.day, s.value
                 FROM series s JOIN d{i} d USING (doc_id)
                 WHERE NOT list_contains(d.dropped, s.day))""")
        ctes.append(f"""
        r{i} AS (SELECT doc_id, day,
                        abs(value - (lag(value) OVER w
                            + (lead(value) OVER w - lag(value) OVER w)
                              * ((day - lag(day) OVER w)
                                 / (lead(day) OVER w - lag(day) OVER w)))) AS resid
                 FROM k{i}
                 WINDOW w AS (PARTITION BY doc_id ORDER BY day))""")
        ctes.append(f"""
        w{i} AS (SELECT doc_id, day FROM (
                   SELECT doc_id, day, resid,
                          sqrt(avg(resid*resid) OVER (PARTITION BY doc_id)) AS rmse,
                          row_number() OVER (PARTITION BY doc_id
                                             ORDER BY resid DESC, day) AS rn
                   FROM r{i} WHERE resid IS NOT NULL)
                 WHERE rn = 1 AND resid > {above_noise}*rmse)""")
        ctes.append(f"""
        d{i + 1} AS (SELECT d.doc_id,
                            CASE WHEN w.day IS NULL THEN d.dropped
                                 ELSE d.dropped || [w.day] END AS dropped
                     FROM d{i} d LEFT JOIN w{i} w USING (doc_id))""")
    chain = ",\n".join(ctes)
    return f"""
        WITH series AS ({_SERIES_SQL}),
        {chain}
        SELECT s.doc_id, s.day, NOT list_contains(d.dropped, s.day) AS kept
        FROM series s JOIN d{max_iter} d USING (doc_id)
    """


def _augment_zero_out_oracle_sql() -> str:
    """Bit-for-bit oracle of the hash-selected zero-out over the fixture
    sequences: same md5 position rule, same order-free xor checksum."""
    path = _ensure_cascade_fixture()
    return f"""
        WITH seq AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, tokens
                     FROM read_parquet('{path}')),
        t AS (SELECT doc_id, n_tok, i - 1 AS pos, tokens[i] AS tok
              FROM seq, unnest(generate_series(1, len(tokens))) AS u(i)),
        a AS (SELECT doc_id, n_tok, pos, tok,
                     CASE WHEN tok <> -9999
                           AND CAST('0x' || substr(md5(doc_id || ':' ||
                               CAST(pos AS VARCHAR)), 1, 15) AS BIGINT)
                               % 1000000 < 100000
                          THEN 0 ELSE tok END AS aug
              FROM t)
        SELECT doc_id, CAST(max(n_tok) AS BIGINT) AS n_tok,
               CAST(sum(CASE WHEN aug <> tok THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_zeroed,
               bit_xor(CAST(aug AS BIGINT) * 1000 + pos) AS checksum
        FROM a GROUP BY doc_id
    """


def _cascade_monthly_oracle_sql() -> str:
    """SQL re-derivation of the cascade's raw -> 10-day -> monthly tiers
    from the shared fixture parquet: decode token position k to day k*3,
    drop -9999 and docs with < 2 valid obs, linear-interp onto the 10-day
    grid anchored at each doc's first valid day, then AVG-fold by YYYYMM."""
    path = _ensure_cascade_fixture()
    return f"""
        WITH seq AS (SELECT doc_id, source, tokens FROM read_parquet('{path}')),
        obs AS (SELECT doc_id, source,
                       unnest(generate_series(0, len(tokens)-1)) AS k,
                       unnest(tokens) AS tok
                FROM seq),
        valid AS (SELECT doc_id, k*3 AS day, CAST(tok AS DOUBLE) AS value
                  FROM obs WHERE tok <> -9999),
        keep AS (SELECT doc_id FROM valid GROUP BY doc_id HAVING count(*) >= 2),
        v AS (SELECT valid.doc_id, valid.day, valid.value
              FROM valid JOIN keep USING (doc_id)),
        bounds AS (SELECT doc_id, min(day) AS lo, max(day) AS hi FROM v GROUP BY doc_id),
        grid AS (SELECT doc_id, unnest(generate_series(lo, hi, 10)) AS day,
                        CAST(NULL AS DOUBLE) AS value, 1 AS is_grid
                 FROM bounds),
        unioned AS (
            SELECT doc_id, day, value, 0 AS is_grid FROM v
            UNION ALL SELECT doc_id, day, value, is_grid FROM grid),
        filled AS (
            SELECT doc_id, day, is_grid,
                last_value(value IGNORE NULLS) OVER w_prev AS pv,
                last_value(CASE WHEN value IS NOT NULL THEN day END IGNORE NULLS) OVER w_prev AS pd,
                first_value(value IGNORE NULLS) OVER w_next AS nv,
                first_value(CASE WHEN value IS NOT NULL THEN day END IGNORE NULLS) OVER w_next AS nd
            FROM unioned
            WINDOW
              w_prev AS (PARTITION BY doc_id ORDER BY day, is_grid
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              w_next AS (PARTITION BY doc_id ORDER BY day, is_grid
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        g10 AS (SELECT doc_id, day, {_INTERP_RAW} AS value
                FROM filled WHERE is_grid = 1),
        monthly AS (
            SELECT doc_id,
                   year(DATE '1970-01-01' + INTERVAL (day) DAY)*100
                     + month(DATE '1970-01-01' + INTERVAL (day) DAY) AS bucket,
                   avg(value) AS value
            FROM g10 GROUP BY doc_id, 2),
        src AS (SELECT doc_id, source FROM seq)
        SELECT m.doc_id, s.source, CAST(m.bucket AS BIGINT) AS bucket,
               round(m.value, 6) AS value
        FROM monthly m JOIN src s USING (doc_id)
    """


def _mh_pairs_sql(mh_exprs: str) -> str:
    """MinHash LSH candidate pairs (k=4, 2 bands, bucket cap 1000) — shared
    by the pairs oracle and the clustering oracle's edge list."""
    return f"""
            WITH sig AS (
                SELECT doc_id, {mh_exprs}
                FROM (SELECT doc_id, {_BASE28} AS base
                      FROM (SELECT doc_id, {_WORDS} AS w FROM documents)
                      WHERE len(w) > 0)),
            banded AS (
                SELECT doc_id, 0 AS band, concat(mh0, '_', mh1) AS bh FROM sig
                UNION ALL
                SELECT doc_id, 1 AS band, concat(mh2, '_', mh3) AS bh FROM sig),
            keep AS (SELECT band, bh FROM banded GROUP BY band, bh
                     HAVING count(*) <= 1000),
            b2 AS (SELECT banded.doc_id, banded.band, banded.bh
                   FROM banded JOIN keep USING (band, bh))
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM b2 a JOIN b2 b USING (band, bh)
            WHERE a.doc_id < b.doc_id
        """


def _trend_sig_oracle_sql() -> str:
    """Shares the trend and t-table text with the Spark operator."""
    from sits_classification_spark.operators.stm import t_test_sql, trend_sql

    col = {"x": "day", "y": "value"}
    slope, _, _, t = trend_sql(
        count=lambda: "count(value)",
        mean=lambda *f: f"avg({'*'.join(col[v] for v in f)})",
        vmin=lambda: "min(value)",
        vmax=lambda: "max(value)",
    )
    crit, sig = t_test_sql(t, "count(value)", "TWO")
    return f"""
        WITH series AS ({_SERIES_SQL})
        SELECT doc_id,
               round({slope}, 7) AS slope,
               round({t}, 5) AS t_stat,
               round({crit}, 4) AS t_crit,
               {sig} AS significant,
               count(value) AS n
        FROM series WHERE value IS NOT NULL GROUP BY doc_id
    """


def _srp_bucket_sql(n_planes: int, dim: int) -> str:
    """SRP bucket id as SQL text. The hyperplane constants and the
    left-associative dot-product op order are generated from the same
    _hyperplane table the Spark operator uses, so bucket assignment is
    bit-identical across engines."""
    from sits_classification_spark.operators.similarity import _hyperplane

    cases = []
    for p in range(n_planes):
        plane = _hyperplane(dim, p)
        dot = "0.0" + "".join(
            f" + CAST(embedding[{j + 1}] AS DOUBLE)*({c!r})"
            for j, c in enumerate(plane)
        )
        cases.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(cases)


def _embed_neardup_oracle_sql(
    n_planes: int = 4, dim: int = 64, cap: int = 2000, thr: float = 0.30
) -> str:
    bucket = _srp_bucket_sql(n_planes, dim)
    return f"""
        WITH b AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                          {bucket} AS bucket
                   FROM embeddings),
        keep AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= {cap}),
        b2 AS (SELECT b.vec_id, b.v, b.bucket FROM b JOIN keep USING (bucket)),
        p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
                     list_dot_product(a.v, c.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(c.v, c.v))) AS cs
              FROM b2 a JOIN b2 c USING (bucket)
              WHERE a.vec_id < c.vec_id)
        SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM p WHERE cs >= {thr}
    """


def _ann_recall_oracle_sql(
    n_planes: int = 4, dim: int = 64, n_queries: int = 20, k: int = 10,
    probe_hamming: int = 2,
) -> str:
    """Recall@k of the multi-probe SRP-LSH path vs the exact scan, both
    re-derived in SQL. The probe set is the full hamming ball as XOR masks
    (identical to operators/similarity.py:probe_buckets)."""
    import itertools

    masks = [0]
    for r in range(1, probe_hamming + 1):
        for planes in itertools.combinations(range(n_planes), r):
            m = 0
            for p in planes:
                m |= 1 << p
            masks.append(m)
    probe_list = ", ".join(f"xor(b0, {m})" for m in masks)
    bucket = _srp_bucket_sql(n_planes, dim)
    cos = (
        "list_dot_product(c.v, {q}.qvec)"
        " / (sqrt(list_dot_product(c.v, c.v))"
        " * sqrt(list_dot_product({q}.qvec, {q}.qvec)))"
    )
    return f"""
        WITH c AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                          CAST({bucket} AS BIGINT) AS bucket
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qvec, bucket AS b0
              FROM c WHERE vec_id < {n_queries}),
        exact AS (SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY {cos.format(q='q')} DESC, c.vec_id) AS rank
            FROM c CROSS JOIN q) WHERE rank <= {k}),
        probes AS (SELECT query_id, qvec, unnest([{probe_list}]) AS bucket FROM q),
        ann AS (SELECT query_id, vec_id FROM (
            SELECT p.query_id, c.vec_id,
                   row_number() OVER (PARTITION BY p.query_id
                                      ORDER BY {cos.format(q='p')} DESC, c.vec_id) AS rank
            FROM c JOIN probes p USING (bucket)) WHERE rank <= {k}),
        hits AS (SELECT e.query_id, count(*) AS h
                 FROM exact e JOIN ann a ON e.query_id = a.query_id AND e.vec_id = a.vec_id
                 GROUP BY e.query_id),
        perq AS (SELECT q.query_id, coalesce(h.h, 0) AS h
                 FROM (SELECT DISTINCT query_id FROM q) q
                 LEFT JOIN hits h USING (query_id))
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               round(avg(h)/{k}.0, 4) AS recall_at_{k}
        FROM perq
    """


def _ann_lsh_topk_oracle_sql(n_planes: int = 4, dim: int = 64, k: int = 10) -> str:
    """Single-bucket (probe 0) SRP-LSH top-k for the vec_id=0 query."""
    bucket = _srp_bucket_sql(n_planes, dim)
    return f"""
        WITH c AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                          CAST({bucket} AS BIGINT) AS bucket
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qvec, bucket
              FROM c WHERE vec_id = 0),
        scored AS (SELECT q.query_id, c.vec_id,
                          list_dot_product(c.v, q.qvec)
                          / (sqrt(list_dot_product(c.v, c.v))
                             * sqrt(list_dot_product(q.qvec, q.qvec))) AS cs
                   FROM c JOIN q USING (bucket))
        SELECT query_id, vec_id, round(cs, 6) AS cos_sim, rank FROM (
            SELECT query_id, vec_id, cs,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cs DESC, vec_id) AS rank
            FROM scored)
        WHERE rank <= {k}
    """


def _ivf_topk_oracle_sql(
    n_centroids: int = 16, nprobe: int = 4, k: int = 10
) -> str:
    """IVF-Flat re-derivation: same deterministic md5-keyed centroids, same
    vv - 2*dot + cc distance text, same (dist, cid) tie order."""
    # quantized to integer micro-units, matching the Spark UDF's
    # np.floor(d*1e6 + 0.5) — near-ties become exact ties both sides
    dist = (
        "CAST(floor((list_dot_product({a}, {a})"
        " - 2*list_dot_product({a}, cent.cvec)"
        " + list_dot_product(cent.cvec, cent.cvec))*1000000 + 0.5) AS BIGINT)"
    )
    return f"""
        WITH c AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        cent AS (SELECT vec_id AS cid, v AS cvec FROM (
                   SELECT vec_id, v,
                          CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS ckey
                   FROM c) ORDER BY ckey, vec_id LIMIT {n_centroids}),
        assigned AS (SELECT vec_id, v, cell FROM (
            SELECT c.vec_id, c.v, cent.cid AS cell,
                   row_number() OVER (PARTITION BY c.vec_id
                                      ORDER BY {dist.format(a='c.v')}, cent.cid) AS rn
            FROM c CROSS JOIN cent) WHERE rn = 1),
        probes AS (SELECT query_id, qv, cell FROM (
            SELECT q.vec_id AS query_id, q.v AS qv, cent.cid AS cell,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {dist.format(a='q.v')}, cent.cid) AS rn
            FROM c q CROSS JOIN cent WHERE q.vec_id = 0) WHERE rn <= {nprobe}),
        scored AS (SELECT p.query_id, a.vec_id,
                          list_dot_product(a.v, p.qv)
                          / (sqrt(list_dot_product(a.v, a.v))
                             * sqrt(list_dot_product(p.qv, p.qv))) AS cs
                   FROM assigned a JOIN probes p USING (cell))
        SELECT query_id, vec_id, round(cs, 6) AS cos_sim, rank FROM (
            SELECT query_id, vec_id, cs,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cs DESC, vec_id) AS rank
            FROM scored)
        WHERE rank <= {k}
    """


def _kmeans_ctes(k: int = 8, iters: int = 3, prefix: str = "",
                 vexpr: str = "list_transform(embedding, x -> CAST(x AS DOUBLE))") -> str:
    """Lloyd k-means re-derivation with the iterations unrolled as CTEs,
    ending in a ``{prefix}kmassign`` CTE (vec_id, cell, qdist) — shared by
    the kmeans_cells, semdedup, and (per-subspace, via prefix + a sliced
    vexpr) pq_topk oracles:
    same md5-keyed seeds (cells labelled 0..k-1 in cid order), same
    quantized vv - 2*dot + cc distances (near-ties become exact ties, the
    (qdist, cell) order resolves them identically), same 1e-6-quantized
    centroid updates (iteration t+1 starts from bit-identical centroids),
    empty cells keep their previous centroid via the LEFT JOIN coalesce."""
    qd = (
        "CAST(floor((v.vv - 2*list_dot_product(v.v, c.cvec)"
        " + list_dot_product(c.cvec, c.cvec))*1000000 + 0.5) AS BIGINT)"
    )
    p = prefix
    ctes = [
        f"""{p}vecs AS (SELECT vec_id,
                        {vexpr} AS v
                 FROM embeddings),
        {p}vv AS (SELECT vec_id, v, list_dot_product(v, v) AS vv FROM {p}vecs),
        {p}cent0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell,
                         v AS cvec
                  FROM (SELECT vec_id, v,
                               CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS ckey
                        FROM {p}vecs ORDER BY ckey, vec_id LIMIT {k}))"""
    ]
    for t in range(iters):
        ctes.append(
            f"""{p}a{t} AS (SELECT vec_id, cell FROM (
                SELECT v.vec_id, c.cell,
                       row_number() OVER (PARTITION BY v.vec_id
                                          ORDER BY {qd}, c.cell) AS rn
                FROM {p}vv v CROSS JOIN {p}cent{t} c) WHERE rn = 1),
        {p}upd{t} AS (SELECT cell, pos, floor(avg(comp)*1000000 + 0.5)/1000000 AS newc
                   FROM (SELECT a.cell, generate_subscripts(v.v, 1) AS pos,
                                unnest(v.v) AS comp
                         FROM {p}a{t} a JOIN {p}vecs v USING (vec_id))
                   GROUP BY cell, pos),
        {p}cent{t + 1} AS (SELECT p.cell, list(coalesce(u.newc, p.comp) ORDER BY p.pos) AS cvec
                        FROM (SELECT cell, generate_subscripts(cvec, 1) AS pos,
                                     unnest(cvec) AS comp
                              FROM {p}cent{t}) p
                        LEFT JOIN {p}upd{t} u USING (cell, pos)
                        GROUP BY p.cell)"""
        )
    ctes.append(
        f"""{p}kmassign AS (SELECT vec_id, cell, qdist FROM (
            SELECT v.vec_id, c.cell, {qd} AS qdist,
                   row_number() OVER (PARTITION BY v.vec_id
                                      ORDER BY {qd}, c.cell) AS rn
            FROM {p}vv v CROSS JOIN {p}cent{iters} c) WHERE rn = 1)"""
    )
    return ", ".join(ctes)


def _kmeans_oracle_sql(k: int = 8, iters: int = 3) -> str:
    return f"""
        WITH {_kmeans_ctes(k, iters)}
        SELECT vec_id, cell, qdist FROM kmassign
    """


def _bm25_oracle_sql(
    terms: tuple[str, ...] = _BM25_TERMS, k1: float = 1.2, b: float = 0.75
) -> str:
    """BM25 with the exact literal doubles the Spark expression folds to
    (k1+1.0 and 1.0-b are computed in Python on the Spark side, so the SQL
    embeds their reprs), same left-to-right term-sum order, score floored
    to integer micro-units."""
    tf_cols = ", ".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    contribs = " + ".join(
        f"ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * CAST(tf_{i} AS DOUBLE) * {k1 + 1.0!r}"
        f" / (CAST(tf_{i} AS DOUBLE) + {k1!r} * ({1.0 - b!r} + {b!r} * dl / avgdl))"
        for i in range(len(terms))
    )
    tf_out = ", ".join(f"tf_{i}" for i in range(len(terms)))
    return f"""
        WITH toks AS (SELECT doc_id, len(w) AS dl, {tf_cols}
                      FROM (SELECT doc_id, {_WORDS} AS w FROM documents)),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl, {df_cols}
                  FROM toks)
        SELECT doc_id, dl AS n_tokens, {tf_out},
               CAST(floor((0.0 + {contribs}) * 1000000 + 0.5) AS BIGINT) AS bm25_e6
        FROM toks CROSS JOIN stats
    """


def _split_oracle_sql(train: float = 0.8, val: float = 0.1) -> str:
    """Stratified split re-derivation: same md5-of-(stratum:id) rank order,
    same strict-< double boundaries (reprs of the Spark-side literals)."""
    return f"""
        WITH d AS (SELECT doc_id, lang,
                          CAST('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
                   FROM documents),
        r AS (SELECT doc_id, lang,
                     (row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) - 1)
                       / (count(*) OVER (PARTITION BY lang)) AS frac
              FROM d)
        SELECT doc_id, lang AS stratum,
               CAST(floor(frac * 1000000 + 0.5) AS BIGINT) AS frac_e6,
               CASE WHEN frac < {train!r} THEN 'train'
                    WHEN frac < {train + val!r} THEN 'val'
                    ELSE 'test' END AS split
        FROM r
    """


def _pack_oracle_sql(capacity: int = 256) -> str:
    """Concat-then-chunk re-derivation over the same fixture parquet: one
    global prefix-sum window (fine single-node), integer `//` division; the
    CASTs peel DuckDB's HUGEINT window-sum back to int64."""
    path = _ensure_cascade_fixture()
    c = int(capacity)
    return f"""
        WITH seq AS (SELECT doc_id, source,
                            CAST(substr(doc_id, 4) AS BIGINT) AS ord,
                            CAST(n_tok AS BIGINT) AS n
                     FROM read_parquet('{path}') WHERE n_tok > 0),
        cum AS (SELECT *, CAST(coalesce(sum(n) OVER (ORDER BY ord
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS c FROM seq),
        x AS (SELECT doc_id, source, c, n,
                     unnest(generate_series(CAST(c // {c} AS BIGINT),
                                            CAST((c + n - 1) // {c} AS BIGINT)))
                       AS chunk_id
              FROM cum)
        SELECT doc_id, source, chunk_id,
               greatest(c, chunk_id * {c}) - chunk_id * {c} AS chunk_off,
               greatest(c, chunk_id * {c}) - c AS doc_off,
               least(c + n, chunk_id * {c} + {c})
                 - greatest(c, chunk_id * {c}) AS seg_len
        FROM x
    """


_TFIDF_ORACLE = r"""
    WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
                   '\s+'), x -> x <> '') AS w FROM documents),
    tok AS (SELECT doc_id, unnest(w) AS term FROM w),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    sc AS (SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
                  CAST(floor(ln(CAST(n_docs AS DOUBLE) / df) * tf * 1000000
                             + 0.5) AS BIGINT) AS score_e6
           FROM tf JOIN dfq USING (term) CROSS JOIN nd)
    SELECT doc_id, term, tf, score_e6,
           CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY score_e6 DESC, term ASC) AS BIGINT) AS rnk
    FROM sc QUALIFY rnk <= 3
"""

_UNIGRAM_ORACLE = r"""
    WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
                   '\s+'), x -> x <> '') AS w FROM documents),
    tok AS (SELECT doc_id, unnest(w) AS term FROM w),
    cnt AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
    tot AS (SELECT count(*) AS total FROM tok),
    q AS (SELECT doc_id,
                 CAST(floor(-ln(CAST(cnt AS DOUBLE) / total) * 1000000 + 0.5)
                      AS BIGINT) AS qlp
          FROM tok JOIN cnt USING (term) CROSS JOIN tot)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(qlp) AS BIGINT) AS nll_e6,
           CAST(floor(CAST(sum(qlp) AS DOUBLE) / count(*)) AS BIGINT)
             AS avg_nll_e6
    FROM q GROUP BY doc_id
"""

# cross-split bigram LM with stupid backoff; counts from the stratified
# train split, scores for the test split (quantized int64 sums, see
# operators/text.py bigram_logprob)
_BIGRAM_ORACLE = r"""
    WITH d AS (SELECT doc_id, lang,
                      CAST('0x' || substr(md5(lang || ':' ||
                          CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h,
                      list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '') AS w
               FROM documents),
    r AS (SELECT doc_id, w,
                 (row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
                   - 1) / (count(*) OVER (PARTITION BY lang)) AS frac
          FROM d),
    sp AS (SELECT doc_id, w,
                  CASE WHEN frac < 0.8 THEN 'train'
                       WHEN frac < 0.9 THEN 'val' ELSE 'test' END AS sp
           FROM r),
    bg AS (SELECT doc_id, sp, w[i] AS w1, w[i+1] AS w2
           FROM sp, unnest(generate_series(1, len(w) - 1)) AS t(i)),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg
            WHERE sp = 'train' GROUP BY 1, 2),
    uni AS (SELECT t, count(*) AS c FROM (
                SELECT unnest(w) AS t FROM sp WHERE sp = 'train')
            GROUP BY t),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n_train FROM uni),
    tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bg
           WHERE sp = 'test' GROUP BY 1, 2, 3),
    j AS (SELECT tf.doc_id, tf.tf,
                 CASE WHEN c12.c12 IS NOT NULL
                      THEN CAST(c12.c12 AS DOUBLE) / u1.c
                      ELSE CAST(0.4 AS DOUBLE) * (coalesce(u2.c, 0) + 1)
                           / (n.n_train + 1) END AS s
          FROM tf LEFT JOIN c12 USING (w1, w2)
                  LEFT JOIN uni u1 ON tf.w1 = u1.t
                  LEFT JOIN uni u2 ON tf.w2 = u2.t
                  CROSS JOIN n)
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
           CAST(sum(CAST(floor(-ln(s) * 1000000 + 0.5) AS BIGINT) * tf)
                AS BIGINT) AS nll_e6,
           CAST(floor(CAST(sum(CAST(floor(-ln(s) * 1000000 + 0.5) AS BIGINT)
                                * tf) AS DOUBLE) / sum(tf)) AS BIGINT)
             AS avg_nll_e6
    FROM j GROUP BY doc_id
"""

# 8-gram contamination over the stratified split (train x test inverted
# index; df cap 1000 counted over ALL docs incl. the ignored val block).
_CONTAM_ORACLE = r"""
    WITH d AS (SELECT doc_id, lang,
                      CAST('0x' || substr(md5(lang || ':' ||
                          CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h,
                      list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '') AS w
               FROM documents),
    r AS (SELECT doc_id, w,
                 (row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
                   - 1) / (count(*) OVER (PARTITION BY lang)) AS frac
          FROM d),
    sp AS (SELECT doc_id, w,
                  CASE WHEN frac < 0.8 THEN 'train'
                       WHEN frac < 0.9 THEN 'val' ELSE 'test' END AS sp
           FROM r WHERE len(w) >= 8),
    sh AS (SELECT doc_id, sp,
                  unnest(list_distinct(list_transform(
                      range(len(w) - 7),
                      i -> CAST('0x' || substr(md5(
                          array_to_string(w[i+1:i+8], ' ')), 1, 15)
                          AS BIGINT)))) AS shingle
           FROM sp),
    capped AS (SELECT * FROM (SELECT doc_id, sp, shingle,
                     count(*) OVER (PARTITION BY shingle) AS dfc FROM sh)
               WHERE dfc <= 1000)
    SELECT te.doc_id AS test_doc, tr.doc_id AS train_doc,
           count(DISTINCT te.shingle) AS n_shared
    FROM capped te JOIN capped tr USING (shingle)
    WHERE te.sp = 'test' AND tr.sp = 'train'
    GROUP BY 1, 2 HAVING count(DISTINCT te.shingle) >= 1
"""


_CONTAM_BLOOM_ORACLE = r"""
    WITH d AS (SELECT doc_id, lang,
                      CAST('0x' || substr(md5(lang || ':' ||
                          CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h,
                      list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '') AS w
               FROM documents),
    r AS (SELECT doc_id, w,
                 (row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
                   - 1) / (count(*) OVER (PARTITION BY lang)) AS frac
          FROM d),
    sp AS (SELECT doc_id, w,
                  CASE WHEN frac < 0.8 THEN 'train'
                       WHEN frac < 0.9 THEN 'val' ELSE 'test' END AS sp
           FROM r WHERE len(w) >= 8),
    sh AS (SELECT doc_id, sp,
                  unnest(list_distinct(list_transform(
                      range(len(w) - 7),
                      i -> CAST('0x' || substr(md5(
                          array_to_string(w[i+1:i+8], ' ')), 1, 7)
                          AS BIGINT)))) AS hs
           FROM sp),
    bits AS (SELECT DISTINCT pos FROM (
               SELECT unnest([((hs*7+3) % 2147483647) % 4194304,
                              ((hs*11+5) % 2147483647) % 4194304,
                              ((hs*13+17) % 2147483647) % 4194304]) AS pos
               FROM sh WHERE sp = 'test')),
    probe AS (SELECT doc_id,
                     ((hs*7+3) % 2147483647) % 4194304 AS p0,
                     ((hs*11+5) % 2147483647) % 4194304 AS p1,
                     ((hs*13+17) % 2147483647) % 4194304 AS p2
              FROM sh WHERE sp = 'train')
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN p0 IN (SELECT pos FROM bits)
                          AND p1 IN (SELECT pos FROM bits)
                          AND p2 IN (SELECT pos FROM bits)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
           CAST(sum(CASE WHEN p0 IN (SELECT pos FROM bits)
                          AND p1 IN (SELECT pos FROM bits)
                          AND p2 IN (SELECT pos FROM bits)
                     THEN 1 ELSE 0 END) AS BIGINT) >= 1 AS flagged
    FROM probe GROUP BY doc_id
"""


_SESSION_ORACLE = """
    WITH e AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS us
               FROM events),
    l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS pus FROM e),
    f AS (SELECT *, CASE WHEN pus IS NULL OR us - pus > 1800000000
                         THEN 1 ELSE 0 END AS isn FROM l),
    s AS (SELECT *, CAST(sum(isn) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
            AS session_seq FROM f)
    SELECT user_id, session_seq, min(us) AS started_us, max(us) AS ended_us,
           max(us) - min(us) AS duration_us,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS value_sum
    FROM s GROUP BY 1, 2
"""


def _hll_oracle_sql(p: int = 12) -> str:
    """Register-exact HLL re-derivation: same md5 60-bit hash, same
    bin-string-length rank, same int64 2^(50-reg) accumulation; the alpha
    constant is the repr round-trip of the Spark-side double literal."""
    from sits_classification_spark.operators.sketch import _alpha

    m = 1 << p
    rb = 60 - p
    am = repr(_alpha(m) * m * m * float(1 << 50))
    return f"""
        WITH h AS (SELECT source, CAST('0x' || substr(md5(CAST(doc_id AS
                       VARCHAR)), 1, 15) AS BIGINT) AS h FROM documents),
        b AS (SELECT source, h >> {rb} AS bucket,
                     h & ((1::BIGINT << {rb}) - 1) AS rem FROM h),
        r AS (SELECT source, bucket,
                     CASE WHEN rem > 0 THEN {rb + 1} - length(bin(rem))
                          ELSE {rb + 1} END AS rank FROM b),
        regs AS (SELECT source, bucket, max(rank) AS reg FROM r GROUP BY 1, 2),
        agg AS (SELECT source,
                       CAST(sum(1::BIGINT << greatest(50 - reg, 0)) AS BIGINT)
                         AS s_present,
                       CAST(count(*) AS BIGINT) AS n_buckets
                FROM regs GROUP BY 1),
        est AS (SELECT source, n_buckets,
                       {am} / CAST(s_present + ({m} - n_buckets)
                                   * (1::BIGINT << 50) AS DOUBLE) AS e_raw,
                       {m} - n_buckets AS n_empty
                FROM agg)
        SELECT source, n_buckets,
               CAST(floor(CASE WHEN e_raw <= {2.5 * m!r} AND n_empty > 0
                               THEN {float(m)!r} * ln({float(m)!r} / n_empty)
                               ELSE e_raw END * 1000000 + 0.5) AS BIGINT)
                 AS estimate_e6
        FROM est
    """


def _hash_sample_oracle_sql(rates: dict[str, float]) -> str:
    case = " ".join(
        f"WHEN '{s}' THEN {int(r * 1_000_000)}" for s, r in sorted(rates.items())
    )
    return f"""
        WITH d AS (SELECT doc_id, source,
                          CAST('0x' || substr(md5(source || ':' ||
                              CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
                   FROM documents)
        SELECT doc_id, source FROM d
        WHERE h % 1000000 < CASE source {case} ELSE 0 END
    """


def _pq_oracle_sql(m: int = 8, d0: int = 8, ksub: int = 64,
                   iters: int = 2, k: int = 10) -> str:
    """PQ/ADC re-derivation: m prefixed per-subspace Lloyd chains over
    sliced vectors, codes = each subspace's kmassign cell, ADC = sum of
    quantized vv - 2*dot + cc terms against the subspace centroid tables
    and the query's subvectors (identical staging to the Spark side)."""
    ctes = ", ".join(
        _kmeans_ctes(
            ksub, iters, prefix=f"s{j}",
            vexpr=(f"list_transform(embedding[{j * d0 + 1}:{(j + 1) * d0}],"
                   " x -> CAST(x AS DOUBLE))"),
        )
        for j in range(m)
    )
    code_joins = " ".join(
        f"JOIN s{j}kmassign a{j} USING (vec_id)" for j in range(1, m)
    )
    code_cols = ", ".join(f"a{j}.cell AS c{j}" for j in range(m))
    cent_joins = " ".join(
        f"JOIN s{j}cent{iters} b{j} ON b{j}.cell = c.c{j}" for j in range(m)
    )
    def qsub(j):
        return f"qd[{j * d0 + 1}:{(j + 1) * d0}]"
    terms = " + ".join(
        f"CAST(floor((list_dot_product({qsub(j)}, {qsub(j)})"
        f" - 2*list_dot_product({qsub(j)}, b{j}.cvec)"
        f" + list_dot_product(b{j}.cvec, b{j}.cvec))*1000000 + 0.5)"
        f" AS BIGINT)"
        for j in range(m)
    )
    out_codes = ", ".join(f"CAST(c{j} AS INTEGER) AS c{j}" for j in range(m))
    return f"""
        WITH {ctes},
        codes AS (SELECT a0.vec_id, {code_cols}
                  FROM s0kmassign a0 {code_joins}),
        q AS (SELECT CAST(vec_id AS BIGINT) AS query_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qd
              FROM embeddings WHERE vec_id = 0),
        adc AS (SELECT q.query_id, c.vec_id, {", ".join(f"c.c{j}" for j in range(m))},
                       {terms} AS adc_e6
                FROM codes c CROSS JOIN q {cent_joins}
                WHERE c.vec_id <> q.query_id)
        SELECT query_id, vec_id, {out_codes}, adc_e6, CAST(rnk AS BIGINT) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY adc_e6 ASC, vec_id ASC) AS rnk
              FROM adc)
        WHERE rnk <= {k}
    """


def oracle_sql() -> dict[str, str]:
    from sits_classification_spark.operators.burst import regime_oracle_sql
    from sits_classification_spark.operators.dtw import twdtw_oracle_sql

    mh_exprs = ", ".join(
        f"list_min(list_transform(base, h -> (h*{a}+{b}) % {_M31})) AS mh{i}"
        for i, (a, b) in enumerate(_MH_PARAMS)
    )
    simhash_bits = " + ".join(
        f"(CASE WHEN list_aggregate(list_transform(base, h -> CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END), 'sum') > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(16)
    )
    hits = {
        "en": _STOP_EN, "de": _STOP_DE, "fr": _STOP_FR, "es": _STOP_ES,
    }
    hit_cols = ", ".join(
        f"len(list_filter(w, x -> x IN {sw})) AS hits_{lg}" for lg, sw in hits.items()
    )
    langs = list(hits)
    arr = "[" + ", ".join(f"hits_{lg}" for lg in langs) + "]"
    pred_cases = " ".join(
        f"WHEN list_position({arr}, list_max({arr})) = {i} THEN '{lg}'"
        for i, lg in enumerate(langs, start=1)
    )
    # shared by the harmonic_nrt entry and the nrt_break composition
    harm_nrt_sql = f"""
            WITH series AS ({_SERIES_SQL}),
            fitobs AS (SELECT doc_id, value,
                              cos(2*pi()*(day-19700)/30.0) AS c,
                              sin(2*pi()*(day-19700)/30.0) AS s
                       FROM series WHERE day <= {_NRT_CUTOFF}),
            sums AS (SELECT doc_id, count(*) AS n,
                            sum(c) AS sc, sum(s) AS ss,
                            sum(c*c) AS scc, sum(s*s) AS sss, sum(c*s) AS scs,
                            sum(value) AS sy, sum(c*value) AS scy, sum(s*value) AS ssy
                     FROM fitobs GROUP BY doc_id),
            coefs AS (SELECT doc_id,
                             {_HARM_A0} / {_HARM_DET} AS a0,
                             {_HARM_A1} / {_HARM_DET} AS a1,
                             {_HARM_B1} / {_HARM_DET} AS b1,
                             n FROM sums)
            SELECT s.doc_id, s.day,
                   round({_harm_eval1()}, 4) AS fitted,
                   round(s.value - ({_harm_eval1()}), 4) AS resid,
                   s.day > {_NRT_CUTOFF} AS is_forecast,
                   CAST(n AS BIGINT) AS n_fit
            FROM series s JOIN coefs USING (doc_id)
        """
    return {
        "tier_raw_dedup": _SERIES_SQL,
        "tier_10d_interp": _interp_sql(
            10,
            "round(CASE WHEN pd = day THEN pv "
            "WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv + (nv-pv)*(day-pd)/(nd-pd) "
            "WHEN pv IS NOT NULL THEN pv ELSE nv END, 6)",
        ),
        "locf_3d": _interp_sql(3, "pv"),
        "nocb_3d": _interp_sql(3, "nv", next_order="day, is_grid DESC"),
        "fold_weekly": f"""
            WITH series AS ({_SERIES_SQL})
            SELECT doc_id, CAST(floor(day/7) AS BIGINT) AS bucket,
                   round(avg(value), 6) AS value,
                   count(value) AS n_obs
            FROM series GROUP BY doc_id, 2
        """,
        "fold_monthly_q50": f"""
            WITH series AS ({_SERIES_SQL})
            SELECT doc_id,
                   CAST(year(DATE '1970-01-01' + INTERVAL (day) DAY)*100
                        + month(DATE '1970-01-01' + INTERVAL (day) DAY) AS BIGINT) AS bucket,
                   round(quantile_cont(value, 0.50), 6) AS value,
                   count(value) AS n_obs
            FROM series GROUP BY doc_id, 2
        """,
        "fold_monthly": f"""
            WITH series AS ({_SERIES_SQL})
            SELECT doc_id,
                   year(DATE '1970-01-01' + INTERVAL (day) DAY)*100
                     + month(DATE '1970-01-01' + INTERVAL (day) DAY) AS bucket,
                   round(avg(value), 6) AS value, count(value) AS n_obs
            FROM series GROUP BY 1, 2
        """,
        "fold_seasonal": f"""
            WITH series AS ({_SERIES_SQL}),
            monthly AS (
                SELECT doc_id,
                       year(DATE '1970-01-01' + INTERVAL (day) DAY)*100
                         + month(DATE '1970-01-01' + INTERVAL (day) DAY) AS bucket,
                       avg(value) AS mv
                FROM series GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(floor(bucket/100)*10 + floor((bucket%100 - 1)/3) + 1 AS BIGINT) AS bucket,
                   round(avg(mv), 6) AS value, count(mv) AS n_obs
            FROM monthly GROUP BY 1, 2
        """,
        "stm_user": f"""
            WITH series AS ({_SERIES_SQL})
            SELECT doc_id,
                round(min(value), 6) AS vmin,
                round(quantile_cont(value, 0.25), 6) AS q25,
                round(quantile_cont(value, 0.50), 6) AS q50,
                round(quantile_cont(value, 0.75), 6) AS q75,
                round(max(value), 6) AS vmax,
                round(avg(value), 6) AS avg,
                round(sqrt(avg(value*value) - avg(value)*avg(value)), 6) AS std,
                round(max(value) - min(value), 6) AS rng,
                round(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6) AS iqr,
                round((avg(value*value*value) - 3*avg(value)*avg(value*value) + 2*avg(value)*avg(value)*avg(value))
                      / pow(avg(value*value) - avg(value)*avg(value), 1.5), 6) AS skw,
                round((avg(value*value*value*value) - 4*avg(value)*avg(value*value*value)
                       + 6*avg(value)*avg(value)*avg(value*value) - 3*pow(avg(value), 4))
                      / pow(avg(value*value) - avg(value)*avg(value), 2) - 3, 6) AS krt,
                count(value) AS num
            FROM series GROUP BY doc_id
        """,
        "trend_user": f"""
            WITH series AS ({_SERIES_SQL})
            SELECT doc_id,
                   round({_TREND_SLOPE}, 7) AS slope,
                   round(avg(value) - {_TREND_SLOPE}*avg(day), 3) AS intercept,
                   round(pow(avg(day*value) - avg(day)*avg(value), 2)
                         / ((avg(day*day) - avg(day)*avg(day)) * (avg(value*value) - avg(value)*avg(value))), 8) AS r2,
                   CAST(count(value) AS BIGINT) AS n
            FROM series GROUP BY doc_id
        """,
        "trend_sig": _trend_sig_oracle_sql(),
        "pol_phenology": f"""
            WITH series AS ({_SERIES_SQL}),
            g AS (SELECT doc_id,
                         year(DATE '1970-01-01' + INTERVAL (day) DAY) AS year,
                         value * cos(2*pi()*(dayofyear(DATE '1970-01-01' + INTERVAL (day) DAY)-1)/365.0) AS vx,
                         value * sin(2*pi()*(dayofyear(DATE '1970-01-01' + INTERVAL (day) DAY)-1)/365.0) AS vy,
                         value AS v
                  FROM series),
            agg AS (SELECT doc_id, year, sum(vx) AS rx, sum(vy) AS ry,
                           sum(v) AS sv, count(v) AS n
                    FROM g GROUP BY doc_id, year)
            SELECT doc_id, year,
                   round(rx, 4) AS rx, round(ry, 4) AS ry,
                   round((CASE WHEN atan2(ry, rx) < 0
                               THEN atan2(ry, rx) + 2*pi()
                               ELSE atan2(ry, rx) END)/(2*pi())*365.0 + 1.0, 4) AS mean_doy,
                   round(sqrt(rx*rx + ry*ry)/sv, 6) AS seasonality,
                   n
            FROM agg
        """,
        "argmax_class": """
            SELECT vec_id,
                   CAST(list_indexof(embedding, list_max(embedding)) - 1 AS BIGINT) AS pred,
                   round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_score
            FROM embeddings
        """,
        "moving_avg_10d": f"""
            WITH series AS ({_SERIES_SQL})
            SELECT doc_id, day,
                   round(avg(value) OVER w, 6) AS smoothed,
                   count(value) OVER w AS n_win
            FROM series
            WINDOW w AS (PARTITION BY doc_id ORDER BY day
                         RANGE BETWEEN 10 PRECEDING AND 10 FOLLOWING)
        """,
        "asof_purchase": """
            SELECT event_id, user_id AS doc_id, event_type,
                   last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
            FROM events
        """,
        "harmonic_user": f"""
            WITH series AS ({_SERIES_SQL}),
            {_HARM_CTE}
            SELECT doc_id,
                   round({_HARM_A0} / {_HARM_DET}, 5) AS a0,
                   round({_HARM_A1} / {_HARM_DET}, 5) AS a1,
                   round({_HARM_B1} / {_HARM_DET}, 5) AS b1,
                   n
            FROM sums
        """,
        "harmonic_forecast": f"""
            WITH series AS ({_SERIES_SQL}),
            sums AS (
                SELECT doc_id,
                       count(*) AS n,
                       sum(c) AS sc, sum(s) AS ss,
                       sum(c*c) AS scc, sum(s*s) AS sss, sum(c*s) AS scs,
                       sum(value) AS sy, sum(c*value) AS scy, sum(s*value) AS ssy,
                       min(day) AS lo, max(day) AS hi
                FROM (SELECT doc_id, day, value,
                             cos(2*pi()*(day-19700)/30.0) AS c,
                             sin(2*pi()*(day-19700)/30.0) AS s
                      FROM series) GROUP BY doc_id),
            coefs AS (SELECT doc_id,
                             {_HARM_A0} / {_HARM_DET} AS a0,
                             {_HARM_A1} / {_HARM_DET} AS a1,
                             {_HARM_B1} / {_HARM_DET} AS b1,
                             lo, hi
                      FROM sums),
            grid AS (SELECT doc_id, a0, a1, b1, hi,
                            unnest(generate_series(lo, hi + 30, 10)) AS day
                     FROM coefs)
            SELECT doc_id, day,
                   round({_harm_eval1()}, 4) AS fitted,
                   day > hi AS is_forecast
            FROM grid
        """,
        "harmonic_nrt": harm_nrt_sql,
        "nrt_break": f"""
            WITH r AS ({harm_nrt_sql}),
            sig AS (SELECT doc_id, round(sqrt(avg(resid*resid)), 6) AS sigma
                    FROM r WHERE NOT is_forecast GROUP BY doc_id),
            zc AS (SELECT r.doc_id, r.day,
                          CASE WHEN sigma <= 0 THEN 0.0
                               ELSE resid / sigma END AS z
                   FROM r JOIN sig USING (doc_id) WHERE is_forecast),
            p AS (SELECT doc_id, day,
                         sum(z - 0.5) OVER (PARTITION BY doc_id ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
                         sum(-z - 0.5) OVER (PARTITION BY doc_id ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pn
                  FROM zc),
            s AS (SELECT doc_id, day,
                         pp - least(min(pp) OVER (PARTITION BY doc_id ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS sp,
                         pn - least(min(pn) OVER (PARTITION BY doc_id ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS sn
                  FROM p),
            a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
                         round(max(sp), 6) AS s_pos_max,
                         round(max(sn), 6) AS s_neg_max,
                         min(CASE WHEN sp > 5.0 THEN day END) AS bp,
                         min(CASE WHEN sn > 5.0 THEN day END) AS bn
                  FROM s GROUP BY doc_id)
            SELECT a.doc_id, sigma, n, s_pos_max, s_neg_max,
                   CASE WHEN bp IS NULL THEN bn
                        WHEN bn IS NULL THEN bp
                        ELSE least(bp, bn) END AS break_day,
                   CASE WHEN bp IS NULL AND bn IS NULL THEN 0
                        WHEN bp IS NOT NULL AND (bn IS NULL OR bp <= bn) THEN 1
                        ELSE -1 END AS break_side
            FROM a JOIN sig USING (doc_id)
        """,
        "stratified_points": """
            WITH pts AS (
                SELECT CAST(event_id % 1000 AS BIGINT) AS px,
                       CAST(event_id // 1000 AS BIGINT) AS py,
                       value
                FROM events
                WHERE event_id % 1000 % 2 = 0 AND event_id // 1000 % 2 = 0
                  AND value IS NOT NULL),
            strat AS (
                SELECT px, py, value,
                       CASE WHEN value >= 0.0 AND value < 30.0 THEN 0
                            WHEN value >= 30.0 AND value < 80.0 THEN 1
                            WHEN value >= 80.0 AND value < 100000.0 THEN 2
                       END AS range_idx
                FROM pts),
            ranked AS (
                SELECT px, py, value, range_idx,
                       row_number() OVER (
                           PARTITION BY range_idx
                           ORDER BY md5(CAST(px AS VARCHAR) || ':' ||
                                        CAST(py AS VARCHAR)) ASC,
                                    px ASC, py ASC) AS rk
                FROM strat WHERE range_idx IS NOT NULL)
            SELECT px, py, value, range_idx, CAST(rk AS BIGINT) AS rk
            FROM ranked
            WHERE rk <= CASE range_idx WHEN 0 THEN 80 WHEN 1 THEN 80
                                       WHEN 2 THEN 40 ELSE 0 END
        """,
        "qai_screen": """
            SELECT event_id, user_id AS doc_id,
                   datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
                   event_id % 256 AS qai, value
            FROM events WHERE (event_id % 256) & 50 = 0
        """,
        "doy_window": """
            SELECT event_id, user_id AS doc_id, CAST(dayofyear(CAST(ts AS DATE)) AS BIGINT) AS doy
            FROM events
            WHERE dayofyear(CAST(ts AS DATE)) >= 350 OR dayofyear(CAST(ts AS DATE)) <= 15
        """,
        "cat_change": f"""
            WITH series AS ({_SERIES_SQL}),
            d AS (SELECT doc_id, day, value,
                         value - lag(value) OVER (PARTITION BY doc_id ORDER BY day) AS diff
                  FROM series),
            chg AS (SELECT doc_id, round(diff, 6) AS change,
                           CAST(day AS BIGINT) AS change_bucket
                    FROM (SELECT doc_id, diff, day,
                                 row_number() OVER (PARTITION BY doc_id
                                                    ORDER BY abs(diff) DESC, day ASC) AS rn
                          FROM d WHERE diff IS NOT NULL)
                    WHERE rn = 1),
            sl AS (SELECT doc_id, round(regr_slope(value, day), 8) AS slope_full,
                          count(value) AS n
                   FROM series GROUP BY doc_id),
            parts AS (
                SELECT s.doc_id,
                       round(regr_slope(CASE WHEN s.day < c.change_bucket THEN s.value END,
                                        CASE WHEN s.day < c.change_bucket THEN s.day END), 8) AS slope_before,
                       round(regr_slope(CASE WHEN s.day >= c.change_bucket THEN s.value END,
                                        CASE WHEN s.day >= c.change_bucket THEN s.day END), 8) AS slope_after
                FROM series s JOIN chg c USING (doc_id) GROUP BY s.doc_id)
            SELECT doc_id, change, change_bucket, slope_full, slope_before, slope_after, n
            FROM chg JOIN sl USING (doc_id) JOIN parts USING (doc_id)
        """,
        "standardize_user": f"""
            WITH series AS ({_SERIES_SQL})
            SELECT doc_id, day,
                   round((value - avg(value) OVER w)
                         / sqrt(avg(value*value) OVER w - avg(value) OVER w * avg(value) OVER w), 6)
                     AS standardized
            FROM series
            WINDOW w AS (PARTITION BY doc_id)
        """,
        "rbf_smooth_user": _rbf_oracle_sql(),
        "lsp_phenology": _lsp_oracle_sql(),
        "lsp_phenometrics": _pheno_oracle_sql(),
        "spl_phenology": _normal_eq_oracle_sql(
            [
                "1", "t", "t*t", "t*t*t",
                "(greatest(t - 0.5, 0.0)*greatest(t - 0.5, 0.0)*greatest(t - 0.5, 0.0))",
            ],
            f"""t0 AS ({_interp_sql(3, _INTERP_RAW)}),
            spl_src AS (
                SELECT doc_id, value,
                       (grid_day - min(grid_day) OVER (PARTITION BY doc_id))
                       / (CAST(max(grid_day) OVER (PARTITION BY doc_id) AS DOUBLE)
                          - min(grid_day) OVER (PARTITION BY doc_id)) AS t
                FROM t0)""",
            "spl_src",
            coef_round=3,
        ),
        "cascade_monthly": _cascade_monthly_oracle_sql(),
        "augment_zero_out": _augment_zero_out_oracle_sql(),
        "retention_monthly": f"""
            SELECT * FROM ({_cascade_monthly_oracle_sql()})
            WHERE bucket >= 197006
        """,
        "noise_filter_iter": _noise_iter_oracle_sql(),
        "harmonic_fit_m2": _harm2_oracle_sql(),
        "noise_residuals": f"""
            WITH series AS ({_SERIES_SQL}),
            r AS (
                SELECT doc_id, day,
                       abs(value - (lag(value) OVER w
                           + (lead(value) OVER w - lag(value) OVER w)
                             * ((day - lag(day) OVER w) / (lead(day) OVER w - lag(day) OVER w)))) AS resid
                FROM series
                WINDOW w AS (PARTITION BY doc_id ORDER BY day))
            SELECT doc_id, day, round(resid, 6) AS resid,
                   (resid IS NULL
                    OR resid <= 3 * sqrt(avg(resid*resid) OVER (PARTITION BY doc_id))) AS kept
            FROM r
        """,
        "noise_restore": """
            WITH series AS (
                SELECT doc_id, day, value, masked FROM (
                    SELECT user_id AS doc_id,
                           datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
                           value,
                           (event_id % 256) & 50 <> 0 AS masked,
                           row_number() OVER (
                               PARTITION BY user_id, datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                               ORDER BY ts, event_id) AS rn
                    FROM events) WHERE rn = 1),
            r AS (
                SELECT doc_id, day, masked,
                       abs(value - (pv + (nv-pv)*((day-pd)/(nd-pd)))) AS resid
                FROM (SELECT doc_id, day, value, masked,
                        last_value(CASE WHEN NOT masked THEN value END IGNORE NULLS) OVER w_prev AS pv,
                        last_value(CASE WHEN NOT masked THEN day END IGNORE NULLS) OVER w_prev AS pd,
                        first_value(CASE WHEN NOT masked THEN value END IGNORE NULLS) OVER w_next AS nv,
                        first_value(CASE WHEN NOT masked THEN day END IGNORE NULLS) OVER w_next AS nd
                      FROM series
                      WINDOW
                        w_prev AS (PARTITION BY doc_id ORDER BY day
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        w_next AS (PARTITION BY doc_id ORDER BY day
                                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))),
            d AS (
                SELECT doc_id, day, masked, resid,
                       coalesce(masked AND resid IS NOT NULL
                                AND resid < 1.0 * sqrt(avg(CASE WHEN NOT masked THEN resid*resid END)
                                                       OVER (PARTITION BY doc_id)),
                                FALSE) AS restored
                FROM r)
            SELECT doc_id, day, masked, round(resid, 6) AS resid, restored,
                   (NOT masked OR restored) AS kept
            FROM d
        """,
        "class_weights": """
            WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
            t AS (SELECT sum(1.0/n) AS inv_sum, count(*) AS k FROM c)
            SELECT CAST(label AS BIGINT) AS label, n,
                   round((1.0/n) / inv_sum * k, 6) AS weight
            FROM c, t
        """,
        "confusion_report": f"""
            WITH t AS ({_PRED_SQL}),
            per AS (SELECT truth AS cls, count(*) AS support FROM t GROUP BY truth),
            tp AS (SELECT truth AS cls, count(*) AS tp FROM t WHERE truth = pred GROUP BY truth),
            pr AS (SELECT pred AS cls, count(*) AS pred_n FROM t GROUP BY pred)
            SELECT cls, support,
                   round(tp / pred_n, 6) AS precision,
                   round(tp / support, 6) AS recall,
                   round(2 * (tp/pred_n) * (tp/support)
                         / ((tp/pred_n) + (tp/support)), 6) AS f1
            FROM per JOIN tp USING (cls) JOIN pr USING (cls)
        """,
        "overall_acc_kappa": f"""
            WITH t AS ({_PRED_SQL}),
            agg AS (SELECT count(*) AS n,
                           avg(CASE WHEN truth = pred THEN 1.0 ELSE 0.0 END) AS oa
                    FROM t),
            j AS (SELECT coalesce(nt, 0) AS nt, coalesce(np_, 0) AS np_
                  FROM (SELECT truth AS cls, count(*) AS nt FROM t GROUP BY truth) a
                  FULL JOIN (SELECT pred AS cls, count(*) AS np_ FROM t GROUP BY pred) b
                    USING (cls)),
            c AS (SELECT sum(nt * np_) AS chance FROM j)
            SELECT n, round(oa, 6) AS oa,
                   round((oa - chance/(n*n)) / (1 - chance/(n*n)), 6) AS kappa
            FROM agg, c
        """,
        "rmse_r2_persistence": """
            WITH t AS (
                SELECT value AS truth,
                       lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pred
                FROM events),
            f AS (SELECT truth, pred FROM t WHERE pred IS NOT NULL),
            m AS (SELECT avg(truth) AS mt FROM f)
            SELECT round(sqrt(avg(pow(truth - pred, 2))), 6) AS rmse,
                   round(1.0 - sum(pow(truth - pred, 2)) / sum(pow(truth - mt, 2)), 6) AS r2
            FROM f, m
        """,
        "asof_tolerance_7d": """
            WITH e AS (SELECT event_id, user_id,
                              datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
                              value, event_type
                       FROM events),
            r AS (SELECT user_id, day, max_by(value, event_id) AS pval
                  FROM e WHERE event_type = 'purchase' GROUP BY user_id, day)
            SELECT e.event_id, e.user_id, e.day, e.value,
                   max_by(r.pval, r.day) AS asof_value
            FROM e LEFT JOIN r
              ON e.user_id = r.user_id AND r.day <= e.day AND r.day >= e.day - 7
            GROUP BY e.event_id, e.user_id, e.day, e.value
        """,
        "end_padding": f"""
            SELECT doc_id,
                   array_to_string((list_filter(toks, x -> x <> 0)
                       || list_transform(generate_series(1, greatest(0, 32 - len(list_filter(toks, x -> x <> 0)))), i -> 0))[1:32],
                       ',') AS window_str,
                   len(list_filter(toks, x -> x <> 0)) AS n_nonzero
            FROM (SELECT doc_id, list_transform({_WORDS}, x -> length(x) % 4) AS toks
                  FROM documents)
        """,
        "positional_encoding": """
            SELECT event_id,
                   CAST(dayofyear(CAST(ts AS DATE)) AS BIGINT) AS doy,
                   round(sin(CAST(dayofyear(CAST(ts AS DATE)) AS DOUBLE) / pow(10000, 0.0)), 6) AS pe0,
                   round(cos(CAST(dayofyear(CAST(ts AS DATE)) AS DOUBLE) / pow(10000, 0.0)), 6) AS pe1,
                   round(sin(CAST(dayofyear(CAST(ts AS DATE)) AS DOUBLE) / pow(10000, 0.25)), 6) AS pe2,
                   round(cos(CAST(dayofyear(CAST(ts AS DATE)) AS DOUBLE) / pow(10000, 0.25)), 6) AS pe3
            FROM events
        """,
        "mosaic_last_wins": """
            WITH u AS (
                SELECT event_id,
                       datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
                       value, 't0' AS part, 0 AS pr
                FROM events
                UNION ALL
                SELECT event_id,
                       datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
                       value * 2 AS value, 't1' AS part, 1 AS pr
                FROM events WHERE event_type = 'purchase')
            SELECT event_id, day, round(value, 4) AS value, part FROM (
                SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY pr DESC) AS rn
                FROM u)
            WHERE rn = 1
        """,
        "spectral_index": """
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   CAST(floor(idx*10000 + 0.5) AS BIGINT) AS idx_e4,
                   CAST(floor(idx*1000 + 0.5) AS BIGINT) AS idx_i16
            FROM (SELECT l_orderkey, l_linenumber,
                         (l_extendedprice/1000 + l_tax) / (l_quantity + l_discount) AS idx
                  FROM lineitem)
            WHERE idx IS NOT NULL AND abs(idx) < 5
        """,
        "index_menu": """
            WITH b AS (
                SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                       CAST(l_quantity AS DOUBLE) AS blue,
                       l_discount + 0.05 AS green,
                       l_tax + 0.03 AS red,
                       l_quantity/25.0 AS re1,
                       l_quantity/50.0 + 0.02 AS re2,
                       l_extendedprice/100000.0 AS bnir,
                       l_quantity/100.0 AS swir1,
                       l_discount + 0.01 AS swir2
                FROM lineitem)
            SELECT l_orderkey, l_linenumber,
                   CAST(floor(((bnir - swir2)/(bnir + swir2))*10000 + 0.5) AS BIGINT) AS nbr_e4,
                   CAST(floor((bnir*((1.0/green) - (1.0/re1)))*10000 + 0.5) AS BIGINT) AS ari_e4,
                   CAST(floor(((1.0/blue) - (1.0/green))*10000 + 0.5) AS BIGINT) AS cri_e4,
                   CAST(floor(((re1 - red)/(re1 + red))*10000 + 0.5) AS BIGINT) AS rendvi1_e4,
                   CAST(floor(((re2 - red)/(re2 + red))*10000 + 0.5) AS BIGINT) AS rendvi2_e4,
                   CAST(floor((swir1/bnir)*10000 + 0.5) AS BIGINT) AS msi_e4,
                   CAST(floor(((bnir - swir1)/(bnir + swir1))*10000 + 0.5) AS BIGINT) AS ndwi_e4,
                   CAST(floor((((bnir + 0.1) - (swir2 + 0.02))/((bnir + 0.1) + (swir2 + 0.02)))*10000 + 0.5) AS BIGINT) AS vmi_e4,
                   CAST(floor((((bnir - re1)/(bnir + re1))/((bnir - red)/(bnir + red)))*10000 + 0.5) AS BIGINT) AS ccci_e4
            FROM b WHERE abs(bnir - red) > 0.001
        """,
        "index_menu_full": """
            WITH b AS (
                SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                       l_quantity/60.0 AS blue,
                       l_discount + 0.05 AS green,
                       l_tax + 0.03 AS red,
                       l_extendedprice/120000.0 AS nir,
                       l_extendedprice/150000.0 AS bnir,
                       l_quantity/80.0 + 0.02 AS re1,
                       l_quantity/70.0 + 0.03 AS re2,
                       l_quantity/60.0 + 0.04 AS re3,
                       l_quantity/100.0 + 0.01 AS swir1,
                       l_discount + 0.01 AS swir2
                FROM lineitem),
            g AS (SELECT *, 2.0*red - blue AS rb FROM b
                  WHERE abs(nir + (2.0*red - blue)) > 0.05
                    AND nir + (2.0*red - blue) + 0.5 > 0.05)
            SELECT l_orderkey, l_linenumber,
                   CAST(floor(((swir1 - swir2)/(swir1 + swir2))*10000 + 0.5) AS BIGINT) AS ndti_e4,
                   CAST(floor(((nir - rb)/(nir + rb))*10000 + 0.5) AS BIGINT) AS arvi_e4,
                   CAST(floor((1.5*(nir - red)/(nir + red + 0.5))*10000 + 0.5) AS BIGINT) AS savi_e4,
                   CAST(floor((1.5*(nir - rb)/(nir + rb + 0.5))*10000 + 0.5) AS BIGINT) AS sarvi_e4,
                   CAST(floor((0.0 + 0.3561*blue + 0.3972*green + 0.3904*red + 0.6966*nir + 0.2286*swir1 + 0.1596*swir2)*10000 + 0.5) AS BIGINT) AS tcb_e4,
                   CAST(floor((0.0 + -0.3344*blue + -0.3544*green + -0.4556*red + 0.6966*nir + -0.0242*swir1 + -0.2630*swir2)*10000 + 0.5) AS BIGINT) AS tcg_e4,
                   CAST(floor((0.0 + 0.2626*blue + 0.2141*green + 0.0926*red + 0.0656*nir + -0.7629*swir1 + -0.5388*swir2)*10000 + 0.5) AS BIGINT) AS tcw_e4,
                   CAST(floor(((0.0 + 0.3561*blue + 0.3972*green + 0.3904*red + 0.6966*nir + 0.2286*swir1 + 0.1596*swir2)
                             - (0.0 + -0.3344*blue + -0.3544*green + -0.4556*red + 0.6966*nir + -0.0242*swir1 + -0.2630*swir2)
                             - (0.0 + 0.2626*blue + 0.2141*green + 0.0926*red + 0.0656*nir + -0.7629*swir1 + -0.5388*swir2))*10000 + 0.5) AS BIGINT) AS tcdi_e4,
                   CAST(floor(((swir1 - nir)/(swir1 + nir))*10000 + 0.5) AS BIGINT) AS ndbi_e4,
                   CAST(floor(((green - swir1)/(green + swir1))*10000 + 0.5) AS BIGINT) AS mndwi_e4,
                   CAST(floor(((nir - swir1)/(nir + swir1))*10000 + 0.5) AS BIGINT) AS ndmi_e4,
                   CAST(floor(((green - swir1)/(green + swir1))*10000 + 0.5) AS BIGINT) AS ndsi_e4,
                   CAST(floor(((exp(2.0*(((nir - red)/(nir + red))*((nir - red)/(nir + red)))) - 1.0)
                             / (exp(2.0*(((nir - red)/(nir + red))*((nir - red)/(nir + red)))) + 1.0))*10000 + 0.5) AS BIGINT) AS kndvi_e4,
                   CAST(floor(((re2 - re1)/(re2 + re1))*10000 + 0.5) AS BIGINT) AS ndre1_e4,
                   CAST(floor(((re3 - re1)/(re3 + re1))*10000 + 0.5) AS BIGINT) AS ndre2_e4,
                   CAST(floor((re3/re1 - 1.0)*10000 + 0.5) AS BIGINT) AS cire_e4,
                   CAST(floor(((nir - re1)/(nir + re1))*10000 + 0.5) AS BIGINT) AS ndvire1_e4,
                   CAST(floor(((nir - re2)/(nir + re2))*10000 + 0.5) AS BIGINT) AS ndvire2_e4,
                   CAST(floor(((nir - re3)/(nir + re3))*10000 + 0.5) AS BIGINT) AS ndvire3_e4,
                   CAST(floor(((bnir - re1)/(bnir + re1))*10000 + 0.5) AS BIGINT) AS ndvire1n_e4,
                   CAST(floor(((bnir - re2)/(bnir + re2))*10000 + 0.5) AS BIGINT) AS ndvire2n_e4,
                   CAST(floor(((bnir - re3)/(bnir + re3))*10000 + 0.5) AS BIGINT) AS ndvire3n_e4,
                   CAST(floor(((nir/re1 - 1.0)/sqrt(nir/re1 + 1.0))*10000 + 0.5) AS BIGINT) AS msrre_e4,
                   CAST(floor(((bnir/re1 - 1.0)/sqrt(bnir/re1 + 1.0))*10000 + 0.5) AS BIGINT) AS msrren_e4,
                   CAST(floor(((green - red)/(green + red))*10000 + 0.5) AS BIGINT) AS cci_e4
            FROM g
        """,
        "sma_fractions": _sma_oracle_sql(),
        "sma_nnls": _sma_nnls_oracle_sql(),
        "screen_pipeline": """
            SELECT event_id, user_id AS doc_id, event_type, value
            FROM events
            WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
              AND value IS NOT NULL AND abs(value) < 300
              AND event_type IN ('view', 'click')
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_extendedprice), 6) AS avg_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate >= DATE '1995-01-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            SELECT n_name, r_name,
                   round(sum(o_totalprice), 4) AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY n_name, r_name
        """,
        "part_supplier_margin": """
            SELECT n_name, p_brand,
                   round(sum(l_extendedprice * (1 - l_discount)
                             - p_retailprice * l_quantity), 4) AS margin,
                   count(*) AS n_lines
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name, p_brand
        """,
        "top3_orders_per_customer": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS o_totalprice, rn
            FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                         row_number() OVER (PARTITION BY o_custkey
                                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
                  FROM orders)
            WHERE rn <= 3
        """,
        "doc_exact_dedup": """
            SELECT md5(text) AS content_key, min(doc_id) AS keep_doc_id,
                   count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "doc_token_counts": f"""
            SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_distinct,
                   round(length(text) / len(w), 6) AS chars_per_token,
                   len(regexp_extract_all(text,
                       '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\f\\r]+|[ \\t\\n\\f\\r]+'))
                     AS n_bpe_tokens
            FROM (SELECT doc_id, text, {_WORDS} AS w FROM documents)
        """,
        "doc_quality": f"""
            SELECT doc_id,
                   len(w) AS n_tokens,
                   round(list_aggregate(list_transform(w, x -> length(x)), 'sum') * 1.0 / len(w), 6) AS mean_word_len,
                   round(len(list_filter(w, x -> x IN {_STOP_EN})) * 1.0 / len(w), 6) AS stopword_ratio,
                   round(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text), 6) AS punct_ratio,
                   round(length(regexp_replace(text, '[^A-Z]', '', 'g')) * 1.0 / length(text), 6) AS upper_ratio
            FROM (SELECT doc_id, text, {_WORDS} AS w FROM documents)
        """,
        "doc_lang_id": f"""
            SELECT doc_id, lang,
                   CASE WHEN list_max({arr}) = 0 THEN 'unknown' {pred_cases} END AS pred_lang,
                   hits_en, hits_de, hits_fr, hits_es
            FROM (SELECT doc_id, lang, {hit_cols}
                  FROM (SELECT doc_id, lang, {_WORDS} AS w FROM documents))
        """,
        "doc_fingerprint": f"""
            SELECT doc_id,
                   reduce(list_transform(w, x -> {_WH60}), (a, b) -> xor(a, b)) AS fingerprint,
                   len(w) AS n_tokens
            FROM (SELECT doc_id, {_WORDS} AS w FROM documents)
        """,
        "winnow_fingerprints": f"""
            WITH sh AS (
                SELECT doc_id, i - 1 AS pos, hs[i] AS h FROM (
                    SELECT doc_id, hs, unnest(generate_series(1, len(hs))) AS i
                    FROM (SELECT doc_id,
                                 list_transform({_SHINGLES3},
                                                s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS hs
                          FROM (SELECT doc_id, {_WORDS} AS w FROM documents)))),
            m AS (SELECT doc_id, pos,
                         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
                         count(*) OVER (PARTITION BY doc_id) AS n
                  FROM sh)
            SELECT DISTINCT doc_id, wmin AS fp FROM m
            WHERE pos <= greatest(n - 4, 0)
            UNION ALL
            SELECT doc_id,
                   CAST('0x' || substr(md5(array_to_string(w, ' ')), 1, 15) AS BIGINT) AS fp
            FROM (SELECT doc_id, {_WORDS} AS w FROM documents)
            WHERE len(w) > 0 AND len(w) < 3
        """,
        "minhash_sigs": f"""
            SELECT doc_id, {mh_exprs}
            FROM (SELECT doc_id, {_BASE28} AS base
                  FROM (SELECT doc_id, {_WORDS} AS w FROM documents)
                  WHERE len(w) > 0)
        """,
        "minhash_lsh_pairs": _mh_pairs_sql(mh_exprs),
        "minhash_accuracy": f"""
            WITH b AS (SELECT doc_id, {_BASE28} AS base
                       FROM (SELECT doc_id, {_WORDS} AS w FROM documents)
                       WHERE len(w) > 0),
            s AS (SELECT doc_id, base, {mh_exprs} FROM b),
            p AS ({_mh_pairs_sql(mh_exprs)}),
            m AS (SELECT p.doc_a, p.doc_b,
                         CAST({" + ".join(f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(4))}
                              AS BIGINT) AS matches,
                         CAST(len(list_intersect(sa.base, sb.base)) AS BIGINT)
                             AS inter,
                         CAST(len(sa.base) + len(sb.base)
                              - len(list_intersect(sa.base, sb.base))
                              AS BIGINT) AS uni
                  FROM p
                  JOIN s sa ON sa.doc_id = p.doc_a
                  JOIN s sb ON sb.doc_id = p.doc_b)
            SELECT doc_a, doc_b, matches, inter, uni,
                   CAST(floor(1000000.0 * abs(matches * uni - 4 * inter)
                              / (4.0 * uni) + 0.5) AS BIGINT) AS err_e6
            FROM m
        """,
        "corpus_clean": f"""
            WITH RECURSIVE pairs AS ({_mh_pairs_sql(mh_exprs)}),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b AS src, doc_a AS dst FROM pairs),
            reach(doc, lbl) AS (
                SELECT src AS doc, src AS lbl FROM edges
                UNION
                SELECT e.dst AS doc, reach.lbl
                FROM reach JOIN edges e ON reach.doc = e.src),
            clusters AS (SELECT doc AS doc_id, min(lbl) AS cluster_id
                         FROM reach GROUP BY doc),
            d AS (SELECT doc_id, len({_WORDS}) AS n_tokens,
                         min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
                  FROM documents)
            SELECT d.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
            FROM d LEFT JOIN clusters c USING (doc_id)
            WHERE n_tokens >= 30 AND d.doc_id = keeper
              AND (c.cluster_id IS NULL OR c.cluster_id = d.doc_id)
        """,
        "training_mix": f"""
            WITH RECURSIVE pairs AS ({_mh_pairs_sql(mh_exprs)}),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b AS src, doc_a AS dst FROM pairs),
            reach(doc, lbl) AS (
                SELECT src AS doc, src AS lbl FROM edges
                UNION
                SELECT e.dst AS doc, reach.lbl
                FROM reach JOIN edges e ON reach.doc = e.src),
            clusters AS (SELECT doc AS doc_id, min(lbl) AS cluster_id
                         FROM reach GROUP BY doc),
            d0 AS (SELECT doc_id, lang, source, n_chars, text,
                          CAST('0x' || substr(md5(lang || ':' ||
                              CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hsp,
                          {_WORDS} AS w
                   FROM documents),
            r AS (SELECT *,
                         (row_number() OVER (PARTITION BY lang
                                             ORDER BY hsp, doc_id) - 1)
                           / (count(*) OVER (PARTITION BY lang)) AS frac
                  FROM d0),
            sp AS (SELECT doc_id, source, n_chars, text, w,
                          CASE WHEN frac < 0.8 THEN 'train'
                               WHEN frac < 0.9 THEN 'val' ELSE 'test' END AS sp
                   FROM r),
            shb AS (SELECT doc_id, sp,
                           unnest(list_distinct(list_transform(
                               range(len(w) - 7),
                               i -> CAST('0x' || substr(md5(
                                   array_to_string(w[i+1:i+8], ' ')), 1, 7)
                                   AS BIGINT)))) AS hs
                    FROM sp WHERE len(w) >= 8),
            bits AS (SELECT DISTINCT pos FROM (
                       SELECT unnest([((hs*7+3) % 2147483647) % 4194304,
                                      ((hs*11+5) % 2147483647) % 4194304,
                                      ((hs*13+17) % 2147483647) % 4194304]) AS pos
                       FROM shb WHERE sp = 'test')),
            flagged AS (SELECT DISTINCT doc_id FROM shb
                        WHERE sp = 'train'
                          AND ((hs*7+3) % 2147483647) % 4194304 IN (SELECT pos FROM bits)
                          AND ((hs*11+5) % 2147483647) % 4194304 IN (SELECT pos FROM bits)
                          AND ((hs*13+17) % 2147483647) % 4194304 IN (SELECT pos FROM bits)),
            clean AS (
                SELECT s.doc_id, s.source, s.n_chars
                FROM (SELECT *, len(w) AS n_tokens,
                             min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
                      FROM sp) s
                LEFT JOIN clusters c ON s.doc_id = c.doc_id
                WHERE s.sp = 'train' AND s.n_tokens >= 30
                  AND s.doc_id = s.keeper
                  AND (c.cluster_id IS NULL OR c.cluster_id = s.doc_id)
                  AND s.doc_id NOT IN (SELECT doc_id FROM flagged)),
            plan AS (
                SELECT source,
                       CAST(floor(weight * (CAST(0.5 AS DOUBLE) * CAST(total AS DOUBLE))) AS BIGINT) AS target_toks
                FROM (SELECT source, toks,
                             round(pow(CAST(toks AS DOUBLE), 0.7)
                                   / sum(pow(CAST(toks AS DOUBLE), 0.7)) OVER (), 6) AS weight,
                             sum(toks) OVER () AS total
                      FROM (SELECT source, CAST(sum(n_chars) AS BIGINT) AS toks
                            FROM clean GROUP BY source))),
            rk AS (SELECT doc_id, source,
                          sum(n_chars) OVER (
                              PARTITION BY source
                              ORDER BY md5(source || ':' ||
                                           CAST(doc_id AS VARCHAR)) ASC,
                                       doc_id ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
                   FROM clean)
            SELECT doc_id, source, CAST(cum_toks AS BIGINT) AS cum_toks
            FROM rk JOIN plan USING (source) WHERE cum_toks <= target_toks
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE pairs AS ({_mh_pairs_sql(mh_exprs)}),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b AS src, doc_a AS dst FROM pairs),
            reach(doc, lbl) AS (
                SELECT src AS doc, src AS lbl FROM edges
                UNION
                SELECT e.dst AS doc, reach.lbl
                FROM reach JOIN edges e ON reach.doc = e.src)
            SELECT doc AS doc_id, min(lbl) AS cluster_id
            FROM reach GROUP BY doc
        """,
        "embedding_near_dups": _embed_neardup_oracle_sql(),
        "ann_recall": _ann_recall_oracle_sql(),
        "ann_lsh_topk": _ann_lsh_topk_oracle_sql(),
        "ivf_topk": _ivf_topk_oracle_sql(),
        "kmeans_cells": _kmeans_oracle_sql(),
        "pq_topk": _pq_oracle_sql(),
        "lttb_points": _lttb_oracle_sql(),
        "twdtw_class": twdtw_oracle_sql(_SERIES_SQL),
        "regime_segments": regime_oracle_sql(_SERIES_SQL),
        "seasonal_decompose": _SEASONAL_ORACLE.format(series=_SERIES_SQL),
        "ewma_level": _EWMA_ORACLE.format(series=_SERIES_SQL),
        "holt_level_trend": _HOLT_ORACLE.format(series=_SERIES_SQL),
        "theil_sen": _THEIL_ORACLE.format(series=_SERIES_SQL),
        "mad_outliers": _MAD_ORACLE.format(series=_SERIES_SQL),
        "fold_ohlc": _OHLC_ORACLE.format(series=_SERIES_SQL),
        "psi_drift": _PSI_ORACLE.format(series=_SERIES_SQL),
        "acf": _ACF_ORACLE.format(series=_SERIES_SQL),
        "pacf": _PACF_ORACLE.format(acf=_ACF_ORACLE.format(series=_SERIES_SQL)),
        "mann_kendall": _MK_ORACLE.format(series=_SERIES_SQL),
        "ljung_box": _LB_ORACLE.format(
            acf=_ACF_ORACLE.format(series=_SERIES_SQL)
        ),
        "market_corr": _MARKET_ORACLE.format(series=_SERIES_SQL),
        "pettitt": _PETTITT_ORACLE.format(series=_SERIES_SQL),
        "seasonal_mk": _SMK_ORACLE.format(series=_SERIES_SQL),
        "runs_test": _RUNS_ORACLE.format(series=_SERIES_SQL),
        "predict_plan": _predict_plan_oracle_sql(),
        "bm25_scores": _bm25_oracle_sql(),
        "stratified_split": _split_oracle_sql(),
        "pack_chunks": _pack_oracle_sql(),
        "chunk_plan": f"""
            WITH b AS (SELECT doc_id, CAST(len({_WORDS}) AS BIGINT) AS n
                       FROM documents),
            c AS (SELECT doc_id, n,
                         1 + (CASE WHEN n > 32 THEN (n - 32 + 23) // 24
                                   ELSE 0 END) AS n_chunks
                  FROM b WHERE n > 0),
            e AS (SELECT doc_id, n,
                         unnest(range(0, n_chunks)) AS k
                  FROM c)
            SELECT doc_id, CAST(k AS BIGINT) AS k,
                   CAST(k * 24 AS BIGINT) AS start_tok,
                   CAST(least(n, k * 24 + 32) AS BIGINT) AS end_tok,
                   CAST(least(n, k * 24 + 32) - k * 24 AS BIGINT) AS chunk_len
            FROM e
        """,
        "tfidf_top_terms": _TFIDF_ORACLE,
        "unigram_logprob": _UNIGRAM_ORACLE,
        "bigram_logprob": _BIGRAM_ORACLE,
        "char_entropy": """
            WITH ch AS (SELECT doc_id, text[i:i] AS c
                        FROM documents,
                             unnest(range(1, length(text) + 1)) AS t(i)),
            cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
            s AS (SELECT doc_id,
                         CAST(sum(CASE WHEN cnt > 1
                              THEN CAST(floor(cnt * ln(cnt) * 1000000 + 0.5)
                                        AS BIGINT)
                              ELSE 0 END) AS BIGINT) AS s,
                         CAST(count(*) AS BIGINT) AS k,
                         CAST(sum(cnt) AS BIGINT) AS n
                  FROM cc GROUP BY doc_id)
            -- LEFT JOIN from documents so an empty-text doc appears with
            -- zeros, matching the Spark side (which emits a row per doc);
            -- the unnest(range(..)) produces no rows for length 0
            SELECT d.doc_id,
                   COALESCE(s.n, CAST(0 AS BIGINT)) AS n_chars_t,
                   COALESCE(s.k, CAST(0 AS BIGINT)) AS n_distinct_chars,
                   COALESCE(CAST(floor(ln(s.n) * 1000000 + 0.5) AS BIGINT)
                     - CAST(floor(CAST(s.s AS DOUBLE) / s.n) AS BIGINT),
                     CAST(0 AS BIGINT)) AS ent_e6
            FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
        """,
        "contamination": _CONTAM_ORACLE,
        "contamination_bloom": _CONTAM_BLOOM_ORACLE,
        "media_features": """
            SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
                   ['image','audio','video'][(doc_id % 3) + 1] AS kind,
                   CAST(length(text) AS BIGINT) AS n_bytes,
                   CAST(ascii(text[1:1]) AS BIGINT) AS head_byte,
                   CAST(ascii(text[length(text):length(text)]) AS BIGINT) AS tail_byte,
                   CAST(list_aggregate(list_transform(
                       range(1, length(text) + 1), i -> ascii(text[i:i])),
                       'sum') AS BIGINT) AS byte_sum
            FROM documents
        """,
        "media_frames": """
            SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(unnest(generate_series(0, n_chars * 7 - 1, 250)) AS BIGINT) AS frame_ms
            FROM documents WHERE doc_id % 3 = 2
        """,
        "media_decode": """
            WITH img AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
                         FROM documents WHERE doc_id % 2 = 0),
            ys AS (SELECT doc_id, w, h, unnest(range(0, h)) AS y FROM img),
            xs AS (SELECT doc_id, w, h, y, unnest(range(0, w)) AS x FROM ys),
            cs AS (SELECT doc_id, w, h, y, x, unnest([0, 1, 2]) AS c FROM xs),
            px AS (SELECT doc_id, w, h, c,
                          (doc_id*31 + y*(((w*3+3)//4)*4) + x*3 + c) % 256 AS b
                   FROM cs),
            imgf AS (SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
                            'image' AS kind,
                            CAST(max(w) AS BIGINT) AS f0,
                            CAST(max(h) AS BIGINT) AS f1,
                            CAST(24 AS BIGINT) AS f2,
                            CAST(max(w) * max(h) AS BIGINT) AS f3,
                            CAST(sum(CASE WHEN c = 0 THEN b ELSE 0 END) AS BIGINT) AS f4,
                            CAST(sum(CASE WHEN c = 1 THEN b ELSE 0 END) AS BIGINT) AS f5,
                            CAST(sum(CASE WHEN c = 2 THEN b ELSE 0 END) AS BIGINT) AS f6,
                            CAST(min(b) AS BIGINT) AS f7,
                            CAST(max(b) AS BIGINT) AS f8
                     FROM px GROUP BY doc_id),
            wav AS (SELECT doc_id, 50 + doc_id % 20 AS n
                    FROM documents WHERE doc_id % 2 = 1),
            js AS (SELECT doc_id, n, unnest(range(0, n)) AS j FROM wav),
            smp AS (SELECT doc_id, n,
                           ((doc_id*17 + j*j) % 65536) - 32768 AS s
                    FROM js),
            wavf AS (SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
                            'audio' AS kind,
                            CAST(1 AS BIGINT) AS f0,
                            CAST(8000 AS BIGINT) AS f1,
                            CAST(16 AS BIGINT) AS f2,
                            CAST(max(n) AS BIGINT) AS f3,
                            CAST(sum(abs(s)) AS BIGINT) AS f4,
                            CAST(max(abs(s)) AS BIGINT) AS f5,
                            CAST(sum(s) AS BIGINT) AS f6,
                            CAST(min(s) AS BIGINT) AS f7,
                            CAST(max(s) AS BIGINT) AS f8
                     FROM smp GROUP BY doc_id)
            SELECT * FROM imgf UNION ALL SELECT * FROM wavf
        """,
        "media_tif": """
            WITH img AS (SELECT doc_id, 3 + doc_id % 4 AS w, 2 + doc_id % 5 AS h
                         FROM documents),
            idx AS (SELECT doc_id, w, h,
                           unnest(range(0, w * h * 3)) AS i
                    FROM img),
            smp AS (SELECT doc_id, w, h, i % 3 AS c,
                           (doc_id*19 + i) % 60001 AS s
                    FROM idx)
            SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(max(w) AS BIGINT) AS f0,
                   CAST(max(h) AS BIGINT) AS f1,
                   CAST(16 AS BIGINT) AS f2,
                   CAST(3 AS BIGINT) AS f3,
                   CAST(sum(CASE WHEN c = 0 THEN s ELSE 0 END) AS BIGINT) AS f4,
                   CAST(sum(CASE WHEN c = 1 THEN s ELSE 0 END) AS BIGINT) AS f5,
                   CAST(sum(CASE WHEN c = 2 THEN s ELSE 0 END) AS BIGINT) AS f6,
                   CAST(min(s) AS BIGINT) AS f7,
                   CAST(max(s) AS BIGINT) AS f8
            FROM smp GROUP BY doc_id
        """,
        # S4 reprojection: the DuckDB side evaluates the IDENTICAL staged
        # expression text (geo.laea_forward_stages) as the Spark plan —
        # engines differ by libm ulps; cm quantization is 1e6x above that.
        "laea_reproject": f"""
            WITH pts AS (SELECT CAST(c_custkey AS BIGINT) AS custkey,
                                {_PT_LON} AS lon,
                                {_PT_LAT} AS lat
                         FROM customer)
            {_laea_cte("pts", "lon", "lat")}
            SELECT custkey,
                   CAST(floor(x3035 * 100.0 + 0.5) AS BIGINT) AS x_cm,
                   CAST(floor(y3035 * 100.0 + 0.5) AS BIGINT) AS y_cm
            FROM laea
        """,
        "stream_locf_equiv": """
            SELECT CAST(NULL AS BIGINT) AS doc_id,
                   CAST(NULL AS BIGINT) AS grid_day,
                   CAST(NULL AS DOUBLE) AS value
            WHERE 1 = 0
        """,
        # codec round-trip: the Spark side encodes every raw-tier row's
        # (buckets, values) on demand, decodes the streams and compares
        # them bit for bit to the arrays; the codec is lossless by
        # contract, so the oracle is the closed-form row set itself —
        # ok=true for every generated doc (doc_fields never yields
        # an all-nodata doc: 20+ tokens at 10% gap odds). A decode bug,
        # a dropped doc, or a spurious row all hash-mismatch.
        "gorilla_roundtrip": """
            SELECT printf('doc%08d', i) AS doc_id,
                   CAST(true AS BOOLEAN) AS ok
            FROM range(300) t(i)
        """,
        "semdedup": f"""
            WITH {_kmeans_ctes(8, 3)},
            vn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vn
                   FROM vv),
            keepc AS (SELECT cell FROM kmassign
                      GROUP BY cell HAVING count(*) <= 20000),
            side AS (SELECT a.vec_id, a.cell, a.qdist, n.v, n.vn
                     FROM kmassign a
                     JOIN vn n USING (vec_id)
                     JOIN keepc USING (cell)),
            pr AS (SELECT l.vec_id AS ida, r.vec_id AS idb,
                          l.qdist AS qa, r.qdist AS qb,
                          CAST(floor(list_dot_product(l.v, r.v)
                                     / (l.vn * r.vn) * 1000000 + 0.5)
                               AS BIGINT) AS cos_e6
                   FROM side l JOIN side r USING (cell)
                   WHERE l.vec_id < r.vec_id),
            losers AS (SELECT DISTINCT
                              CASE WHEN (qa, ida) < (qb, idb)
                                   THEN ida ELSE idb END AS vec_id
                       FROM pr WHERE cos_e6 >= 400000)
            SELECT a.vec_id, a.cell, a.qdist,
                   CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END AS keep
            FROM kmassign a LEFT JOIN losers l USING (vec_id)
        """,
        "dsir_select": f"""
            WITH d AS (SELECT doc_id, source, lang = 'en' AS tgt,
                              {_WORDS} AS w
                       FROM documents),
            feats AS (SELECT doc_id, tgt, unnest(w) AS f FROM d
                      UNION ALL
                      SELECT doc_id, tgt, w[i] || ' ' || w[i+1] AS f
                      FROM d, unnest(generate_series(1, len(w) - 1)) AS t(i)),
            fb AS (SELECT doc_id, tgt,
                          CAST('0x' || substr(md5(f), 1, 15) AS BIGINT)
                            % 4096 AS b
                   FROM feats),
            tf AS (SELECT doc_id, b, count(*) AS tf FROM fb GROUP BY 1, 2),
            ct AS (SELECT b, count(*) AS ct FROM fb WHERE tgt GROUP BY b),
            cr AS (SELECT b, count(*) AS cr FROM fb GROUP BY b),
            nt AS (SELECT count(*) AS nt FROM fb WHERE tgt),
            nr AS (SELECT count(*) AS nr FROM fb),
            wts AS (SELECT doc_id,
                           CAST(sum(tf) AS BIGINT) AS n_feats,
                           CAST(sum(CAST(floor(
                               (ln((coalesce(ct, 0) + 1.0) / (nt + 4096.0))
                                - ln((cr + 1.0) / (nr + 4096.0)))
                               * 1000000 + 0.5) AS BIGINT) * tf)
                             AS BIGINT) AS logw_e6
                    FROM tf LEFT JOIN ct USING (b)
                            JOIN cr USING (b)
                            CROSS JOIN nt CROSS JOIN nr
                    GROUP BY doc_id),
            g AS (SELECT w.doc_id, w.n_feats, w.logw_e6, d.source,
                         w.logw_e6 + CAST(floor(-ln(-ln(
                             (CAST('0x' || substr(md5('dsir:' ||
                                  CAST(w.doc_id AS VARCHAR)), 1, 15)
                               AS BIGINT) % 1125899906842624 + 1)
                             / 1125899906842626.0)) * 1000000 + 0.5)
                           AS BIGINT) AS gkey_e6
                  FROM wts w JOIN d ON w.doc_id = d.doc_id)
            SELECT doc_id, n_feats, logw_e6, gkey_e6, source,
                   CASE WHEN row_number() OVER (
                            PARTITION BY source
                            ORDER BY gkey_e6 DESC, doc_id ASC) <= 10
                        THEN 1 ELSE 0 END AS picked
            FROM g
        """,
        # sink->source round-trip contract: correct value is the empty diff
        "shapefile_roundtrip": """
            SELECT CAST(NULL AS BIGINT) AS fid,
                   CAST(NULL AS DOUBLE) AS x,
                   CAST(NULL AS DOUBLE) AS y,
                   CAST(NULL AS BIGINT) AS nkey,
                   CAST(NULL AS VARCHAR) AS name,
                   CAST(NULL AS INTEGER) AS epsg
            WHERE 1 = 0
        """,
        # the twin-contract queries return a symmetric streaming-vs-batch
        # diff whose CORRECT value is the empty relation; the oracle is
        # that empty relation, so the standard rows+schema+hash check
        # proves the equivalence (a non-empty diff fails rowcount)
        "stream_fold_equiv": """
            SELECT CAST(NULL AS BIGINT) AS doc_id,
                   CAST(NULL AS BIGINT) AS bucket_start,
                   CAST(NULL AS BIGINT) AS bucket_end,
                   CAST(NULL AS DOUBLE) AS value,
                   CAST(NULL AS BIGINT) AS n_obs
            WHERE 1 = 0
        """,
        "stream_ohlc_equiv": """
            SELECT CAST(NULL AS BIGINT) AS doc_id,
                   CAST(NULL AS BIGINT) AS bucket_start,
                   CAST(NULL AS BIGINT) AS bucket_end,
                   CAST(NULL AS DOUBLE) AS open,
                   CAST(NULL AS DOUBLE) AS high,
                   CAST(NULL AS DOUBLE) AS low,
                   CAST(NULL AS DOUBLE) AS close,
                   CAST(NULL AS BIGINT) AS n_obs
            WHERE 1 = 0
        """,
        "stream_cusum_equiv": """
            SELECT CAST(NULL AS BIGINT) AS user_id,
                   CAST(NULL AS BIGINT) AS n,
                   CAST(NULL AS DOUBLE) AS s_pos_max,
                   CAST(NULL AS DOUBLE) AS s_neg_max,
                   CAST(NULL AS BIGINT) AS break_day,
                   CAST(NULL AS INTEGER) AS break_side
            WHERE 1 = 0
        """,
        "hash_sample": _hash_sample_oracle_sql(_SAMPLE_RATES),
        "session_stats": _SESSION_ORACLE,
        "hll_distinct": _hll_oracle_sql(),
        "cm_counts": f"""
            WITH tok AS (SELECT unnest({_WORDS}) AS term FROM documents),
            th AS (SELECT CAST('0x' || substr(md5(term), 1, 7) AS BIGINT)
                          % 2147483647 AS h FROM tok),
            cells AS (SELECT row, col, CAST(count(*) AS BIGINT) AS cnt FROM (
                SELECT unnest([0, 1, 2, 3]) AS row,
                       unnest([((h*7+3) % 2147483647) % 1024,
                               ((h*11+5) % 2147483647) % 1024,
                               ((h*13+17) % 2147483647) % 1024,
                               ((h*19+23) % 2147483647) % 1024]) AS col
                FROM th) GROUP BY row, col),
            pr AS (SELECT term, unnest([0, 1, 2, 3]) AS row,
                          unnest([((h*7+3) % 2147483647) % 1024,
                                  ((h*11+5) % 2147483647) % 1024,
                                  ((h*13+17) % 2147483647) % 1024,
                                  ((h*19+23) % 2147483647) % 1024]) AS col
                   FROM (SELECT term,
                                CAST('0x' || substr(md5(term), 1, 7) AS BIGINT)
                                % 2147483647 AS h
                         FROM (VALUES {", ".join(f"('{t}')" for t in _CM_PROBE_TERMS)})
                              AS v(term)))
            SELECT term, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
            FROM pr LEFT JOIN cells USING (row, col) GROUP BY term
        """,
        "repetition": f"""
            WITH base AS (SELECT doc_id, {_WORDS} AS w FROM documents),
            tok AS (SELECT doc_id, unnest(w) AS term,
                           generate_subscripts(w, 1) AS i FROM base),
            runs AS (SELECT doc_id, term,
                            i - row_number() OVER (PARTITION BY doc_id, term
                                                   ORDER BY i) AS grp
                     FROM tok),
            maxrun AS (SELECT doc_id, max(c) AS max_run FROM (
                           SELECT doc_id, count(*) AS c FROM runs
                           GROUP BY doc_id, term, grp)
                       GROUP BY doc_id),
            big AS (SELECT doc_id,
                           unnest(list_transform(range(1, len(w)),
                                                 i -> w[i] || ' ' || w[i+1])) AS bg
                    FROM base),
            topbig AS (SELECT doc_id, max(c) AS top FROM (
                           SELECT doc_id, bg, count(*) AS c FROM big
                           GROUP BY doc_id, bg)
                       GROUP BY doc_id)
            SELECT b.doc_id,
                   len(w) AS n_tokens,
                   CASE WHEN len(w) > 0
                        THEN 1.0 - len(list_distinct(w)) / len(w)
                        ELSE 0.0 END AS dup_word_frac,
                   CASE WHEN len(w) > 1
                        THEN coalesce(t.top, 0) / (len(w) - 1)
                        ELSE 0.0 END AS top_bigram_frac,
                   coalesce(m.max_run, 0) AS max_run
            FROM base b
            LEFT JOIN maxrun m ON b.doc_id = m.doc_id
            LEFT JOIN topbig t ON b.doc_id = t.doc_id
        """,
        "pii_scrub": """
            WITH injected AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0
                                THEN text || ' contact user' ||
                                     CAST(doc_id AS VARCHAR) ||
                                     '@example.com now'
                            WHEN doc_id % 7 = 0
                                THEN text || ' call 555-867-5309'
                            ELSE text END AS text
                FROM documents)
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
                   len(regexp_extract_all(no_email,
                       '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS n_phones,
                   md5(regexp_replace(no_email,
                       '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g')) AS clean_key
            FROM (SELECT doc_id, text,
                         regexp_replace(text,
                             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                             '<EMAIL>', 'g') AS no_email
                  FROM injected)
        """,
        "heavy_hitters": f"""
            SELECT term, count(*) AS count_lb
            FROM (SELECT unnest({_WORDS}) AS term FROM documents)
            GROUP BY term
            ORDER BY count_lb DESC, term ASC
            LIMIT 10
        """,
        "length_quantiles": """
            WITH ranked AS (
                SELECT source, n_chars AS v,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY n_chars ASC) AS rn,
                       count(*) OVER (PARTITION BY source) AS n
                FROM documents)
            SELECT source, CAST(max(n) AS BIGINT) AS n,
                   min(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                            THEN v END) AS q25,
                   min(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                            THEN v END) AS q50,
                   min(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
                            THEN v END) AS q75,
                   min(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                            THEN v END) AS q95
            FROM ranked GROUP BY source
        """,
        "source_cap": """
            SELECT doc_id, source, rk FROM (
                SELECT doc_id, source,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY md5(source || ':' ||
                                        CAST(doc_id AS VARCHAR)) ASC,
                                    doc_id ASC) AS rk
                FROM documents)
            WHERE rk <= 300
        """,
        "dup_spans": f"""
            WITH w AS (SELECT doc_id, {_WORDS} AS w FROM documents),
            sh AS (SELECT doc_id, i - 1 AS pos,
                          CAST('0x' || substr(md5(array_to_string(w[i:i+14], ' ')), 1, 15) AS BIGINT) AS h
                   FROM w, unnest(generate_series(1, len(w) - 14)) AS t(i)),
            d AS (SELECT doc_id, pos FROM (
                    SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS c
                    FROM sh) WHERE c >= 2),
            runs AS (SELECT doc_id, pos,
                            pos - row_number() OVER (PARTITION BY doc_id
                                                     ORDER BY pos) AS grp
                     FROM d)
            SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(pos) + 14 AS BIGINT) AS span_end,
                   CAST(max(pos) - min(pos) + 15 AS BIGINT) AS span_len
            FROM runs GROUP BY doc_id, grp
        """,
        "cusum_breaks": f"""
            WITH series AS ({_SERIES_SQL}),
            -- mean-shifted moments, mirroring cusum_breaks' _SHIFT_STATS
            -- treatment: variance of centered values, exact for |mean|>>std
            c AS (SELECT doc_id, day,
                         CAST(value AS DOUBLE)
                           - avg(CAST(value AS DOUBLE)) OVER (PARTITION BY doc_id) AS c
                  FROM series),
            z AS (SELECT doc_id, day,
                         CASE WHEN vr <= 0 THEN 0.0
                              ELSE (c - m2) / sqrt(vr) END AS z
                  FROM (SELECT doc_id, day, c,
                               avg(c) OVER (PARTITION BY doc_id) AS m2,
                               avg(c * c) OVER (PARTITION BY doc_id)
                                 - avg(c) OVER (PARTITION BY doc_id)
                                   * avg(c) OVER (PARTITION BY doc_id) AS vr
                        FROM c)),
            p AS (SELECT doc_id, day,
                         sum(z - 0.25) OVER (PARTITION BY doc_id ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
                         sum(-z - 0.25) OVER (PARTITION BY doc_id ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pn
                  FROM z),
            s AS (SELECT doc_id, day,
                         pp - least(min(pp) OVER (PARTITION BY doc_id ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS sp,
                         pn - least(min(pn) OVER (PARTITION BY doc_id ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS sn
                  FROM p),
            a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
                         round(max(sp), 6) AS s_pos_max,
                         round(max(sn), 6) AS s_neg_max,
                         min(CASE WHEN sp > 3.0 THEN day END) AS bp,
                         min(CASE WHEN sn > 3.0 THEN day END) AS bn
                  FROM s GROUP BY doc_id)
            SELECT doc_id, n, s_pos_max, s_neg_max,
                   CASE WHEN bp IS NULL THEN bn
                        WHEN bn IS NULL THEN bp
                        ELSE least(bp, bn) END AS break_day,
                   CASE WHEN bp IS NULL AND bn IS NULL THEN 0
                        WHEN bp IS NOT NULL AND (bn IS NULL OR bp <= bn) THEN 1
                        ELSE -1 END AS break_side
            FROM a
        """,
        "mixture_plan": _MIXTURE_PLAN_SQL,
        "mixture_sample": f"""
            WITH plan AS ({_MIXTURE_PLAN_SQL}),
            r AS (SELECT doc_id, source,
                         row_number() OVER (
                             PARTITION BY source
                             ORDER BY md5(source || ':' ||
                                          CAST(doc_id AS VARCHAR)) ASC,
                                      doc_id ASC) AS rk
                  FROM documents)
            SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
            FROM r JOIN plan USING (source) WHERE rk <= target_n
        """,
        "mixture_tokens": """
            WITH plan AS (
                SELECT source,
                       CAST(floor(weight * (CAST(0.4 AS DOUBLE) * CAST(total AS DOUBLE))) AS BIGINT) AS target_toks
                FROM (SELECT source, toks,
                             round(pow(CAST(toks AS DOUBLE), 0.7)
                                   / sum(pow(CAST(toks AS DOUBLE), 0.7)) OVER (), 6) AS weight,
                             sum(toks) OVER () AS total
                      FROM (SELECT source, CAST(sum(n_chars) AS BIGINT) AS toks
                            FROM documents GROUP BY source))),
            r AS (SELECT doc_id, source,
                         sum(n_chars) OVER (
                             PARTITION BY source
                             ORDER BY md5(source || ':' ||
                                          CAST(doc_id AS VARCHAR)) ASC,
                                      doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
                  FROM documents)
            SELECT doc_id, source, CAST(cum_toks AS BIGINT) AS cum_toks
            FROM r JOIN plan USING (source) WHERE cum_toks <= target_toks
        """,
        "dup_span_removal": f"""
            WITH w AS (SELECT doc_id, {_WORDS} AS w FROM documents),
            sh AS (SELECT doc_id, i - 1 AS pos,
                          CAST('0x' || substr(md5(array_to_string(w[i:i+14], ' ')), 1, 15) AS BIGINT) AS h
                   FROM w, unnest(generate_series(1, len(w) - 14)) AS t(i)),
            g1 AS (SELECT doc_id, pos, h,
                          count(*) OVER (PARTITION BY h) AS c,
                          min(doc_id) OVER (PARTITION BY h) AS cdoc
                   FROM sh),
            g2 AS (SELECT doc_id, pos, c, cdoc,
                          min(CASE WHEN doc_id = cdoc THEN pos END)
                              OVER (PARTITION BY h) AS cpos
                   FROM g1),
            rem AS (SELECT doc_id, pos FROM g2
                    WHERE c >= 2 AND NOT (doc_id = cdoc AND pos = cpos)),
            cov AS (SELECT DISTINCT doc_id, tpos
                    FROM rem, unnest(generate_series(pos, pos + 14)) AS u(tpos)),
            tok AS (SELECT doc_id, j - 1 AS tpos, w[j] AS tokn
                    FROM w, unnest(generate_series(1, len(w))) AS s(j)),
            kept AS (SELECT t.doc_id, t.tpos, t.tokn
                     FROM tok t LEFT JOIN cov c
                       ON t.doc_id = c.doc_id AND t.tpos = c.tpos
                     WHERE c.doc_id IS NULL),
            k AS (SELECT doc_id, count(*) AS cnt,
                         array_to_string(list(tokn ORDER BY tpos), ' ') AS txt
                  FROM kept GROUP BY doc_id)
            SELECT w.doc_id,
                   CAST(len(w.w) AS BIGINT) AS n_tokens,
                   CAST(len(w.w) - coalesce(k.cnt, 0) AS BIGINT) AS n_removed,
                   md5(coalesce(k.txt, '')) AS clean_key
            FROM w LEFT JOIN k USING (doc_id)
        """,
        "simhash16": f"""
            SELECT doc_id, CAST({simhash_bits} AS BIGINT) AS simhash
            FROM (SELECT doc_id, list_distinct(list_transform({_WORDS}, x -> {_WH28})) AS base
                  FROM documents)
        """,
        "ngram_jaccard": f"""
            WITH w AS (SELECT doc_id, {_WORDS} AS w FROM documents),
            sh AS (SELECT doc_id,
                          list_distinct(list_transform({_SHINGLES3},
                                                       s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS shingles
                   FROM w WHERE len(w) >= 3),
            sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
            inv0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
            keep AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) <= 100),
            inv AS (SELECT doc_id, s FROM inv0 WHERE s IN (SELECT s FROM keep)),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM inv a JOIN inv b USING (s)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT doc_a, doc_b, jaccard FROM (
                SELECT doc_a, doc_b,
                       round(i / (sa.sz + sb.sz - i), 6) AS jaccard,
                       i / (sa.sz + sb.sz - i) AS raw_j
                FROM inter
                JOIN sizes sa ON doc_a = sa.doc_id
                JOIN sizes sb ON doc_b = sb.doc_id)
            WHERE raw_j >= 0.04
        """,
        "ngram_containment": f"""
            WITH w AS (SELECT doc_id, {_WORDS} AS w FROM documents),
            sh AS (SELECT doc_id,
                          list_distinct(list_transform({_SHINGLES3},
                                                       s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS shingles
                   FROM w WHERE len(w) >= 3),
            sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
            inv0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
            keep AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) <= 100),
            inv AS (SELECT doc_id, s FROM inv0 WHERE s IN (SELECT s FROM keep)),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM inv a JOIN inv b USING (s)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT doc_a, doc_b, containment_ab, containment_ba FROM (
                SELECT doc_a, doc_b,
                       round(i / sa.sz, 6) AS containment_ab,
                       round(i / sb.sz, 6) AS containment_ba,
                       i / sa.sz AS raw_a, i / sb.sz AS raw_b
                FROM inter
                JOIN sizes sa ON doc_a = sa.doc_id
                JOIN sizes sb ON doc_b = sb.doc_id)
            WHERE raw_a >= 0.5 OR raw_b >= 0.5
        """,
        "cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
                       FROM embeddings WHERE vec_id = 0),
            scored AS (
                SELECT q.query_id, e.vec_id,
                       list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qvec)
                       / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                                list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                          * sqrt(list_dot_product(q.qvec, q.qvec))) AS cs
                FROM embeddings e CROSS JOIN q)
            SELECT query_id, vec_id, round(cs, 6) AS cos_sim, rank FROM (
                SELECT query_id, vec_id, cs,
                       row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, vec_id) AS rank
                FROM scored)
            WHERE rank <= 10
        """,
        "embedding_norms": """
            SELECT vec_id, label,
                   round(sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 6) AS l2_norm
            FROM embeddings
        """,
        "fixed_windows": f"""
            SELECT doc_id,
                   array_to_string((list_transform(w, x -> length(x))
                                    || list_transform(generate_series(1, greatest(0, 64 - len(w))), i -> 0))[1:64],
                                   ',') AS window_str,
                   least(len(w), 64) AS valid_len
            FROM (SELECT doc_id, {_WORDS} AS w FROM documents)
        """,
    }

"""A1 — spectral-temporal metrics; A3 — trend analysis.

Reference:
- STM menu (MIN, Q01-Q99, MAX, AVG, STD, RNG, IQR, SKW, KRT, NUM) at
  ``force/skel/TSA.prm:300-312``;
- trend analysis (slope/intercept/R2 + significance) at
  ``force/skel/TSA.prm:335-343,483-497``.

All pure Column expressions, no Python. ``stm`` aggregates long rows;
``trend``, ``cusum_breaks``, ``cusum_scores``, ``holt_linear``,
``theil_sen`` and ``mann_kendall`` read series rows (*keys, days,
values), one whole series per row, through array expressions: no
explode, no exchange (the stored tier rows, or long rows nested once by
``seriesmap.series_rows``). STD/SKW/KRT use population
moments (numpy ddof=0 default, cf. np.nanstd at
``force/skel/dswi_harmonic_tsi.py:147``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sits_classification_spark.operators.folds import (
    _SHIFT_STATS,
    _array_sum,
    _shift_by_group_mean,
    fold_stat_expr,
)
from sits_classification_spark.operators.seriesmap import series_keys


STM_DEFAULT = ("MIN", "Q25", "Q50", "Q75", "MAX", "AVG", "STD", "RNG", "IQR", "NUM")


def stm(
    df: DataFrame,
    value_col: str = "value",
    keys: tuple[str, ...] = ("doc_id", "source"),
    stats: tuple[str, ...] = STM_DEFAULT,
) -> DataFrame:
    """Per-series spectral-temporal metrics, one column per statistic.
    SKW/KRT are computed on per-group shifted values (shift-invariant stats;
    raw E[x^4] moments cancel catastrophically when |mean| >> std)."""
    vcols = {s: value_col for s in stats}
    if any(s.upper() in _SHIFT_STATS for s in stats):
        df = _shift_by_group_mean(df, value_col, keys)
        for s in stats:
            if s.upper() in _SHIFT_STATS:
                vcols[s] = "_vc"
    aggs = [fold_stat_expr(vcols[s], s).alias(s.lower()) for s in stats]
    return df.groupBy(*keys).agg(*aggs)


def trend_sql(count, mean, vmin, vmax) -> tuple[str, str, str, str]:
    """SQL text of the OLS trend of y on x over one series: (slope,
    intercept, r2, t_stat), from reducers each returning an atomic SQL
    term: ``count()``, ``mean(*f)`` (the mean of the product of the
    factors f, each "x" or "y"), ``vmin()`` and ``vmax()`` of y. Written
    once for the series rows (``trend``) and the SQL oracle.

    The t-stat backs the reference's TAIL/CONF significance test
    (``TSA.prm:335-343``): t = slope / se(slope), with
    se = sqrt(rss/(n-2)) / sqrt(sxx). A constant y has zero y-moments,
    not their rounding residue, so its slope is 0, its r2 is 1 and its
    t_stat NULL. The t_stat is NULL where se is undefined or not positive
    (n <= 2, one distinct x, a perfect fit), never an ANSI DIVIDE_BY_ZERO
    or the NaN of a rounding-negative rss; the guards are nested CASEs, so
    each division only runs once the guard before it holds."""
    mx, my = mean("x"), mean("y")
    flat = f"{vmin()} = {vmax()}"
    mxx = f"({mean('x', 'x')} - {mx}*{mx})"
    mxy = f"(CASE WHEN {flat} THEN CAST(0 AS DOUBLE) ELSE {mean('x', 'y')} - {mx}*{my} END)"
    myy = f"(CASE WHEN {flat} THEN CAST(0 AS DOUBLE) ELSE {mean('y', 'y')} - {my}*{my} END)"
    rss = f"({myy} - {mxy}*{mxy}/{mxx})"
    slope = f"(CASE WHEN {mxx} <> 0 THEN {mxy}/{mxx} END)"
    # least: on a perfect fit the moments' rounding can push r2 past 1
    r2 = (
        f"(CASE WHEN {mxx} <> 0 THEN CASE WHEN {myy} = 0 THEN CAST(1 AS DOUBLE)"
        f" ELSE least({mxy}*{mxy}/({mxx}*{myy}), CAST(1 AS DOUBLE)) END END)"
    )
    t_stat = (
        f"(CASE WHEN {count()} > 2 AND {mxx} <> 0 THEN"
        f" CASE WHEN {rss} > 0 THEN"
        f" (({mxy}/{mxx}) / sqrt({rss}"
        f" / (({count()}-2)*{mxx}))) END END)"
    )
    return slope, f"({my} - {slope}*{mx})", r2, t_stat


# two-sided / one-sided 5% critical values of Student's t by degrees of
# freedom (standard published table); df > 30 falls back to the normal
# approximation. Backs the TSA.prm:483-497 TAIL/CONF significance decision
# at CONF=0.95.
T_CRIT_TWO_95 = {
    1: 12.706, 2: 4.303, 3: 3.182, 4: 2.776, 5: 2.571, 6: 2.447, 7: 2.365,
    8: 2.306, 9: 2.262, 10: 2.228, 11: 2.201, 12: 2.179, 13: 2.160,
    14: 2.145, 15: 2.131, 16: 2.120, 17: 2.110, 18: 2.101, 19: 2.093,
    20: 2.086, 21: 2.080, 22: 2.074, 23: 2.069, 24: 2.064, 25: 2.060,
    26: 2.056, 27: 2.052, 28: 2.048, 29: 2.045, 30: 2.042,
}
T_CRIT_ONE_95 = {
    1: 6.314, 2: 2.920, 3: 2.353, 4: 2.132, 5: 2.015, 6: 1.943, 7: 1.895,
    8: 1.860, 9: 1.833, 10: 1.812, 11: 1.796, 12: 1.782, 13: 1.771,
    14: 1.761, 15: 1.753, 16: 1.746, 17: 1.740, 18: 1.734, 19: 1.729,
    20: 1.725, 21: 1.721, 22: 1.717, 23: 1.714, 24: 1.711, 25: 1.708,
    26: 1.706, 27: 1.703, 28: 1.701, 29: 1.699, 30: 1.697,
}


def t_test_sql(t: str, n: str, tail: str) -> tuple[str, str]:
    """SQL text of the CONF=0.95 TAIL test of the t-stat `t` of a series of
    `n` points: (the 5% critical value at df = n-2, the verdict, NULL where
    `t` is)."""
    table = T_CRIT_TWO_95 if tail == "TWO" else T_CRIT_ONE_95
    # CAST each branch: Spark types bare literals as DECIMAL and the mixed
    # CASE comes back as string, not double
    whens = " ".join(
        f"WHEN {n}-2 <= {df} THEN CAST({v} AS DOUBLE)"
        for df, v in sorted(table.items())
    )
    z = 1.96 if tail == "TWO" else 1.645
    crit = f"(CASE {whens} ELSE CAST({z} AS DOUBLE) END)"
    sig = {"TWO": f"abs({t}) > {crit}", "RIGHT": f"{t} > {crit}", "LEFT": f"{t} < -{crit}"}
    return crit, sig[tail]


def trend(rows: DataFrame, tail: str | None = None) -> DataFrame:
    """A3 per-series OLS trend over series rows (*keys, days, values) with
    non-null values: (*keys, slope, intercept, r2, n, t_stat); with `tail`
    in {LEFT, TWO, RIGHT} the CONF=0.95 significance decision
    (``TSA.prm:483-497``) instead: (*keys, slope, t_stat, t_crit,
    significant, n). A row without points has no trend and gives no row.

    The power sums of x = day and y = value run over each row's arrays
    left to right from 0.0, the order in which an ``avg`` adds the same
    points exploded in array order, and feed ``trend_sql``. No explode,
    no exchange, no Python."""
    if tail not in (None, "LEFT", "TWO", "RIGHT"):
        raise ValueError(tail)
    keys = series_keys(rows)
    xy = "zip_with(days, `values`, (x, y) -> x * y)"
    sums = {"x": ("days", 1), "xx": ("days", 2), "y": ("`values`", 1), "yy": ("`values`", 2), "xy": (xy, 1)}
    staged = [F.expr(_array_sum(a, k)).alias(f"_s{f}") for f, (a, k) in sums.items()]
    slope, intercept, r2, t = trend_sql(
        count=lambda: "_n",
        mean=lambda *f: f"(_s{''.join(f)} / _n)",
        vmin=lambda: "array_min(`values`)",
        vmax=lambda: "array_max(`values`)",
    )
    n = F.col("_n").cast("long").alias("n")
    if tail is None:
        out = [F.expr(slope).alias("slope"), F.expr(intercept).alias("intercept"),
               F.expr(r2).alias("r2"), n, F.expr(t).alias("t_stat")]
    else:
        crit, sig = t_test_sql(t, "_n", tail)
        out = [F.expr(slope).alias("slope"), F.expr(t).alias("t_stat"), F.expr(crit).alias("t_crit"),
               F.expr(sig).alias("significant"), n]
    return (
        rows.where(F.size("values") > 0)
        .select(*keys, "values", F.size("values").alias("_n"), *staged)
        .select(*keys, *out)
    )


def cusum_breaks(rows: DataFrame, k: float = 0.5, h: float = 5.0) -> DataFrame:
    """Two-sided mean-shift CUSUM break detection (Page 1954) per series
    row (*keys, days, values), days ascending — the change/break-detection
    step of an NRT monitoring setup (the decision layer downstream of the
    TSA.prm:335-343 trend test; the reference screens per-pixel residual
    drift in numpy, this screens every series in one pass).

    Per series: z_t = (x_t - mean)/std (population moments), then
    ``cusum_scores`` over the z. A zero-variance series has z = 0
    everywhere and never breaks.

    The variance is computed on MEAN-SHIFTED values (the folds._SHIFT_STATS
    rationale): the raw-moment form E[v^2] - E[v]^2 cancels to noise when
    |mean| >> std (mean ~1e8, std ~1 loses every significant bit and can
    go <= 0, silently forcing z = 0 and suppressing real breaks); on
    centered values the subtraction is O(std^2), exact. Every sum runs
    over the row left to right from 0.0; each scalar enters its ``zip_with``
    through ``array_repeat``, so it is computed once per row."""
    keys = series_keys(rows)
    n = "size(`values`)"
    c = rows.where(F.size("values") > 0).select(*keys, "days", F.expr(
        f"zip_with(`values`, array_repeat({_array_sum('`values`')} / {n}, {n}), (x, m) -> x - m)"
    ).alias("_c"))
    m2 = f"{_array_sum('_c')} / size(_c)"  # ~0: the float residual of the shift
    var = f"{_array_sum('_c', 2)} / size(_c) - _m2 * _m2"
    z = c.select(*keys, "days", "_c", F.expr(m2).alias("_m2")).select(
        *keys, "days", F.expr(
            f"zip_with(_c, array_repeat(struct(_m2 AS m, {var} AS v), size(_c)),"
            " (c, s) -> CASE WHEN s.v <= 0 THEN 0D ELSE (c - s.m) / sqrt(s.v) END)"
        ).alias("values"),
    )
    return cusum_scores(z, k=k, h=h)


def cusum_scores(rows: DataFrame, k: float = 0.5, h: float = 5.0) -> DataFrame:
    """CUSUM final over series rows (*keys, days, values) whose values are
    PRECOMPUTED standardized scores z, days ascending — the shared decision
    machinery of `cusum_breaks` (self-standardized) and the NRT
    residual-monitoring composition (scores = harmonic residuals over the
    monitoring window standardized by the fit-window sigma).

    S+_t = max(0, S+_{t-1} + z_t - k), S-_t = max(0, S-_{t-1} - z_t - k);
    a break fires at the first t where either side exceeds h. The
    recurrence has the closed form S_t = P_t - min(0, min_{j<=t} P_j)
    with P the prefix sum of the side's steps (the reflected-random-walk
    identity), so one ``aggregate`` fold over the day-ordered points
    carries, per side, the prefix sum, its running min from 0, the max of
    S and the first day S crosses h: no UDF, no window, no exchange.

    Returns one row per series: n (point count), s_pos_max /
    s_neg_max (rounded at 6, so engines whose standardization sums in
    another order agree), break_day (first crossing day, NULL if none) and
    break_side (+1/-1, positive side wins a same-day tie; 0 when no
    break). Assumes one point per (series, day) — the tier contract."""
    keys = series_keys(rows)
    init = F.struct(
        *(F.lit(0.0).alias(f) for f in ("pp", "pn", "mp", "mn", "sp", "sn")),
        *(F.lit(None).cast("long").alias(f) for f in ("bp", "bn")),
    )

    def step(acc, p):
        day, z = p["days"].cast("long"), p["values"]
        pp, pn = acc["pp"] + (z - F.lit(k)), acc["pn"] + (-z - F.lit(k))
        mp, mn = F.least(acc["mp"], pp), F.least(acc["mn"], pn)
        sp, sn = pp - mp, pn - mn
        return F.struct(
            pp.alias("pp"), pn.alias("pn"), mp.alias("mp"), mn.alias("mn"),
            F.greatest(acc["sp"], sp).alias("sp"), F.greatest(acc["sn"], sn).alias("sn"),
            # least skips NULL: the earliest crossing day so far
            F.least(acc["bp"], F.when(sp > h, day)).alias("bp"),
            F.least(acc["bn"], F.when(sn > h, day)).alias("bn"),
        )

    agg = rows.select(
        *keys,
        F.size("values").cast("long").alias("n"),
        F.aggregate(F.arrays_zip("days", "values"), init, step).alias("_s"),
    )
    break_day = F.least("_s.bp", "_s.bn")
    break_side = F.when(break_day.isNull(), 0).when(F.col("_s.bp") == break_day, 1).otherwise(-1)
    return agg.select(
        *keys,
        "n",
        F.round("_s.sp", 6).alias("s_pos_max"),
        F.round("_s.sn", 6).alias("s_neg_max"),
        break_day.alias("break_day"),
        break_side.alias("break_side"),
    )


def standardize(
    df: DataFrame,
    value_col: str = "value",
    key: str = "doc_id",
    mode: str = "NORMALIZE",
) -> DataFrame:
    """W11: per-series NONE/NORMALIZE/CENTER (``TSA.prm:184-186``).

    NORMALIZE = (v-mean)/std (population std), CENTER = v-mean.
    """
    w = Window.partitionBy(key)
    mean = F.avg(value_col).over(w)
    if mode == "NONE":
        return df.withColumn("standardized", F.col(value_col).cast("double"))
    if mode == "CENTER":
        return df.withColumn("standardized", F.col(value_col) - mean)
    if mode == "NORMALIZE":
        m2 = F.avg(F.col(value_col) * F.col(value_col)).over(w) - mean * mean
        return df.withColumn("standardized", (F.col(value_col) - mean) / F.sqrt(m2))
    raise ValueError(mode)


def holt_linear(rows: DataFrame) -> DataFrame:
    """Holt's linear-trend double exponential smoothing (Holt 1957;
    alpha = beta = 1/2) over each series row (*keys, days, values), days
    ascending — the SES (ewma_level) family's trend-aware sibling, the
    standard NRT level+slope tracker. Init state at t=2 is
    (l_2, b_2) = (x_2, x_2 − x_1) — the textbook l_1 = x_1,
    b_1 = x_2 − x_1 initialization advanced one EXACT step (in real
    arithmetic the t=2 update yields exactly these; pinning the advanced
    form avoids the float non-identity of 0.5·x_2 + 0.5·(x_1 + (x_2 − x_1))
    vs x_2) — then for t >= 3:

        l_t = 0.5·x_t + 0.5·(l_{t-1} + b_{t-1})
        b_t = 0.5·(l_t − l_{t-1}) + 0.5·b_{t-1}

    alpha = beta = 1/2 keeps every operation an add or an EXACT halving —
    libm pow never runs, so a SQL engine replaying the identical
    expression tree (a recursive CTE stepping t -> t+1) lands on
    bit-identical doubles at every step (the ewma_level determinism
    posture, extended to a genuinely sequential recurrence that has no
    closed weighted form cheap enough to mirror).

    Plan: a JVM-side array fold (F.aggregate) over each row's `values`
    — the recurrence never leaves whole-stage codegen, no UDF, no
    exchange. The fold is O(n) per series.

    Returns (*keys, n_obs, level, trend, forecast) with forecast the
    one-step-ahead l_T + b_T; single-point series carry trend 0.0."""
    keys = series_keys(rows)
    v = F.col("values")
    n = F.size(v)
    x1 = F.element_at(v, 1).cast("double")
    x2 = F.element_at(v, 2).cast("double")
    init = F.struct(x2.alias("l"), (x2 - x1).alias("b"))

    def step(acc, x):
        x = x.cast("double")
        lnew = F.lit(0.5) * x + F.lit(0.5) * (acc["l"] + acc["b"])
        bnew = F.lit(0.5) * (lnew - acc["l"]) + F.lit(0.5) * acc["b"]
        return F.struct(lnew.alias("l"), bnew.alias("b"))

    fold = F.aggregate(F.slice(v, 3, F.greatest(n - 2, F.lit(0))), init, step)
    level = F.when(n == 1, x1).otherwise(fold["l"])
    trend_ = F.when(n == 1, F.lit(0.0)).otherwise(fold["b"])
    return rows.select(
        *keys,
        n.cast("long").alias("n_obs"),
        level.alias("level"),
        trend_.alias("trend"),
        (level + trend_).alias("forecast"),
    )


def theil_sen(rows: DataFrame) -> DataFrame:
    """Theil–Sen robust trend (Theil 1950; Sen 1968) over each series row
    (*keys, days, values), days ascending: the median of all pairwise
    slopes (v_j − v_i)/(t_j − t_i), i < j in time order — the robust
    complement to the OLS trend operator (up to ~29% contaminated
    observations leave the estimate unmoved; cloud-slipped outliers that
    survive the QAI screen are exactly that contamination). Intercept =
    median of (v_i − slope·t_i) (Conover's form).

    Median rule: LOWER median — element at 1-based rank (m+1) DIV 2 of
    the ascending sort — the same percentile_disc-style rule
    group_quantiles pins, so a SQL oracle reproduces it by row_number.
    Slope doubles are identical cross-engine (one subtraction each side
    of one division), days are distinct within a series (the tier dedup
    contract), so no 0/0 and no cross-engine sort divergence.

    Plan: pair slopes generated JVM-side inside the row's arrays (the LSH
    in-bucket pattern — O(n²) values per series stay in one task-local
    array, n ~ 20-110 so m <= ~6k; no self-join, no pair shuffle, no
    exchange). One row per series of >= 2 points."""
    keys = series_keys(rows)
    g = rows.select(*keys, F.arrays_zip("days", "values").alias("a"))
    n = F.size("a")
    slopes = F.array_sort(
        F.flatten(
            F.transform(
                "a",
                lambda x, i: F.transform(
                    F.slice(F.col("a"), i + 2, F.size("a")),
                    lambda y: (y["values"].cast("double") - x["values"].cast("double"))
                    / (y["days"].cast("double") - x["days"].cast("double")),
                ),
            )
        )
    )
    g = g.select(*keys, "a", n.alias("n"), slopes.alias("s"))
    m = F.size("s")
    med = F.element_at("s", F.floor((m + 1) / 2).cast("int"))
    resid = F.array_sort(
        F.transform(
            "a", lambda p: p["values"].cast("double") - med * p["days"].cast("double")
        )
    )
    icept = F.element_at(resid, F.floor((F.col("n") + 1) / 2).cast("int"))
    return g.filter(F.col("n") >= 2).select(
        *keys,
        F.col("n").cast("long").alias("n_obs"),
        m.cast("long").alias("n_pairs"),
        med.alias("slope"),
        icept.alias("intercept"),
    )


def mann_kendall(rows: DataFrame) -> DataFrame:
    """Mann-Kendall trend test (Mann 1945; Kendall 1975) over each series
    row (*keys, days, values), days ascending — the standard
    nonparametric monotone-trend significance test, the canonical partner
    of the Theil-Sen slope in the SITS change literature (the reference's
    parametric counterpart is the OLS t-test at TSA.prm:335-343):

        S    = sum_{i<j} sign(x_j - x_i)
        VarS = [n(n-1)(2n+5) - sum_g t_g(t_g-1)(2t_g+5)] / 18
               (tie-group correction, groups g of equal values)
        Z    = (S-1)/sqrt(VarS) if S>0, 0 if S=0, (S+1)/sqrt(VarS) if S<0

    Everything before the final sqrt/division is exact int64: values are
    cent-quantized losslessly (2-decimal data), S is a sum of pair signs,
    and var18 = 18*VarS stays integer. Z is then derived from identical
    integers by the identical expression (sqrt(var18/18.0)) in both
    engines — bit-identical doubles. significant = |Z| > 1.96 (95%
    two-sided).

    Plan: pair signs AND the tie correction are generated JVM-side inside
    the row's quantized array (the theil_sen pattern — no self-join, no
    pair shuffle, no exchange): the group-wise tie sum
    sum_g t_g(t_g-1)(2t_g+5) equals the POSITION-wise sum over all i of
    (c_i - 1)(2c_i + 5) with c_i = count of elements equal to element i
    (each group of size t contributes its term t times, divided back by
    t via the per-position form staying integer), so one O(n^2) array
    pass replaces a groupBy+join. One row per series of >= 2 points."""
    keys = series_keys(rows)
    cq = F.transform("values", lambda v: F.floor(v * 100 + 0.5).cast("long"))
    g = rows.select(*keys, cq.alias("a"))
    signs = F.flatten(
        F.transform(
            "a",
            lambda x, i: F.transform(
                F.slice(F.col("a"), i + 2, F.size("a")),
                lambda y: F.signum((y - x).cast("double")).cast("long"),
            ),
        )
    )
    tie_terms = F.transform(
        "a",
        lambda x: F.aggregate(
            F.filter("a", lambda y: y == x),
            F.lit(0).cast("long"),
            lambda acc, _: acc + 1,
        ),
    )
    j = g.select(
        *keys,
        F.size("a").cast("long").alias("n_obs"),
        F.aggregate(signs, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "s_stat"
        ),
        F.aggregate(
            tie_terms,
            F.lit(0).cast("long"),
            lambda acc, c: acc + (c - 1) * (2 * c + 5),
        ).alias("tie_term"),
    )
    n = F.col("n_obs")
    var18 = n * (n - 1) * (2 * n + 5) - F.col("tie_term")
    z = (
        F.when(F.col("s_stat") > 0,
               (F.col("s_stat") - 1).cast("double")
               / F.sqrt(F.col("var18") / F.lit(18.0)))
        .when(F.col("s_stat") < 0,
              (F.col("s_stat") + 1).cast("double")
              / F.sqrt(F.col("var18") / F.lit(18.0)))
        .otherwise(F.lit(0.0))
    )
    return (
        j.filter(n >= 2)
        .withColumn("var18", var18.cast("long"))
        .select(
            *keys,
            "n_obs",
            "s_stat",
            "var18",
            z.alias("z"),
            (F.abs(z) > 1.96).cast("int").alias("significant"),
        )
    )

"""A1 — spectral-temporal metrics; A3 — trend analysis.

Reference:
- STM menu (MIN, Q01-Q99, MAX, AVG, STD, RNG, IQR, SKW, KRT, NUM) at
  ``force/skel/TSA.prm:300-312``;
- trend analysis (slope/intercept/R2 + significance) at
  ``force/skel/TSA.prm:335-343,483-497``.

All pure Column expressions (whole-stage codegen; partial+final agg free).
STD/SKW/KRT use population moments (numpy ddof=0 default, cf. np.nanstd at
``force/skel/dswi_harmonic_tsi.py:147``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sits_classification_spark.operators.folds import (
    _SHIFT_STATS,
    _shift_by_group_mean,
    fold_stat_expr,
)


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


def trend(
    df: DataFrame,
    x_col: str = "day",
    y_col: str = "value",
    keys: tuple[str, ...] = ("doc_id", "source"),
) -> DataFrame:
    """Per-series OLS trend: slope, intercept, r2, t-statistic of the slope.

    The t-stat backs the reference's TAIL/CONF significance test
    (``TSA.prm:335-343``): t = slope / se(slope), with
    se = sqrt(rss/(n-2)) / sqrt(sxx). It is NULL where se is undefined or
    zero (n <= 2, one distinct x, a perfect fit) instead of an ANSI
    DIVIDE_BY_ZERO; the guards are nested CASEs, so each division only runs
    once the guard before it holds.
    """
    x, y = F.col(x_col).cast("double"), F.col(y_col).cast("double")
    n, sxx = F.regr_count(y, x), F.regr_sxx(y, x)
    rss = F.regr_syy(y, x) - F.pow(F.regr_sxy(y, x), 2) / sxx
    t_stat = F.when(
        (n > 2) & (sxx != 0),
        F.when(rss != 0, F.regr_slope(y, x) / F.sqrt(rss / (n - 2) / sxx)),
    )
    return df.groupBy(*keys).agg(
        F.regr_slope(y, x).alias("slope"),
        F.regr_intercept(y, x).alias("intercept"),
        F.regr_r2(y, x).alias("r2"),
        n.alias("n"),
        t_stat.alias("t_stat"),
    )


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


def t_stat_sql(x: str = "day", y: str = "value") -> str:
    """Textual t-statistic of the OLS slope from explicit moments — shared
    verbatim with SQL oracles (regr_* internals differ across engines).
    NULL, not DIVIDE_BY_ZERO, where se(slope) is undefined or zero: n <= 2,
    one distinct x, or a perfect fit (same nested guards as `trend`)."""
    mxx = f"(avg({x}*{x}) - avg({x})*avg({x}))"
    mxy = f"(avg({x}*{y}) - avg({x})*avg({y}))"
    myy = f"(avg({y}*{y}) - avg({y})*avg({y}))"
    rss = f"({myy} - {mxy}*{mxy}/{mxx})"
    return (
        f"(CASE WHEN count({y}) > 2 AND {mxx} <> 0 THEN"
        f" CASE WHEN {rss} <> 0 THEN"
        f" (({mxy}/{mxx}) / sqrt({rss}"
        f" / ((count({y})-2)*{mxx}))) END END)"
    )


def t_crit_sql(n_expr: str, tail: str = "TWO") -> str:
    """CASE text mapping df = n-2 to the 5% critical value."""
    table = T_CRIT_TWO_95 if tail == "TWO" else T_CRIT_ONE_95
    # CAST each branch: Spark types bare literals as DECIMAL and the mixed
    # CASE comes back as string, not double
    whens = " ".join(
        f"WHEN {n_expr}-2 <= {df} THEN CAST({v} AS DOUBLE)"
        for df, v in sorted(table.items())
    )
    z = 1.96 if tail == "TWO" else 1.645
    return f"(CASE {whens} ELSE CAST({z} AS DOUBLE) END)"


def trend_significance(
    df: DataFrame,
    x_col: str = "day",
    y_col: str = "value",
    keys: tuple[str, ...] = ("doc_id",),
    tail: str = "TWO",
) -> DataFrame:
    """A3 significance decision (``TSA.prm:483-497``): per-series OLS slope,
    t-statistic, critical value at CONF=0.95 for TAIL in {LEFT, TWO, RIGHT},
    and the boolean verdict. Pure aggregate Column expressions.

    Rows with a null y are dropped up front: the textual moment formulas
    would otherwise mix x-moments over all rows with y-moments over
    non-null rows, which is not the OLS of the observed pairs (regr_*
    functions exclude null pairs; this matches them)."""
    if tail not in ("LEFT", "TWO", "RIGHT"):
        raise ValueError(tail)
    df = df.filter(F.col(y_col).isNotNull())
    t = t_stat_sql(x_col, y_col)
    crit = t_crit_sql(f"count({y_col})", tail)
    if tail == "TWO":
        sig = f"abs({t}) > {crit}"
    elif tail == "RIGHT":
        sig = f"{t} > {crit}"
    else:
        sig = f"{t} < -{crit}"
    mxx = f"(avg({x_col}*{x_col}) - avg({x_col})*avg({x_col}))"
    mxy = f"(avg({x_col}*{y_col}) - avg({x_col})*avg({y_col}))"
    return df.groupBy(*keys).agg(
        F.expr(f"CASE WHEN {mxx} <> 0 THEN {mxy}/{mxx} END").alias("slope"),
        F.expr(t).alias("t_stat"),
        F.expr(crit).alias("t_crit"),
        F.expr(sig).alias("significant"),
        F.count(y_col).alias("n"),
    )


def cusum_breaks(
    df: DataFrame,
    k: float = 0.5,
    h: float = 5.0,
    day_col: str = "day",
    value_col: str = "value",
    keys: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Two-sided mean-shift CUSUM break detection (Page 1954) per series —
    the change/break-detection step of an NRT monitoring setup (the decision
    layer downstream of the TSA.prm:335-343 trend test; the reference
    screens per-pixel residual drift in numpy, this screens every series in
    one pass).

    Per series: z_t = (x_t - mean)/std (population moments, same explicit
    formula as `standardize`), S+_t = max(0, S+_{t-1} + z_t - k),
    S-_t = max(0, S-_{t-1} - z_t - k); a break fires at the first t where
    either side exceeds h.

    The recurrence looks inherently sequential, but max(0, prev + u_t) has
    the closed form S_t = P_t - min(0, min_{j<=t} P_j) with P the prefix
    sum of u (the reflected-random-walk identity), so each side is just a
    running SUM plus a running MIN over the day-ordered window — no UDF,
    no collect, no iteration, one exchange partitioned by series that every
    window and the final aggregate all ride.

    Returns one row per series: n (obs count), s_pos_max / s_neg_max
    (rounded at 6 — the group mean/std are unordered float sums, so the
    last bits are engine-dependent), break_day (first crossing day, NULL if
    none) and break_side (+1/-1, positive side wins a same-day tie; 0 when
    no break). A zero-variance series has z = 0 everywhere and never
    breaks. Assumes one observation per (series, day) — the tier/W7
    contract; duplicate days would make the prefix-sum order, and hence
    the registers, tie-order-dependent.

    The variance is computed on per-group MEAN-SHIFTED values (the
    folds._SHIFT_STATS rationale): the raw-moment form E[v^2] - E[v]^2
    cancels to noise when |mean| >> std (mean ~1e8, std ~1 loses every
    significant bit and can go <= 0, silently forcing z = 0 and
    suppressing real breaks); on centered values the subtraction is
    O(std^2), exact. The staged shift projection rides the same (keys)
    exchange as every other window here."""
    wg = Window.partitionBy(*keys)
    v = F.col(value_col).cast("double")
    cdf = df.select(
        *keys,
        F.col(day_col).cast("long").alias("_day"),
        (v - F.avg(v).over(wg)).alias("_c"),
    )
    m2 = F.avg("_c").over(wg)  # ~0: the float residual of the shift
    var = F.avg(F.col("_c") * F.col("_c")).over(wg) - m2 * m2
    z = F.when(var <= 0, F.lit(0.0)).otherwise((F.col("_c") - m2) / F.sqrt(var))
    zdf = cdf.select(*keys, "_day", z.alias("_z"))
    return cusum_scores(zdf, k=k, h=h, day_col="_day", z_col="_z", keys=keys)


def cusum_scores(
    df: DataFrame,
    k: float = 0.5,
    h: float = 5.0,
    day_col: str = "day",
    z_col: str = "z",
    keys: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """CUSUM final over PRECOMPUTED standardized scores — the shared decision
    machinery of `cusum_breaks` (self-standardized) and the NRT
    residual-monitoring composition (scores = harmonic residuals over the
    monitoring window standardized by the fit-window sigma).

    Same reflected-walk closed form as cusum_breaks; windows cannot nest
    inside one projection (min-of-running-sum), so the detector is chained
    projections that all share the (keys) clustering — Catalyst plans ONE
    exchange feeding every Window node and the final aggregate."""
    run = (
        Window.partitionBy(*keys)
        .orderBy(F.col(day_col).cast("long"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pdf = df.select(
        *keys,
        F.col(day_col).cast("long").alias("_day"),
        F.sum(F.col(z_col) - F.lit(k)).over(run).alias("_pp"),
        F.sum(-F.col(z_col) - F.lit(k)).over(run).alias("_pn"),
    )
    run2 = (
        Window.partitionBy(*keys)
        .orderBy("_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = pdf.select(
        *keys,
        "_day",
        (F.col("_pp") - F.least(F.min("_pp").over(run2), F.lit(0.0))).alias("_sp"),
        (F.col("_pn") - F.least(F.min("_pn").over(run2), F.lit(0.0))).alias("_sn"),
    )
    bp = F.min(F.when(F.col("_sp") > h, F.col("_day")))
    bn = F.min(F.when(F.col("_sn") > h, F.col("_day")))
    agg = scored.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.max("_sp"), 6).alias("s_pos_max"),
        F.round(F.max("_sn"), 6).alias("s_neg_max"),
        bp.alias("_bp"),
        bn.alias("_bn"),
    )
    break_day = (
        F.when(F.col("_bp").isNull(), F.col("_bn"))
        .when(F.col("_bn").isNull(), F.col("_bp"))
        .otherwise(F.least("_bp", "_bn"))
    )
    break_side = (
        F.when(F.col("_bp").isNull() & F.col("_bn").isNull(), F.lit(0))
        .when(
            F.col("_bp").isNotNull()
            & (F.col("_bn").isNull() | (F.col("_bp") <= F.col("_bn"))),
            F.lit(1),
        )
        .otherwise(F.lit(-1))
    )
    return agg.select(
        *keys,
        "n",
        "s_pos_max",
        "s_neg_max",
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


def holt_linear(
    df: DataFrame,
    id_col: str = "doc_id",
    t_col: str = "day",
    v_col: str = "value",
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing (Holt 1957;
    alpha = beta = 1/2) over each time-ordered series — the SES
    (ewma_level) family's trend-aware sibling, the standard NRT level+
    slope tracker. Init state at t=2 is (l_2, b_2) = (x_2, x_2 − x_1) —
    the textbook l_1 = x_1, b_1 = x_2 − x_1 initialization advanced one
    EXACT step (in real arithmetic the t=2 update yields exactly these;
    pinning the advanced form avoids the float non-identity of
    0.5·x_2 + 0.5·(x_1 + (x_2 − x_1)) vs x_2) — then for t >= 3:

        l_t = 0.5·x_t + 0.5·(l_{t-1} + b_{t-1})
        b_t = 0.5·(l_t − l_{t-1}) + 0.5·b_{t-1}

    alpha = beta = 1/2 keeps every operation an add or an EXACT halving —
    libm pow never runs, so a SQL engine replaying the identical
    expression tree (a recursive CTE stepping t -> t+1) lands on
    bit-identical doubles at every step (the ewma_level determinism
    posture, extended to a genuinely sequential recurrence that has no
    closed weighted form cheap enough to mirror).

    Plan: ONE hash aggregate per doc (collect_list) riding the shared
    doc exchange, then a JVM-side array fold (F.aggregate) over the
    day-sorted pairs — the recurrence never leaves whole-stage codegen,
    no UDF, no per-step shuffle. Series length is the tier contract's
    ~20-110 observations; the fold is O(n) per doc.

    Returns (id, n_obs, level, trend, forecast) with forecast the
    one-step-ahead l_T + b_T; single-point series carry trend 0.0."""
    arr = F.array_sort(
        F.collect_list(F.struct(F.col(t_col).alias("t"), F.col(v_col).alias("v")))
    )
    g = df.groupBy(F.col(id_col)).agg(arr.alias("a"))
    n = F.size("a")
    x1 = F.element_at("a", 1)["v"].cast("double")
    x2 = F.element_at("a", 2)["v"].cast("double")
    init = F.struct(x2.alias("l"), (x2 - x1).alias("b"))

    def step(acc, p):
        x = p["v"].cast("double")
        lnew = F.lit(0.5) * x + F.lit(0.5) * (acc["l"] + acc["b"])
        bnew = F.lit(0.5) * (lnew - acc["l"]) + F.lit(0.5) * acc["b"]
        return F.struct(lnew.alias("l"), bnew.alias("b"))

    fold = F.aggregate(F.slice("a", 3, F.greatest(n - 2, F.lit(0))), init, step)
    level = F.when(n == 1, x1).otherwise(fold["l"])
    trend_ = F.when(n == 1, F.lit(0.0)).otherwise(fold["b"])
    return g.select(
        id_col,
        n.cast("long").alias("n_obs"),
        level.alias("level"),
        trend_.alias("trend"),
        (level + trend_).alias("forecast"),
    )


def theil_sen(
    df: DataFrame,
    id_col: str = "doc_id",
    t_col: str = "day",
    v_col: str = "value",
) -> DataFrame:
    """Theil–Sen robust trend (Theil 1950; Sen 1968): per series, the
    median of all pairwise slopes (v_j − v_i)/(t_j − t_i), i < j in time
    order — the robust complement to the OLS trend operator (up to ~29%
    contaminated observations leave the estimate unmoved; cloud-slipped
    outliers that survive the QAI screen are exactly that contamination).
    Intercept = median of (v_i − slope·t_i) (Conover's form).

    Median rule: LOWER median — element at 1-based rank (m+1) DIV 2 of
    the ascending sort — the same percentile_disc-style rule
    group_quantiles pins, so a SQL oracle reproduces it by row_number.
    Slope doubles are identical cross-engine (one subtraction each side
    of one division), days are distinct within a series (the tier dedup
    contract), so no 0/0 and no cross-engine sort divergence.

    Plan: one collect_list per doc on the shared exchange, pair slopes
    generated JVM-side inside the array (the LSH in-bucket pattern —
    O(n²) values per doc stay in one task-local array, n ~ 20-110 so
    m <= ~6k; no self-join, no pair shuffle). Output one row per doc."""
    arr = F.array_sort(
        F.collect_list(F.struct(F.col(t_col).alias("t"), F.col(v_col).alias("v")))
    )
    g = df.groupBy(F.col(id_col)).agg(arr.alias("a"))
    n = F.size("a")
    slopes = F.array_sort(
        F.flatten(
            F.transform(
                "a",
                lambda x, i: F.transform(
                    F.slice(F.col("a"), i + 2, F.size("a")),
                    lambda y: (y["v"].cast("double") - x["v"].cast("double"))
                    / (y["t"].cast("double") - x["t"].cast("double")),
                ),
            )
        )
    )
    g = g.select(id_col, "a", n.alias("n"), slopes.alias("s"))
    m = F.size("s")
    med = F.element_at("s", F.floor((m + 1) / 2).cast("int"))
    resid = F.array_sort(
        F.transform(
            "a", lambda p: p["v"].cast("double") - med * p["t"].cast("double")
        )
    )
    icept = F.element_at(resid, F.floor((F.col("n") + 1) / 2).cast("int"))
    return g.filter(F.col("n") >= 2).select(
        id_col,
        F.col("n").cast("long").alias("n_obs"),
        m.cast("long").alias("n_pairs"),
        med.alias("slope"),
        icept.alias("intercept"),
    )


def mann_kendall(
    df: DataFrame,
    id_col: str = "doc_id",
    t_col: str = "day",
    v_col: str = "value",
) -> DataFrame:
    """Mann-Kendall trend test (Mann 1945; Kendall 1975) — the standard
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
    the per-doc array (the theil_sen pattern — no self-join, no pair
    shuffle, no second derivation of the series): the group-wise tie sum
    sum_g t_g(t_g-1)(2t_g+5) equals the POSITION-wise sum over all i of
    (c_i - 1)(2c_i + 5) with c_i = count of elements equal to element i
    (each group of size t contributes its term t times, divided back by
    t via the per-position form staying integer), so one O(n^2) array
    pass replaces a groupBy+join. The whole test plans on the single
    shared doc exchange."""
    cq = F.floor(F.col(v_col) * 100 + 0.5).cast("long")
    base = df.select(F.col(id_col), F.col(t_col).alias("t"), cq.alias("cq"))
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("t"), F.col("cq")))
    )
    g = base.groupBy(id_col).agg(arr.alias("a"))
    signs = F.flatten(
        F.transform(
            "a",
            lambda x, i: F.transform(
                F.slice(F.col("a"), i + 2, F.size("a")),
                lambda y: F.signum(
                    (y["cq"] - x["cq"]).cast("double")
                ).cast("long"),
            ),
        )
    )
    tie_terms = F.transform(
        "a",
        lambda x: F.aggregate(
            F.filter("a", lambda y: y["cq"] == x["cq"]),
            F.lit(0).cast("long"),
            lambda acc, _: acc + 1,
        ),
    )
    j = g.select(
        id_col,
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
            id_col,
            "n_obs",
            "s_stat",
            "var18",
            z.alias("z"),
            (F.abs(z) > 1.96).cast("int").alias("significant"),
        )
    )

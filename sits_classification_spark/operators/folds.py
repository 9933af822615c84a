"""A2 — fold-by-period continuous aggregates (the rollup-tier cascade).

Reference: ``force/skel/TSA.prm:314-334`` — fold the interpolated series by
YEAR / QUARTER / MONTH / WEEK / DOY with FOLD_TYPE in
{MIN,Q10,Q25,Q50,Q75,Q90,MAX,AVG,STD,RNG,IQR,SKW,KRT,NUM}. Each tier is
computed **from the tier below** (FBM from TSI, FBQ from FBM — TimescaleDB
continuous-aggregate style), never from raw.

Everything here is pure Column expressions: partial+final aggregation,
whole-stage codegen, and AQE come free from Catalyst. STD/SKW/KRT use
population moments (ddof=0) to match the reference's numpy defaults
(``force/skel/dswi_harmonic_tsi.py:147`` uses np.nanstd, population).

Each statistic is written once (``_stat``) and has two forms: an aggregate
over long rows (``fold_stat_expr``: fold_by_period, fold_from_bucket,
operators.stm) and array expressions over one nested tier row
(``array_stats``, ``fold_rows``: Engine.stm, Engine.fold), which give the
same values without an explode or an exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sits_classification_spark.functions.scalar import day_to_date_sql  # C4 codec (one impl)

# stats whose raw-moment formulas lose precision catastrophically when
# |mean| >> std (E[x^4] cancellation): computed on per-group SHIFTED values
# instead — skewness/kurtosis are shift-invariant, so the result is exact
_SHIFT_STATS = {"SKW", "KRT"}


def _shift_by_group_mean(
    df: DataFrame, value_col: str, part_cols: tuple[str, ...]
) -> DataFrame:
    """Add `_vc` = value - avg(value) over the fold group. The window
    partitions on the same columns the fold groups by, so it rides the same
    exchange (at the cost of map-side partial aggregation — only paid for
    the two shift-sensitive stats). The MEAN pivot (not min) matters: after
    a mean shift the summed cubes/quads are mixed-sign and O(std^k), so the
    naive-summation error is ~n*eps*std^k instead of ~n*eps*range^k."""
    w = Window.partitionBy(*part_cols)
    return df.withColumn(
        "_vc", F.col(value_col) - F.avg(value_col).over(w)
    )


def period_sql(day: str, period: str) -> str:
    """SQL text of the integer bucket id for a fold period, from the int
    day term `day` (a column or a lambda variable).

    month -> YYYYMM, quarter -> YYYYQ, year -> YYYY, week -> epoch_day//7,
    doy -> 1..366 (calendar fold across years, TSA.prm FBD).
    """
    dt = day_to_date_sql(day)
    p = period.lower()
    if p == "month":
        return f"year({dt}) * 100 + month({dt})"
    if p in ("quarter", "season"):
        return f"year({dt}) * 10 + quarter({dt})"
    if p == "year":
        return f"year({dt})"
    if p == "week":
        return f"CAST(floor({day} / 7) AS INT)"
    if p == "doy":
        return f"dayofyear({dt})"
    raise ValueError(f"unknown fold period {period!r}")


def _power(x: str, k: int) -> str:
    """SQL text of x*x*...*x (k factors), multiplied left to right."""
    return " * ".join([x] * k)


def _stat(s: str, count, moment, vmin, vmax, vsum, pct) -> str:
    """SQL text of one FOLD_TYPE statistic from reducers over one group of
    values, each returning an atomic SQL term: ``count()``, ``moment(k)``
    (mean of x**k), ``vmin()``, ``vmax()``, ``vsum()`` and ``pct(p)``
    (Spark's exact percentile). The moment formulas are written once here
    for the aggregate and the array form, as text so that a statistic
    costs one ``F.expr`` call to build. The variance m2 is exactly 0 for a
    constant group (one point included), where the moments leave a
    rounding residue, so its STD is 0, not NaN or noise; SKW/KRT are NULL
    where their divisor is 0, never an ANSI DIVIDE_BY_ZERO."""
    # built on use, as in the array form each moment used is a staged column
    def mean() -> str:
        return moment(1)

    def m2() -> str:  # population variance: 0 for a constant group, never rounding-negative
        return (
            f"(CASE WHEN {vmin()} = {vmax()} THEN 0D"
            f" ELSE greatest({moment(2)} - {mean()} * {mean()}, 0D) END)"
        )

    simple = {
        "MIN": lambda: f"CAST({vmin()} AS DOUBLE)",
        "MAX": lambda: f"CAST({vmax()} AS DOUBLE)",
        "AVG": mean,
        "NUM": lambda: f"CAST({count()} AS DOUBLE)",
        "STD": lambda: f"sqrt({m2()})",
        "RNG": lambda: f"CAST(({vmax()} - {vmin()}) AS DOUBLE)",
        "SUM": lambda: f"CAST({vsum()} AS DOUBLE)",
    }
    if s in simple:
        return simple[s]()
    if s.startswith("Q") and s[1:].isdigit():
        if int(s[1:]) > 100:
            raise ValueError(f"FOLD_TYPE {s!r}: a quantile Qnn needs nn <= 100")
        return pct(int(s[1:]) / 100.0)
    if s == "IQR":
        return f"({pct(0.75)} - {pct(0.25)})"
    mu, var = mean(), m2()
    if s == "SKW":
        m3 = f"({moment(3)} - 3 * {mu} * {var} - {mu} * {mu} * {mu})"
        den = f"pow({var}, 1.5D)"
        return f"(CASE WHEN {den} != 0 THEN {m3} / {den} END)"
    if s == "KRT":
        # population excess kurtosis: E[(x-mu)^4]/var^2 - 3
        m4 = (
            f"({moment(4)} - 4 * {mu} * {moment(3)}"
            f" + 6 * {mu} * {mu} * {moment(2)} - 3 * pow({mu}, 4))"
        )
        den = f"({var} * {var})"
        return f"(CASE WHEN {den} != 0 THEN {m4} / {den} - 3 END)"
    raise ValueError(f"unknown FOLD_TYPE {s!r}")


def fold_stat_expr(value: str, stat: str) -> Column:
    """One FOLD_TYPE statistic as a Column aggregate over `value`."""
    v = f"`{value}`"
    return F.expr(_stat(
        stat.upper(),
        count=lambda: f"count({v})",
        moment=lambda k: f"avg({_power(v, k)})",
        vmin=lambda: f"min({v})",
        vmax=lambda: f"max({v})",
        vsum=lambda: f"sum({v})",
        pct=lambda p: f"percentile({v}, {p!r}D)",
    ))


def _array_sum(arr: str, k: int = 1) -> str:
    """SQL text of the sum of x**k over `arr`, left to right from 0.0: the
    order in which a partial SUM/AVG adds the same points exploded in
    array order."""
    return f"aggregate({arr}, 0D, (a, x) -> a + {_power('x', k)})"


def _sorted_percentile(srt: str, n: str, p: float) -> str:
    """SQL text of Spark's exact ``percentile`` from the sorted values:
    position (n-1)*p, linear interpolation (hi - pos)*v[lo] +
    (pos - lo)*v[hi] unless both ends hold one value."""
    pos = f"(({n} - 1) * {p!r}D)"
    lo, hi = f"floor({pos})", f"ceil({pos})"
    vlo, vhi = f"get({srt}, CAST({lo} AS INT))", f"get({srt}, CAST({hi} AS INT))"
    return (
        f"(CASE WHEN {lo} = {hi} OR {vlo} = {vhi} THEN {vlo}"
        f" ELSE ({hi} - {pos}) * {vlo} + ({pos} - {lo}) * {vhi} END)"
    )


def _array_stat_sql(arr: str, stats: tuple[str, ...]) -> tuple[dict[str, Column], list[str]]:
    """FOLD_TYPE statistics of the non-empty double array column `arr`,
    with the operations of ``fold_stat_expr`` over the same values exploded
    in array order: sums run left to right from 0.0, percentiles
    interpolate like Spark's ``percentile``, SKW/KRT shift by the array
    mean first as the aggregate form shifts by the group mean.

    Returns (staged, exprs): ``staged`` are the per-row inputs the stats
    share (size `_n`, power sums, sorted copy, shifted copy) and ``exprs``
    the SQL text of the statistics over `arr` and those columns.
    Higher-order functions run interpreted, so projecting ``staged`` first
    computes each of them once per row instead of once per use."""
    src = f"`{arr}`"
    staged: dict[str, str] = {}

    def stage(name: str, sql: str) -> str:
        staged.setdefault(name, sql)
        return f"`{name}`"

    n = stage("_n", f"size({src})")

    def stat(s: str) -> str:
        if s in _SHIFT_STATS:
            c = stage("_c", (
                f"zip_with({src}, array_repeat({_array_sum(src)} / size({src}),"
                f" size({src})), (x, m) -> x - m)"
            ))
            moment = lambda k: f"({_array_sum(c, k)} / {n})"  # noqa: E731
        else:
            moment = lambda k: f"({stage(f'_s{k}', _array_sum(src, k))} / {n})"  # noqa: E731
        return _stat(
            s,
            count=lambda: n,
            moment=moment,
            vmin=lambda: f"array_min({src})",
            vmax=lambda: f"array_max({src})",
            vsum=lambda: stage("_s1", _array_sum(src)),
            pct=lambda p: _sorted_percentile(stage("_srt", f"array_sort({src})"), n, p),
        )

    exprs = [stat(s.upper()) for s in stats]
    return {name: F.expr(sql).alias(name) for name, sql in staged.items()}, exprs


def array_stats(
    df: DataFrame, arr: str, stats: tuple[str, ...], keys: tuple[str, ...]
) -> DataFrame:
    """(*keys, one column per FOLD_TYPE, lower-cased) from the non-empty
    double array column `arr` (``_array_stat_sql``)."""
    staged, exprs = _array_stat_sql(arr, stats)
    return df.select(*keys, arr, *staged.values()).select(
        *keys, *(F.expr(e).alias(s.lower()) for s, e in zip(stats, exprs))
    )


def fold_rows(
    df: DataFrame,
    period_of,
    stat: str = "AVG",
    keys: tuple[str, ...] = ("doc_id", "source"),
) -> DataFrame:
    """Fold nested series rows (one row per series with `buckets` and
    `values` arrays) by ``period_of(bucket) -> SQL text`` without leaving
    the row: each distinct period id takes its values in array order
    (``filter``), and ``inline`` emits one (*keys, bucket, value, n_obs)
    row per series and period. No explode, no exchange; same output as
    fold_by_period / fold_from_bucket over the long form."""
    staged, (value,) = _array_stat_sql("vals", (stat,))
    return (
        df.select(*keys, F.expr(f"transform(buckets, b -> {period_of('b')})").alias("_p"), "values")
        .select(*keys, F.expr(
            "inline(transform(array_distinct(_p), p -> struct(p AS bucket,"
            " filter(`values`, (x, i) -> _p[i] = p) AS vals)))"
        ))
        .select(*keys, "bucket", "vals", *staged.values())
        .select(*keys, "bucket", F.expr(value).alias("value"), F.col("_n").cast("long").alias("n_obs"))
    )


def fold_by_period(
    df: DataFrame,
    period: str,
    stat: str = "AVG",
    day_col: str = "grid_day",
    value_col: str = "value",
    keys: tuple[str, ...] = ("doc_id", "source"),
) -> DataFrame:
    """Fold a long-form tier by calendar period with one FOLD_TYPE.

    Output: (*keys, bucket int, value double, n_obs int).
    """
    df = df.withColumn("bucket", F.expr(period_sql(f"`{day_col}`", period)))
    vcol = value_col
    if stat.upper() in _SHIFT_STATS:
        df = _shift_by_group_mean(df, value_col, (*keys, "bucket"))
        vcol = "_vc"
    return df.groupBy(*keys, "bucket").agg(
        fold_stat_expr(vcol, stat).alias("value"),
        F.count(value_col).alias("n_obs"),
    )


def fold_from_bucket(
    df: DataFrame,
    bucket_map: Column,
    stat: str = "AVG",
    value_col: str = "value",
    keys: tuple[str, ...] = ("doc_id", "source"),
) -> DataFrame:
    """Fold an already-bucketed tier into a coarser bucket (FBM -> FBQ):
    e.g. month id YYYYMM -> quarter id YYYYQ without touching raw data."""
    df = df.withColumn("bucket2", bucket_map)
    vcol = value_col
    if stat.upper() in _SHIFT_STATS:
        df = _shift_by_group_mean(df, value_col, (*keys, "bucket2"))
        vcol = "_vc"
    return df.groupBy(*keys, F.col("bucket2").alias("bucket")).agg(
        fold_stat_expr(vcol, stat).alias("value"),
        F.count(value_col).alias("n_obs"),
    )


def month_to_quarter_sql(b: str) -> str:
    """SQL text of YYYYMM -> YYYYQ (seasonal tier id from monthly tier id)."""
    return f"CAST(floor({b} / 100) * 10 + floor(({b} % 100 - 1) / 3) + 1 AS INT)"


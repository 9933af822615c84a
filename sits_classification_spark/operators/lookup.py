"""The sampling stage: stratified point draw over a cell lattice
(``utils/sampling_run.py:26-118``)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stratified_point_sample(
    points: DataFrame,
    value_ranges: list[tuple[float, float, float]],
    total_points: int,
    skip: int = 1,
    x_col: str = "px",
    y_col: str = "py",
    value_col: str = "value",
) -> DataFrame:
    """The reference's sampling stage (``utils/sampling_run.py:26-118``) as
    a distributed plan: (1) DISTANCE THINNING by grid decimation — keep
    only lattice cells where both coordinates are multiples of
    ``skip`` (= distance // pixel_size there); (2) VALUE-RANGE
    STRATIFICATION — for each (min, max, proportion), sample
    int(total_points * proportion) candidate cells whose value lies in
    [min, max) (nodata/NULL excluded).

    The reference draws candidates with random.sample; here the draw is
    the engine-wide deterministic substitute — md5 rank over the cell
    coordinates — so the same inputs always pick the same points across
    runs, engines, and cluster sizes (the same justified deviation as
    hash_sample / stratified_split). Ranges are assumed non-overlapping
    (the reference's configs are); a cell matching no range is dropped.

    Plan: the decimation + range CASE are scan-side filters; the only
    shuffle is one window partitioned by range_idx (few strata), ranking
    by the hash. Output: (px, py, value, range_idx, rk).
    """
    v = F.col(value_col)
    rng = F.lit(None).cast("int")
    for i, (lo, hi, _frac) in reversed(list(enumerate(value_ranges))):
        rng = F.when((v >= F.lit(lo)) & (v < F.lit(hi)), F.lit(i)).otherwise(rng)
    h = F.md5(
        F.concat_ws(":", F.col(x_col).cast("string"), F.col(y_col).cast("string"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("range_idx").orderBy(
        h.asc(), F.col(x_col).asc(), F.col(y_col).asc()
    )
    limit = F.lit(0)
    for i, (_lo, _hi, frac) in enumerate(value_ranges):
        limit = F.when(
            F.col("range_idx") == i, F.lit(int(total_points * frac))
        ).otherwise(limit)
    return (
        points.filter(
            (F.pmod(F.col(x_col), F.lit(skip)) == 0)
            & (F.pmod(F.col(y_col), F.lit(skip)) == 0)
            & v.isNotNull()
        )
        .withColumn("range_idx", rng)
        .filter(F.col("range_idx").isNotNull())
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= limit)
        .select(x_col, y_col, value_col, "range_idx", "rk")
    )

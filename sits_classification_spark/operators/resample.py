"""W2 — equidistant resample (compositing) onto the fixed INT_DAY grid.

Reference: ``force/skel/TSA.prm:262-264`` (INT_DAY grid), explicit grid
construction at ``force/skel/dswi_harmonic_tsi.py:10-12,135``; the project
setting is a 10-day grid (``class_main_2_train.py:21``).

Semantics = ``np.interp(grid, valid_days, valid_values)``: piecewise-linear
between valid observations, clamped to edge values outside the observed
range. Composing the reference's gap-fill (W1 LINEAR, both directions) with
grid interpolation is mathematically identical to interpolating the valid
points directly — filled points lie on the segments between valid points —
so this operator IS gapfill+resample fused.

``resample_expr`` is the Catalyst form over long rows, used by the query
registry: per-doc grid generated with ``sequence()``, unioned under the
observations, one window pass fills every grid row from its bracketing
valid obs. No Python, no join — a single doc_id-partitioned sort-window
over (obs ∪ grid). The tier cascade does not use it: its 10-day tier comes
from ``plans/flatkernels.flat_interp`` over the nested rows, the same
``np.interp`` semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sits_classification_spark.config import DEFAULT_CONFIG


def resample_expr(
    long: DataFrame,
    int_day: int = DEFAULT_CONFIG.int_day,
    grid_origin: int | None = None,
) -> DataFrame:
    """Long-form (doc_id, source, day, value) -> (doc_id, source, grid_day, value).

    Grid: per-doc ``sequence(min_day, max_day, int_day)`` when grid_origin is
    None (reference behavior — series start anchors the grid, W6/doy calc at
    ``utils/class_run.py:161-175``); with grid_origin set, a globally aligned
    grid ``origin + k*int_day`` covering each doc's observed span.
    """
    bounds = long.groupBy("doc_id", "source").agg(
        F.min("day").alias("_lo"), F.max("day").alias("_hi")
    )
    if grid_origin is None:
        lo = F.col("_lo")
    else:
        # first grid point >= _lo on the aligned lattice
        lo = F.lit(grid_origin) + F.ceil(
            (F.col("_lo") - F.lit(grid_origin)) / F.lit(int_day)
        ).cast("long") * F.lit(int_day)
    # a doc observed entirely inside one grid interval has no aligned grid
    # point (lo > _hi) — sequence() would throw and kill the job, so such
    # docs simply emit no grid rows
    bounds = bounds.withColumn("_glo", lo.cast("long")).filter(
        F.col("_glo") <= F.col("_hi")
    )
    grid = bounds.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.col("_glo"), F.col("_hi").cast("long"), F.lit(int_day))).alias("day"),
    ).select(
        "doc_id",
        "source",
        F.col("day").cast("int"),
        F.lit(None).cast("int").alias("value"),
        F.lit(True).alias("_is_grid"),
    )
    obs = long.select(
        "doc_id", "source", "day", "value", F.lit(False).alias("_is_grid")
    )
    both = obs.unionByName(grid)

    # observation at the same day sorts before its grid row -> exact pass-through;
    # windows MUST partition by (doc_id, source) like the bounds do — a doc
    # appearing under two sources would otherwise interleave both series and
    # interpolate across them
    order = [F.col("day"), F.col("_is_grid")]
    keys = ("doc_id", "source")
    wb = Window.partitionBy(*keys).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.partitionBy(*keys).orderBy(*order).rowsBetween(0, Window.unboundedFollowing)
    v = F.col("value")
    d = F.when(v.isNotNull(), F.col("day"))
    filled = (
        both.withColumn("_pv", F.last(v, ignorenulls=True).over(wb))
        .withColumn("_pd", F.last(d, ignorenulls=True).over(wb))
        .withColumn("_nv", F.first(v, ignorenulls=True).over(wf))
        .withColumn("_nd", F.first(d, ignorenulls=True).over(wf))
    )
    interp = (
        F.when(F.col("_pd") == F.col("day"), F.col("_pv").cast("double"))
        .when(
            F.col("_pv").isNotNull() & F.col("_nv").isNotNull(),
            F.col("_pv")
            + (F.col("_nv") - F.col("_pv"))
            * (F.col("day") - F.col("_pd"))
            / (F.col("_nd") - F.col("_pd")),
        )
        .when(F.col("_pv").isNotNull(), F.col("_pv").cast("double"))
        .otherwise(F.col("_nv").cast("double"))
    )
    return (
        filled.filter(F.col("_is_grid"))
        .select(
            "doc_id",
            "source",
            F.col("day").alias("grid_day"),
            interp.alias("value"),
        )
    )


"""High-level engine facade — the user-facing API surface.

The reference exposes three entry scripts (sampling / train / predict,
``class_main_*.py``); this engine's equivalents are:

- ``Engine.build_tiers``   — the rollup/retention build (the heavy job),
- ``Engine.read_tier``     — query a materialized tier,
- ``Engine.tier_long``     — long-form view of a tier, one row per point
  (for SQL and the long-form operators of ``folds`` and ``stm``),
- ``Engine.rebuild``       — resume-aware incremental rebuild,
- ``Engine.verify_tier``   — encode a tier's arrays with the DoD/Gorilla
  codec on demand and check they decode back exactly (codec round-trip
  audit of a tier table).

``Engine.fold``, ``Engine.stm``, ``Engine.trend``, ``Engine.breaks`` and
the polar ``Engine.phenology`` read each stored tier row as one whole
series through array expressions (no explode, no exchange, no Python).
``Engine.harmonic``, ``Engine.noise_screen`` and the threshold and spline
``Engine.phenology`` run their numpy kernels over the same rows
(``Engine._series``) with ``seriesmap.map_series``: one ``mapInArrow``
pass over the rows' list buffers, no explode, repartition or sort.

Everything returns DataFrames; nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sits_classification_spark import lineage as L
from sits_classification_spark.config import DEFAULT_CONFIG, EngineConfig
from sits_classification_spark.plans.cascade import (
    TIERS,
    CascadeResult,
    build_cascade,
    commit_tiers,
    read_tier,
    recover_swap,
    stage_retention,
    stored_salts,
    verify_rows,
)


_DAY_TIERS = ("tier_raw", "tier_10d")  # buckets are epoch days


def bucket_day(tier: str, bucket: Column) -> Column:
    """A tier bucket in DAY units, for a scalar column or a lambda variable
    inside ``transform``.

    tier_raw/tier_10d buckets already are epoch days. tier_monthly (YYYYMM)
    and tier_seasonal (YYYYQ) carry calendar ids — feeding those straight
    into OLS x-values, harmonic periods (in days), or the DOY codec would
    silently produce garbage (the same hazard `fold` guards against), so
    they map to the representative mid-period epoch day (15th of the month
    / 15th of the quarter's middle month)."""
    if tier in _DAY_TIERS:
        return bucket
    b = bucket
    if tier == "tier_monthly":
        d = F.make_date(F.floor(b / 100), b % 100, F.lit(15))
    elif tier == "tier_seasonal":
        d = F.make_date(F.floor(b / 10), (b % 10 - 1) * 3 + 2, F.lit(15))
    else:
        raise ValueError(f"unknown tier {tier!r}")
    return F.datediff(d, F.to_date(F.lit("1970-01-01"))).cast("long")


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        cfg: EngineConfig = DEFAULT_CONFIG,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.cfg = cfg

    # -- build ---------------------------------------------------------------

    def build_tiers(self, input_path: str) -> CascadeResult:
        return build_cascade(
            self.spark, input_path, self.warehouse, self.cfg, resume=False
        )

    def rebuild(self, input_path: str) -> CascadeResult:
        """Resume from the last committed checkpoint: recompute only the
        salt buckets that some tier has no lineage row for, at this input
        snapshot, config hash (which covers the tier format) and salt
        width, and replace each of them in every tier; a full rebuild
        when no lineage row matches."""
        return build_cascade(
            self.spark, input_path, self.warehouse, self.cfg, resume=True
        )

    # -- query ---------------------------------------------------------------

    def read_tier(self, tier: str) -> DataFrame:
        """A materialized tier by name. The name becomes a path under the
        warehouse, so anything but one of TIERS raises before any
        filesystem call."""
        if tier not in TIERS:
            raise ValueError(f"unknown tier {tier!r}; expected one of {TIERS}")
        recover_swap(self.warehouse, tier)
        return read_tier(self.spark, f"{self.warehouse}/{tier}")

    def tier_long(self, tier: str) -> DataFrame:
        """Nested tier -> long form (doc_id, source, bucket, value, token)."""
        return (
            self.read_tier(tier)
            .select(
                "doc_id",
                "source",
                F.posexplode(F.arrays_zip("buckets", "values", "tokens")).alias(
                    "pos", "z"
                ),
            )
            .select(
                "doc_id",
                "source",
                F.col("z.buckets").alias("bucket"),
                F.col("z.values").alias("value"),
                F.col("z.tokens").alias("token"),
            )
        )

    def fold(self, tier: str, period: str = "month", stat: str = "AVG") -> DataFrame:
        """Ad-hoc continuous aggregate over a materialized tier: any FOLD_TYPE
        (MIN/Q..​/MAX/AVG/STD/RNG/IQR/SKW/KRT/NUM/SUM, ``TSA.prm:314-334``)
        by month/quarter/year/week/doy. Reads the tier table, so repeated
        folds never touch raw data, and folds each stored row in place
        (``folds.fold_rows``): no explode, no exchange, no Python.

        Bucket semantics differ per tier: tier_raw/tier_10d buckets are
        day indices (any period works); tier_monthly buckets are YYYYMM and
        only coarsen to quarter/year; tier_seasonal (YYYYQ) only to year.
        Feeding a calendar-id bucket to the day codec would silently produce
        garbage buckets, so unsupported combinations raise."""
        from sits_classification_spark.operators.folds import (
            fold_rows,
            month_to_quarter_sql,
            period_sql,
        )

        p = period.lower()
        if tier in _DAY_TIERS:
            period_of = lambda b: period_sql(b, p)  # noqa: E731
        elif tier == "tier_monthly" and p in ("quarter", "season"):
            period_of = month_to_quarter_sql
        elif tier == "tier_monthly" and p == "year":
            period_of = lambda b: f"CAST(floor({b} / 100) AS INT)"  # noqa: E731
        elif tier == "tier_seasonal" and p == "year":
            period_of = lambda b: f"CAST(floor({b} / 10) AS INT)"  # noqa: E731
        else:
            raise ValueError(
                f"cannot fold {tier} (bucket id granularity) by {period!r}"
            )
        return fold_rows(self.read_tier(tier), period_of, stat)

    def lineage(self) -> DataFrame:
        """The warehouse's lineage rows (``lineage.read_lineage``), with
        LINEAGE_SCHEMA's columns; empty before the first commit. A bucket
        committed again has several rows per (tier, salt): the newest
        ``committed_at`` is the current one."""
        lin = L.read_lineage(f"{self.warehouse}/lineage")
        return self.spark.createDataFrame(L.LINEAGE_SCHEMA.empty_table() if lin is None else lin)

    # -- per-series analysis over a tier (the TSA output menu) ---------------

    def _series(self, tier: str) -> DataFrame:
        """The stored rows as series rows (doc_id, source, days, values),
        `days` the buckets in DAY units (``bucket_day``), ascending."""
        days = F.col("buckets")
        if tier not in _DAY_TIERS:
            days = F.transform(days, lambda b: bucket_day(tier, b))
        return self.read_tier(tier).select("doc_id", "source", days.alias("days"), "values")

    def stm(self, tier: str, stats: tuple[str, ...] | None = None) -> DataFrame:
        """A1 spectral-temporal metrics per series (TSA.prm:300-312), one
        column per statistic, computed from each stored row's `values`
        array (``folds.array_stats``): no explode, no exchange."""
        from sits_classification_spark.operators.folds import array_stats
        from sits_classification_spark.operators.stm import STM_DEFAULT

        # a row without points has no statistics, as the long form has no group
        rows = self.read_tier(tier).where(F.size("values") > 0)
        return array_stats(rows, "values", stats or STM_DEFAULT, ("doc_id", "source"))

    def trend(self, tier: str, tail: str | None = None) -> DataFrame:
        """A3 trend per series over the stored rows (``stm.trend``); with
        `tail` in {LEFT, TWO, RIGHT} the CONF=0.95 significance decision
        (TSA.prm:483-497) instead."""
        from sits_classification_spark.operators.stm import trend

        return trend(self._series(tier), tail)

    def harmonic(
        self, tier: str, modes: int = 2, trend: bool = False,
        horizon: int = 0, step: int = 1,
    ) -> DataFrame:
        """W5 harmonic fit per series over the stored rows
        (``harmonic_fit``); with horizon > 0 also evaluates the fitted
        curve on an equidistant grid from the row's first day to
        ``horizon`` days past its last (the TSI/NRT forecast output); a
        negative horizon or a step below 1 raises (``harmonic_eval``)."""
        from sits_classification_spark.operators.harmonic import (
            harmonic_eval,
            harmonic_fit,
        )

        fit = harmonic_fit(self._series(tier), modes=modes, trend=trend, bounds=horizon > 0)
        if horizon == 0:
            return fit
        return harmonic_eval(
            fit, modes=modes, horizon=horizon, step=step, trend=trend,
            keys=("doc_id", "source"),
        )

    def breaks(self, tier: str, k: float = 0.5, h: float = 5.0) -> DataFrame:
        """Mean-shift CUSUM break screen per series over a tier (Page 1954)
        — the change-alert readout downstream of trend/harmonic in an NRT
        monitoring setup — over the stored rows (``stm.cusum_breaks``).
        Calendar-id tiers go through the same representative-day
        conversion as trend/harmonic (``bucket_day``), so break days are
        on the day axis."""
        from sits_classification_spark.operators.stm import cusum_breaks

        return cusum_breaks(self._series(tier), k=k, h=h)

    def noise_screen(self, tier: str, above_noise: float = 3.0) -> DataFrame:
        """F2 noise screen over each stored series: the fixpoint kernel
        (drop the worst outlier per pass while it exceeds `above_noise` *
        rmse, TSA.prm:142-154; a query parameter, like ``breaks``' k and
        h), one record (doc_id, source, bucket, value, kept) per point,
        `bucket` in DAY units. For the BELOW_NOISE restore of externally
        masked observations, call
        operators.harmonic.below_noise_restore on a long frame that carries
        the mask column — tiers have none."""
        from sits_classification_spark.operators.harmonic import noise_filter

        return noise_filter(self._series(tier), above_noise=above_noise, day_col="bucket")

    def phenology(self, tier: str, variant: str = "threshold") -> DataFrame:
        """W12 season metrics: 'threshold' (amplitude LSP), 'polar'
        (circular-statistics POL) or 'spline' (SPL — regression-spline
        smoothing before threshold detection, TSA.prm:355-407; alias
        'spl'). Every variant reads the stored rows and keys on
        (doc_id, source): polar through array expressions, threshold and
        spline through their numpy kernels. Any other variant raises
        before any Spark work."""
        from sits_classification_spark.operators.phenology import (
            lsp_metrics,
            pol_metrics,
            spl_metrics,
        )

        if variant not in ("threshold", "polar", "spline", "spl"):
            raise ValueError(
                f"unknown phenology variant {variant!r}; expected 'threshold', "
                "'polar' or 'spline'"
            )
        rows = self._series(tier)
        if variant == "polar":
            return pol_metrics(rows)
        if variant in ("spline", "spl"):
            return spl_metrics(rows)
        return lsp_metrics(rows)

    # -- retention -----------------------------------------------------------

    def apply_retention(self, tier: str, cutoff_bucket: int) -> DataFrame:
        """Retention policy: rewrite `tier` keeping only points with bucket
        >= cutoff (drop_chunks analog), through the build's commit path
        (``commit_tiers``) over every salt bucket of the tier's recorded
        width (its salt= directories when none is recorded). The retention
        pass gathers the lineage stats, so the call runs one Spark job.
        Lineage gets one row per bucket, input_snapshot_id =
        'retention<cutoff', a bucket trimmed to nothing as (0, 0). A crash
        between the swap's two dir renames is healed by ``recover_swap``;
        one after the swap loses only the advisory lineage rows. Assumes a
        rename-capable warehouse filesystem (local/HDFS); on object stores
        swap via table-format metadata (an Iceberg snapshot) instead.
        Map-only — no shuffle, layout preserved.
        """
        # read_tier first: it rejects a bad name before any filesystem call
        rows = self.read_tier(tier)
        width = L.recorded_width(f"{self.warehouse}/lineage", tier=tier)
        salts = range(width) if width is not None else stored_salts(f"{self.warehouse}/{tier}")
        stats = self.spark.sparkContext.accumulator({}, L.LineageStats())
        commit_tiers(
            stage_retention(rows, cutoff_bucket, tier, stats),
            self.warehouse,
            (tier,),
            f"retention<{cutoff_bucket}",
            self.cfg.config_hash(),
            width,
            stats,
            salts,
        )
        return self.read_tier(tier)

    # -- audit ---------------------------------------------------------------

    def verify_tier(self, tier: str) -> DataFrame:
        """Encode each row's buckets/values with the DoD/Gorilla codec on
        demand, decode the streams and compare bit for bit; returns
        (doc_id, ok) (``cascade.verify_rows``). Rows with null or
        length-mismatched arrays are not ok. A correct tier is all-true."""
        return verify_rows(self.read_tier(tier))

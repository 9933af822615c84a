"""Per-partition lineage + checkpoint/resume protocol.

Spark form of the reference's skip-if-exists resume
(``pytorch/predict.py:106-109``: a tile whose output folder already exists is
skipped) generalized to partition-granular lineage records:

    (tier, source, salt, input_snapshot_id, config_hash, salt_width,
     rows_out, checksum, committed_at)

``config_hash`` is ``EngineConfig.config_hash()`` and ``salt_width`` the
number of salt buckets the tier was laid out with. A tier rebuild
left-anti-joins its input against the keys committed for the same
(tier, input_snapshot_id, config_hash, salt_width) and recomputes only
missing partitions. Checksums are order-independent (bit_xor of xxhash64
over the rows), so a resumed build is verifiable against a from-scratch
build.
"""

from __future__ import annotations

import os
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException


def lineage_rows(
    tier_df: DataFrame,
    tier: str,
    snapshot_id: str,
    hash_cols: list[str],
    config_hash: str,
    salt_width: int | None,
) -> DataFrame:
    """Aggregate one lineage row per (source, salt) partition of a tier."""
    return tier_df.groupBy("source", "salt").agg(
        F.count(F.lit(1)).alias("rows_out"),
        F.expr(f"bit_xor(xxhash64({', '.join(hash_cols)}))").alias("checksum"),
    ).select(
        F.lit(tier).alias("tier"),
        "source",
        "salt",
        F.lit(snapshot_id).alias("input_snapshot_id"),
        F.lit(config_hash).alias("config_hash"),
        F.lit(salt_width).cast("int").alias("salt_width"),
        "rows_out",
        "checksum",
        F.lit(time.time()).alias("committed_at"),
    )


def read_lineage(spark: SparkSession, lineage_path: str) -> DataFrame | None:
    if not os.path.isdir(lineage_path):
        return None
    try:
        return spark.read.parquet(lineage_path)
    except AnalysisException:
        # an existing-but-empty dir (no committed files yet) has no schema;
        # anything else (corrupt footer, permissions) must SURFACE — a
        # swallowed error would silently disable resume and recompute
        # everything next to the damaged lineage
        return None


def _matching(lin: DataFrame | None, match: dict) -> DataFrame | None:
    """Lineage rows whose columns equal `match` (None-valued keys are not
    matched on); None when there is no lineage or it predates a matched
    column."""
    match = {k: v for k, v in match.items() if v is not None}
    if lin is None or not set(match) <= set(lin.columns):
        return None
    return lin.filter(reduce(lambda a, b: a & b, (F.col(k) == v for k, v in match.items())))


def recorded_width(
    spark: SparkSession, lineage_path: str, **match
) -> int | None:
    """The salt width recorded on the lineage rows matching `match`; None
    when no row matches, the rows disagree, or the lineage predates the
    salt_width column."""
    rows = _matching(read_lineage(spark, lineage_path), match)
    if rows is None:
        return None
    widths = [r[0] for r in rows.select("salt_width").distinct().collect()]
    return widths[0] if len(widths) == 1 else None


def committed_keys(
    spark: SparkSession,
    lineage_path: str,
    tier: str,
    snapshot_id: str,
    config_hash: str | None = None,
    salt_width: int | None = None,
) -> DataFrame | None:
    """Distinct (source, salt) already committed for tier@snapshot, and for
    the given config hash and salt width when those are passed."""
    rows = _matching(
        read_lineage(spark, lineage_path),
        {
            "tier": tier,
            "input_snapshot_id": snapshot_id,
            "config_hash": config_hash,
            "salt_width": salt_width,
        },
    )
    return None if rows is None else rows.select("source", "salt").distinct()


def filter_uncommitted(
    df: DataFrame, keys: DataFrame | None
) -> DataFrame:
    """Drop partitions already committed (broadcast anti-join — the key set
    is tiny: n_sources x salt width)."""
    if keys is None:
        return df
    return df.join(F.broadcast(keys), on=["source", "salt"], how="left_anti")


def append_lineage(rows: DataFrame, lineage_path: str) -> None:
    rows.write.mode("append").parquet(lineage_path)

"""Per-salt-bucket lineage + checkpoint/resume protocol.

Spark form of the reference's skip-if-exists resume
(``pytorch/predict.py:106-109``: a tile whose output folder already exists is
skipped) generalized to lineage records, one per (tier, salt bucket):

    (tier, salt, input_snapshot_id, config_hash, salt_width,
     rows_out, checksum, committed_at)

``config_hash`` is ``EngineConfig.config_hash()`` and ``salt_width`` the
number of salt buckets the tier was laid out with. A build commits the rows
of all its tiers at once, aggregated in one pass over the materialized
tiers. A rebuild reads the (tier, salt) committed for the same
(input_snapshot_id, config_hash, salt_width), recomputes the salt buckets
any tier lacks and left-anti-joins the committed keys out of the result
before writing it. Checksums are order-independent (bit_xor of xxhash64
over the rows' doc_id, buckets and values), so a resumed build is
verifiable against a from-scratch build. A resume over tiers still in the
(source, salt) layout of older builds, whose lineage is keyed
(tier, source, salt), rebuilds every tier and replaces that lineage
(``cascade.build_cascade``).
"""

from __future__ import annotations

import os
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException


def lineage_rows(
    tiers_df: DataFrame,
    snapshot_id: str,
    hash_cols: list[str],
    config_hash: str,
    salt_width: int | None,
) -> DataFrame:
    """Aggregate one lineage row per (tier, salt) bucket of the tier rows
    in `tiers_df`, whose `tier` column names each row's tier."""
    return tiers_df.groupBy("tier", "salt").agg(
        F.count(F.lit(1)).alias("rows_out"),
        F.expr(f"bit_xor(xxhash64({', '.join(hash_cols)}))").alias("checksum"),
    ).select(
        "tier",
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
    tier: str | None,
    snapshot_id: str,
    config_hash: str | None = None,
    salt_width: int | None = None,
) -> DataFrame | None:
    """Distinct (tier, salt) already committed at snapshot, for the given
    tier (every tier when None), config hash and salt width when those are
    passed."""
    rows = _matching(
        read_lineage(spark, lineage_path),
        {
            "tier": tier,
            "input_snapshot_id": snapshot_id,
            "config_hash": config_hash,
            "salt_width": salt_width,
        },
    )
    return None if rows is None else rows.select("tier", "salt").distinct()


def filter_uncommitted(
    df: DataFrame, keys: DataFrame | None
) -> DataFrame:
    """Drop the rows of salt buckets already committed: a broadcast
    left-anti join on the columns of `keys` (the key set is tiny: at most
    tiers x salt width rows)."""
    if keys is None:
        return df
    return df.join(F.broadcast(keys), on=keys.columns, how="left_anti")


def append_lineage(rows: DataFrame, lineage_path: str) -> None:
    rows.write.mode("append").parquet(lineage_path)

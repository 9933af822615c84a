"""F1/F3/F11/F12 — screening predicates; S9 — mosaic union.

Reference:
- F1 QAI screening: drop observations whose quality-flag bits match the
  configured mask {NODATA, CLOUD_OPAQUE, CLOUD_BUFFER, CLOUD_CIRRUS,
  CLOUD_SHADOW, SNOW, SUBZERO, SATURATION} (``force/skel/TSA.prm:135-141``,
  wired at ``force/force_class_utils.py:203``);
- F3 date-range filter (``TSA.prm:156-161``);
- F11 value clamp |v|<limit (``force/skel/dswi_harmonic_tsi.py:123-124``);
- F12 keyword/AOI routing (``utils/reorder_csv.py:52-57``);
- S9 raster mosaic -> unionByName + dedup (``pytorch/predict.py:218-253``).

All pure Column predicates — pushed to the scan by Catalyst.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# QAI bit positions (FORCE Level-2 quality bits, TSA.prm:135-141 menu)
QAI_BITS = {
    "NODATA": 0,
    "CLOUD_OPAQUE": 1,
    "CLOUD_BUFFER": 2,
    "CLOUD_CIRRUS": 3,
    "CLOUD_SHADOW": 4,
    "SNOW": 5,
    "SUBZERO": 6,
    "SATURATION": 7,
}

DEFAULT_SCREEN = tuple(QAI_BITS)


def qai_mask(flags: tuple[str, ...] = DEFAULT_SCREEN) -> int:
    return sum(1 << QAI_BITS[f] for f in flags)


def qai_screen(
    df: DataFrame, qai_col: str, flags: tuple[str, ...] = DEFAULT_SCREEN
) -> DataFrame:
    """F1: keep rows whose QAI bits do not intersect the screened set."""
    mask = qai_mask(flags)
    return df.filter(F.col(qai_col).bitwiseAND(F.lit(mask)) == 0)


def date_range_filter(df: DataFrame, ts_col: str, start: str, end: str) -> DataFrame:
    """F3: [start, end] inclusive (TSA.prm:156-161)."""
    return df.filter(F.col(ts_col).between(start, end))


def value_clamp(df: DataFrame, value_col: str, limit: float = 5.0) -> DataFrame:
    """F11: finite values with |v| < limit."""
    v = F.col(value_col)
    return df.filter(v.isNotNull() & (F.abs(v) < limit))


def source_route(df: DataFrame, source_col: str, keep: tuple[str, ...]) -> DataFrame:
    """F12: route by source/AOI membership."""
    return df.filter(F.col(source_col).isin(*keep))


def mosaic(parts: list[DataFrame], dedup_keys: list[str] | None = None) -> DataFrame:
    """S9: union per-tile outputs into one table; later parts win on key
    collisions when dedup_keys given (mosaic overwrite order,
    predict.py:218-253)."""
    out = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [p.withColumn("_part", F.lit(i)) for i, p in enumerate(parts)],
    )
    if dedup_keys:
        from pyspark.sql import Window

        w = Window.partitionBy(*dedup_keys).orderBy(F.desc("_part"))
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    return out.drop("_part")

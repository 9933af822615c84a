"""W13 — hash-selected zero-out for training-data augmentation.

Reference: ``pytorch/utils/augmentation.py`` random zero-out (:212-249).
The reference's other seeded augmentations (scaling, DOY shift, removal,
time warp, composition) are not provided.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sits_classification_spark.datagen import NODATA
from sits_classification_spark.operators.text import word_hash60


def zero_out_hash(df: DataFrame, frac: float = 0.1) -> DataFrame:
    """Zero out ~frac of each doc's valid positions, reproducibly: a VALID
    position k of doc d is zeroed iff md5_60(d:k) mod 1e6 < frac·1e6.
    The selection is pure integer math instead of a seeded RNG stream, so
    (1) the decision is per-POSITION, and re-partitioning / task retries /
    speculative execution can never change it; (2) a SQL oracle can verify
    every zeroed cell bit-for-bit. Stays entirely in whole-stage codegen —
    no Arrow batch, no Python."""
    thr = int(frac * 1_000_000)
    aug = F.transform(
        F.col("tokens"),
        lambda x, i: F.when(
            (x != F.lit(NODATA))
            & (
                F.pmod(
                    word_hash60(
                        F.concat_ws(":", F.col("doc_id"), i.cast("string"))
                    ),
                    F.lit(1_000_000),
                )
                < F.lit(thr)
            ),
            F.lit(0),
        ).otherwise(x),
    )
    return df.withColumn("tokens", aug)

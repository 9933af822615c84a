"""S3/S6/S11 — per-pixel CSV sequence reader and CSV sinks.

Reference formats:
- per-pixel sequence CSV: header ``year,doy,label,BLU,...,BNR`` — one file
  per sequence (``utils/class_run.py:158-197``; example
  ``pytorch/example/_SITSrefdata/sepfiles/test/csv/315.csv``). Reading is
  ``genfromtxt`` with missing->0 (``pytorch/utils/Dataset.py:165-193``).
- per-pixel CSV sink with train/val/test split (``utils/class_run.py:196-240``).

Spark-first: one DataFrame holding all sequences (file_name -> doc_id via
input_file_name), never one task per file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BAND_ORDER = ["BLU", "GRN", "RED", "NIR", "SW1", "SW2", "RE1", "RE2", "RE3", "BNR"]

SEQ_CSV_SCHEMA = T.StructType(
    [T.StructField("year", T.IntegerType()), T.StructField("doy", T.IntegerType()),
     T.StructField("label", T.DoubleType())]
    + [T.StructField(b, T.DoubleType()) for b in BAND_ORDER]
)


def read_sequence_csvs(spark: SparkSession, glob: str) -> DataFrame:
    """Read a directory/glob of per-pixel sequence CSVs into long form
    (doc_id from the file name, one row per observation).

    missing values -> 0.0 per Dataset.py:178 (genfromtxt filling_values=0).
    """
    df = (
        spark.read.schema(SEQ_CSV_SCHEMA)
        .option("header", True)
        .csv(glob)
        .withColumn(
            "doc_id",
            F.regexp_extract(F.input_file_name(), r"([^/]+)\.csv$", 1),
        )
    )
    return df.fillna(0.0, subset=BAND_ORDER)


def write_split_csvs(
    df: DataFrame,
    out_dir: str,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    seed: int = 42,
) -> None:
    """S6: train/val/test split sink. The reference moves files with a
    seeded shuffle (utils/class_run.py:215-240); the Spark form is a seeded
    hash split — deterministic, partition-parallel, no file moves."""
    u = F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(10_000)) / 10_000.0
    split = (
        F.when(u < test_frac, F.lit("test"))
        .when(u < test_frac + val_frac, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    (
        df.withColumn("split", split)
        .write.mode("overwrite")
        .partitionBy("split")
        .option("header", True)
        .csv(out_dir)
    )


PREDICTIONS_COLS = ("doc_id", "label", "prediction", "x", "y")


def write_predictions_csv(df: DataFrame, out_dir: str) -> None:
    """S11: predictions sink — (doc_id, truth label, prediction, coords) CSV,
    the ``predictions.csv`` output of ``pytorch/predict.py:696-707`` (the
    .shp twin is geo I/O, out of engine scope). Column order is pinned so
    downstream diff tooling (predict.py:687-697 writes label vs prediction
    side by side) keeps working."""
    missing = [c for c in PREDICTIONS_COLS if c not in df.columns]
    if missing:
        raise ValueError(f"predictions frame missing columns: {missing}")
    (
        df.select(*PREDICTIONS_COLS)
        .write.mode("overwrite")
        .option("header", True)
        .csv(out_dir)
    )

"""Lineage outside Spark: the checksum port ``lineage.row_hashes`` must
equal Spark's own xxhash64(doc_id, buckets, values) on every row, bit for
bit, since a build takes its lineage checksums from it and they are
compared with checksums Spark recomputes from the stored tiers; and the
pyarrow lineage reader must read every file Spark or this module wrote."""

import math
import os

import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sits_classification_spark.lineage import (
    LINEAGE_SCHEMA,
    committed,
    committed_keys,
    read_lineage,
    recorded_width,
    row_hashes,
    write_lineage,
)

INT32_MIN, INT32_MAX = -(2**31), 2**31 - 1

# doc ids of 0-80 UTF-8 bytes: multi-byte characters, and ids past the
# 32 bytes where XXH64 takes its four-lane path
DOC_ID = st.text(max_size=80).map(lambda s: s.encode()[:80].decode("utf-8", "ignore"))
BUCKET = st.integers(INT32_MIN, INT32_MAX) | st.sampled_from([INT32_MIN, INT32_MAX, 0, -1])
VALUE = st.floats(allow_nan=True, allow_infinity=True, allow_subnormal=True) | st.sampled_from(
    [0.0, -0.0, math.nan, math.inf, -math.inf, 5e-324, -2.2250738585072014e-308]
)
ROWS = st.lists(
    st.tuples(DOC_ID, st.lists(BUCKET, max_size=12), st.lists(VALUE, max_size=12)),
    min_size=1,
    max_size=20,
)

EDGE_ROWS = [
    ("", [], []),
    ("a" * 24, [0], [-0.0]),
    ("b" * 32, [INT32_MIN, INT32_MAX], [0.0, -0.0]),
    ("é" * 20 + "\U0001f600", [-1], [math.nan, math.inf, -math.inf, 5e-324]),
    ("doc00000007", list(range(40)), [float(i) / 3 for i in range(40)]),
    # nulls at every level are skipped, as Spark skips them
    (None, None, None),
    ("x", [1, None, 3], [None, 1.5, None]),
]


def _spark_hashes(spark, rows):
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "i int, doc_id string, buckets array<int>, values array<double>",
    )
    return [
        r[0]
        for r in df.orderBy("i").select(F.xxhash64("doc_id", "buckets", "values")).collect()
    ]


@settings(max_examples=40, deadline=None)
@given(rows=ROWS)
@example(rows=EDGE_ROWS)
def test_row_hashes_equal_spark_xxhash64(spark, rows):
    got = row_hashes(
        pa.array([r[0] for r in rows], pa.string()),
        pa.array([r[1] for r in rows], pa.list_(pa.int32())),
        pa.array([r[2] for r in rows], pa.list_(pa.float64())),
    )
    assert got.tolist() == _spark_hashes(spark, rows)


def test_lineage_reader_promotes_old_files_and_raises_on_damage(spark, tmp_path):
    """The pyarrow reader reads every file into LINEAGE_SCHEMA: an empty
    lineage dir reads as none; in a file Spark wrote before the
    config_hash/salt_width columns, with int64 salts and a source column,
    the missing columns read as null, so its rows match no config or
    width, the extra column is dropped and the salt is cast to int32; a
    damaged file raises instead of silently disabling resume."""
    path = str(tmp_path / "lineage")
    os.makedirs(path)
    assert read_lineage(path) is None
    spark.createDataFrame(
        [("tier_raw", "s", 0, "snap", 5, 7, 1.0)],
        "tier string, source string, salt bigint, input_snapshot_id string, "
        "rows_out bigint, checksum bigint, committed_at double",
    ).write.parquet(path, mode="append")
    write_lineage(path, {("tier_raw", 1): (3, -9)}, "snap", "cfg", 4)
    lin = read_lineage(path)
    assert lin.schema == LINEAGE_SCHEMA
    rows = {r["salt"]: r for r in lin.to_pylist()}
    assert rows[0] == {
        "tier": "tier_raw", "salt": 0, "input_snapshot_id": "snap", "config_hash": None,
        "salt_width": None, "rows_out": 5, "checksum": 7, "committed_at": 1.0,
    }
    assert (rows[1]["config_hash"], rows[1]["salt_width"], rows[1]["rows_out"]) == ("cfg", 4, 3)
    assert committed(path, None, "snap") == {("tier_raw", 0), ("tier_raw", 1)}
    assert committed(path, None, "snap", "cfg") == {("tier_raw", 1)}
    assert committed(path, None, "snap", salt_width=4) == {("tier_raw", 1)}
    assert recorded_width(path, input_snapshot_id="snap", config_hash="cfg") == 4
    assert recorded_width(path, input_snapshot_id="snap", config_hash="other") is None
    keys = committed_keys(spark, path, "tier_raw", "snap", "cfg", 4)
    assert [tuple(r) for r in keys.collect()] == [("tier_raw", 1)]
    with open(os.path.join(path, "part-damaged.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(pa.ArrowInvalid):
        read_lineage(path)

"""One runner for every per-series kernel.

A series row is ``(*keys, days, values)``: one whole series per row with
`days` ascending, the form every stored tier row already has.
``series_rows`` nests a long frame into that form; ``map_series`` runs a
numpy kernel over each row in one ``mapInArrow`` pass. Per Arrow batch it
slices each row's days and values out of the flat list buffers, calls
``kernel(days, values)`` and tags every record the call yields with the
row's keys. A nested row never straddles two batches, so there is no
repartition, no sort, no carry-over and no pandas frame per series: the
per-call cost is spread over the batch (CIDR 2022, "Accelerating Python
UDFs in Vectorized Query Execution") and the whole series is the unit of
work (EDBT 2021, "Big Sequence Management").

This is the engine's form of the reference's per-pixel multiprocessing
pool (``force/skel/UDF.prm:183-188``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType, StructField, StructType


def series_rows(
    long: DataFrame,
    keys: tuple[str, ...] = ("doc_id",),
    day_col: str = "day",
    value_col: str = "value",
) -> DataFrame:
    """Long rows (*keys, day, value) -> one series row (*keys, days, values)
    per key, `days` ascending."""
    z = F.sort_array(
        F.collect_list(F.struct(F.col(day_col).alias("d"), F.col(value_col).alias("v")))
    )
    return long.groupBy(*keys).agg(z.alias("z")).select(
        *keys, F.col("z.d").alias("days"), F.col("z.v").alias("values")
    )


def series_keys(rows: DataFrame) -> list[str]:
    """The keys of series rows: every column but `days` and `values`."""
    return [c for c in rows.columns if c not in ("days", "values")]


def map_series(
    rows: DataFrame,
    kernel: Callable[[np.ndarray, np.ndarray], Iterable[tuple]],
    fields: str,
) -> DataFrame:
    """Run `kernel(days, values)` on every series row and emit each record
    it yields, prefixed by the row's keys: every column of `rows` other
    than `days` and `values`, with its type. The kernel gets the row's
    days and values as numpy slices of the batch's list buffers (a null
    float value reads as NaN). `fields` is the DDL of the record
    (``"coef array<double>, rmse double"``); NaN in a float field is
    emitted as NULL."""
    keys = series_keys(rows)
    record = DataType.fromDDL(fields)
    schema = StructType([StructField(k, rows.schema[k].dataType) for k in keys] + record.fields)
    types = [to_arrow_type(f.dataType) for f in record.fields]

    def run(batches):
        for batch in batches:
            (doff, days), (voff, vals) = (
                (c.offsets.to_numpy(), c.values.to_numpy(zero_copy_only=False))
                for c in (batch.column("days"), batch.column("values"))
            )
            take, recs = [], []
            for i in range(batch.num_rows):
                for rec in kernel(days[doff[i]:doff[i + 1]], vals[voff[i]:voff[i + 1]]):
                    take.append(i)
                    recs.append(rec)
            idx = pa.array(take, type=pa.int64())
            cols = zip(*recs) if recs else ([] for _ in types)
            yield pa.RecordBatch.from_arrays(
                [batch.column(k).take(idx) for k in keys]
                + [pa.array(list(c), type=t, from_pandas=True) for c, t in zip(cols, types)],
                names=schema.names,
            )

    return rows.mapInArrow(run, schema=schema)

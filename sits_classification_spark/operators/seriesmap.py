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
work (EDBT 2021, "Big Sequence Management"). ``resample_rows`` is the
rows -> rows form of the same pass for the W1+W2 gap-fill+resample: it
runs the cascade's own kernel, ``flatkernels.flat_interp``, on the
batch's buffers whole.

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
from pyspark.sql.types import ArrayType, DataType, DoubleType, LongType, StructField, StructType

from sits_classification_spark.plans import flatkernels as FK


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
    days and values as numpy slices of the batch's list buffers: a null
    value reads as NaN, a null day raises. `fields` is the DDL of the record
    (``"coef array<double>, rmse double"``); NaN in a float field is
    emitted as NULL."""
    keys = series_keys(rows)
    record = DataType.fromDDL(fields)
    schema = StructType([StructField(k, rows.schema[k].dataType) for k in keys] + record.fields)
    types = [to_arrow_type(f.dataType) for f in record.fields]

    def run(batches):
        for batch in batches:
            ((days, doff),) = FK.null_free(batch, ("days",), "map_series")
            vals, voff, valid = FK.list_buffers(batch.column("values"))
            if valid is not None:  # a null value reads as NaN
                vals = np.where(valid, vals, np.nan)
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


def resample_rows(rows: DataFrame, int_day: int) -> DataFrame:
    """W1+W2 over series rows (*keys, days, values) with non-null values:
    each row's linear gap-fill in both directions onto its own grid
    days[0], days[0] + int_day, ... up to its last day, as series rows
    (*keys, days, values) of the grid. One mapInArrow runs the cascade's
    tier_10d kernel (``flatkernels.flat_interp``) on each Arrow batch's
    list buffers, so the registry and the cascade share one
    gap-fill+resample. A row without points has no grid and gives no
    row; a null in `days` or `values` raises ValueError (``FK.null_free``:
    a NaN would spread to the neighbouring grid points)."""
    keys = series_keys(rows)
    schema = StructType(
        [StructField(k, rows.schema[k].dataType) for k in keys]
        + [StructField("days", ArrayType(LongType())), StructField("values", ArrayType(DoubleType()))]
    )

    def run(batches):
        for batch in batches:
            (days, off), (vals, _) = FK.null_free(batch, ("days", "values"), "resample_rows")
            goff, gdays, gvals = FK.flat_interp(days, vals, off, int_day)
            off32 = pa.array(goff.astype(np.int32), type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [batch.column(k) for k in keys]
                + [pa.ListArray.from_arrays(off32, pa.array(a)) for a in (gdays, gvals)],
                names=schema.names,
            )

    return rows.where(F.size("days") > 0).mapInArrow(run, schema=schema)

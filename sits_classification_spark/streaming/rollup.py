"""Structured Streaming rollup: incremental continuous aggregates.

The reference is batch, but its chunked incremental loop with resume
(``pytorch/predict.py:103-143``) and duplicate/late-data handling
(``pytorch/predict.py:400-413``; DOY wrap windows ``TSA.prm:162-168``) map
directly onto Structured Streaming:

- tumbling event-time windows == the fold buckets (A2): ``streaming_fold``
  and ``streaming_ohlc``;
- watermarks bound state for late observations;
- ``dropDuplicates`` on (user_id, event_id) == dedup keep-first (W7/J6);
  that key has no event-time column, so its state is not evicted;
- per-series state carried across micro-batches == the batch CUSUM break
  detector (``streaming_cusum_scores``) and LOCF gap-fill
  (``streaming_locf_grid``).

Local smoke uses the file source over the testdata parquet + a memory sink
(processAllAvailable drives it to completion synchronously).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _as_stream_dir(src: str) -> str:
    """The file source requires a directory; wrap a single parquet file in a
    temp dir via symlink."""
    if os.path.isdir(src):
        return src
    d = tempfile.mkdtemp(prefix="stream_src_")
    os.symlink(os.path.abspath(src), os.path.join(d, os.path.basename(src)))
    return d

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def streaming_fold(
    events: DataFrame,
    window: str = "10 days",
    watermark: str = "30 days",
    stat: str = "avg",
) -> DataFrame:
    """Windowed fold over an event stream: the streaming form of the
    10-day tier. Late rows beyond the watermark are dropped from the window
    aggregation; duplicates (same user, same event id) are deduped
    keep-first. The dedup key leaves out the event-time column, so its
    state is never evicted and grows with the number of distinct events
    (the batch twin's dedup semantics rely on this key)."""
    deduped = events.withWatermark("ts", watermark).dropDuplicates(
        ["user_id", "event_id"]
    )
    agg = {
        "avg": F.avg("value"),
        "sum": F.sum("value"),
        "min": F.min("value"),
        "max": F.max("value"),
        "count": F.count("value"),
    }[stat]
    return (
        deduped.groupBy(F.window("ts", window).alias("w"), "user_id")
        .agg(agg.alias("value"), F.count(F.lit(1)).alias("n_obs"))
        .select(
            F.col("user_id").alias("doc_id"),
            F.col("w.start").alias("bucket_start"),
            F.col("w.end").alias("bucket_end"),
            "value",
            "n_obs",
        )
    )


def run_file_stream_once(
    spark: SparkSession,
    src_dir: str,
    query_name: str = "tier_stream",
    window: str = "10 days",
) -> DataFrame:
    """Drive a file-source stream over a parquet dir to completion and
    return the materialized result (memory sink)."""
    events = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .format("parquet")
        .load(_as_stream_dir(src_dir))
    )
    out = streaming_fold(events, window=window)
    # complete mode: append would hold back windows the watermark hasn't
    # passed, which on a finite file source means the tail never emits
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def ohlc_fold(deduped: DataFrame, window: str = "10 days") -> DataFrame:
    """The shared OHLC fold body — ONE definition consumed by both the
    streaming twin and the batch twin, so the 'identical plan' equivalence
    contract cannot silently drift: per (doc, event-time window) the
    first/last values by (ts, event_id) plus min/max. Open/close use
    min/max over the (ts, event_id, value) struct so ties are pinned by
    the full ordering key. Input must already be deduped on
    (user_id, event_id) — streaming adds the watermark before dedup,
    batch calls dropDuplicates directly."""
    return (
        deduped.groupBy(F.window("ts", window).alias("w"), "user_id")
        .agg(
            F.min(F.struct("ts", "event_id", "value")).alias("_o"),
            F.max(F.struct("ts", "event_id", "value")).alias("_c"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(
            F.col("user_id").alias("doc_id"),
            F.col("w.start").alias("bucket_start"),
            F.col("w.end").alias("bucket_end"),
            F.col("_o.value").alias("open"),
            "high",
            "low",
            F.col("_c.value").alias("close"),
            "n_obs",
        )
    )


def streaming_ohlc(
    events: DataFrame,
    window: str = "10 days",
    watermark: str = "30 days",
) -> DataFrame:
    """Windowed OHLC fold over an event stream — the streaming twin of the
    candlestick tier (q_fold_ohlc): the shared ohlc_fold body over a
    deduped stream. Pure windowed aggregation: map-side partial min/max
    structs, no custom state. The dedup key (user_id, event_id) leaves out
    the event-time column, so the dedup state is never evicted by the
    watermark; it grows with the number of distinct events (the batch
    twin's dedup semantics rely on this key)."""
    deduped = events.withWatermark("ts", watermark).dropDuplicates(
        ["user_id", "event_id"]
    )
    return ohlc_fold(deduped, window=window)


def run_ohlc_stream_once(
    spark: SparkSession,
    src_dir: str,
    query_name: str = "ohlc_stream",
    window: str = "10 days",
) -> DataFrame:
    """Drive the OHLC stream over a parquet dir to completion (file
    source, availableNow, complete mode) and return the materialized
    result — the run_file_stream_once recipe for the candlestick twin."""
    events = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .format("parquet")
        .load(_as_stream_dir(src_dir))
    )
    out = streaming_ohlc(events, window=window)
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def streaming_cusum_scores(
    scores: DataFrame,
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """Streaming twin of ``operators.stm.cusum_scores``: the NRT break
    ALERT loop. Scores (standardized residuals against a model fitted on
    history — the fit itself is a batch job) arrive as a stream of
    (user_id, day, z); per-series state carries the live CUSUM registers
    across micro-batches, so the stream raises the SAME break day/side the
    batch detector finds on the replayed data.

    State per series is seven scalars (S+, S-, their maxima, break
    day/side, obs count) — bounded regardless of stream length. Inside a
    batch the recurrence uses the carry-in reflected-walk identity
    S_t = max(s0 + P_t, P_t - min_{j<=t} P_j) (vectorized numpy cumsum /
    minimum.accumulate — no per-row Python), which reduces to the batch
    operator's closed form at s0 = 0. Assumes per-series day-ordered
    arrival across batches.

    Emits the updated per-series summary each batch (update mode): the
    latest row per series is the current alert state."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, n long, s_pos_max double, s_neg_max double, "
        "break_day long, break_side integer"
    )
    state_schema = (
        "sp double, sn double, spmax double, snmax double, "
        "bday long, bside integer, n long"
    )

    def side(z, s0):
        p = np.cumsum(z)
        runmin = np.minimum.accumulate(p)
        return np.maximum(s0 + p, p - runmin)

    def fn(key, pdfs, state: GroupState):
        sp, sn, spmax, snmax, bday, bside, n = (
            state.get if state.exists else (0.0, 0.0, 0.0, 0.0, None, 0, 0)
        )
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if pdf.empty:
            yield pd.DataFrame(
                columns=["user_id", "n", "s_pos_max", "s_neg_max",
                         "break_day", "break_side"]
            )
            return
        pdf = pdf.sort_values("day")
        z = pdf["z"].to_numpy(dtype=np.float64)
        days = pdf["day"].to_numpy(dtype=np.int64)
        s_pos = side(z - k, sp)
        s_neg = side(-z - k, sn)
        spmax = max(float(spmax), float(s_pos.max()))
        snmax = max(float(snmax), float(s_neg.max()))
        if bday is None:
            # first crossing inside this batch; positive wins a same-day tie
            ip = np.argmax(s_pos > h) if (s_pos > h).any() else None
            im = np.argmax(s_neg > h) if (s_neg > h).any() else None
            if ip is not None and (im is None or ip <= im):
                bday, bside = int(days[ip]), 1
            elif im is not None:
                bday, bside = int(days[im]), -1
        n = int(n) + len(pdf)
        state.update(
            (float(s_pos[-1]), float(s_neg[-1]), spmax, snmax, bday, bside, n)
        )
        yield pd.DataFrame(
            [{
                "user_id": key[0], "n": n, "s_pos_max": spmax,
                "s_neg_max": snmax, "break_day": bday, "break_side": bside,
            }]
        )

    return scores.select("user_id", "day", "z").groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_locf_grid(series: DataFrame, step: int = 3) -> DataFrame:
    """Streaming twin of the W1 LOCF tier (q_locf_3d / gapfill LOCF onto a
    step-day grid): per-series state carries (grid origin, next due grid
    day, last observed value) across micro-batches, and each batch emits
    every grid point that has become DUE (grid_day <= newest observed day),
    valued by last-observation-carried-forward. Replaying a series
    day-ordered therefore reproduces the batch grid bit-for-bit: the grid
    starts at the first observed day and an observation ON a grid day is
    included (matching the batch window's (day, is_grid) order).

    State is three scalars per series — bounded regardless of stream
    length. Within a batch the fill is one numpy searchsorted against the
    batch's observation days (no per-row Python); the carry-in value covers
    grid days due before this batch's first observation.

    Emits (doc_id, grid_day, value); each grid day is emitted exactly once
    across the stream (update mode, append-like by construction)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "doc_id long, grid_day long, value double"
    state_schema = "origin long, next_day long, last_val double"

    def fn(key, pdfs, state: GroupState):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if pdf.empty:
            yield pd.DataFrame(columns=["doc_id", "grid_day", "value"])
            return
        pdf = pdf.sort_values("day")
        days = pdf["day"].to_numpy(dtype=np.int64)
        vals = pdf["value"].to_numpy(dtype=np.float64)
        if state.exists:
            origin, next_day, last_val = state.get
        else:
            origin, next_day, last_val = int(days[0]), int(days[0]), float("nan")
        due = np.arange(next_day, days.max() + 1, step, dtype=np.int64)
        idx = np.searchsorted(days, due, side="right") - 1
        filled = np.where(idx >= 0, vals[np.clip(idx, 0, None)], last_val)
        state.update(
            (int(origin), int(due[-1] + step) if len(due) else int(next_day),
             float(vals[-1]))
        )
        yield pd.DataFrame(
            {"doc_id": key[0], "grid_day": due, "value": filled}
        )

    return series.select("doc_id", "day", "value").groupBy(
        "doc_id"
    ).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )

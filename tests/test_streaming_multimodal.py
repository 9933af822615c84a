"""Streaming rollup + multimodal plumbing tests."""

import hashlib
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from sits_classification_spark.operators.multimodal import (
    decode_media,
    extract_features,
    frame_sample_plan,
    real_decode,
    synth_bmp,
    synth_wav,
)
from sits_classification_spark.streaming.rollup import run_file_stream_once

MEDIA_DDL = "media_id string, kind string, payload binary, n_bytes long, duration_ms int"


def _media_table(spark, n):
    """n deterministic media rows cycling image/audio/video; payloads are
    repeated sha256 digests (no container), durations only on audio/video."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        payload = hashlib.sha256(f"media{i}".encode()).digest() * (4 + i % 7)
        rows.append((f"m{i:06d}", kind, bytearray(payload), len(payload),
                     3000 + 17 * i if kind != "image" else None))
    return spark.createDataFrame(rows, MEDIA_DDL)


def test_streaming_fold_matches_batch(spark, sf001):
    out = run_file_stream_once(
        spark, os.path.join(sf001, "events.parquet"), query_name="t_stream"
    ).toPandas()
    ev = spark.read.parquet(os.path.join(sf001, "events.parquet"))
    batch = (
        ev.dropDuplicates(["user_id", "event_id"])
        .groupBy(F.window("ts", "10 days").alias("w"), "user_id")
        .agg(F.avg("value").alias("value"), F.count(F.lit(1)).alias("n_obs"))
        .select(
            F.col("user_id").alias("doc_id"),
            F.col("w.start").alias("bucket_start"),
            "value",
            "n_obs",
        )
        .toPandas()
    )
    assert len(out) == len(batch)
    a = out.sort_values(["doc_id", "bucket_start"]).reset_index(drop=True)
    b = batch.sort_values(["doc_id", "bucket_start"]).reset_index(drop=True)
    np.testing.assert_allclose(a["value"], b["value"], rtol=1e-12)
    assert (a["n_obs"].to_numpy() == b["n_obs"].to_numpy()).all()


def test_multimodal_feature_extraction(spark):
    rows = []
    for i in range(60):
        kind = ("image", "audio")[i % 2]
        p = synth_bmp(i, 3 + i % 4, 2) if kind == "image" else synth_wav(i, 20 + i)
        rows.append((f"m{i:06d}", kind, bytearray(p), len(p), None))
    feats = extract_features(
        spark.createDataFrame(rows, MEDIA_DDL), decoder=decode_media
    ).toPandas()
    assert len(feats) == 60
    assert all(len(f) == 16 for f in feats["feature"])
    # each row carries its own payload's decode
    want = {m: decode_media(bytes(p), k) for m, k, p, _, _ in rows}
    for m, f in zip(feats["media_id"], feats["feature"]):
        np.testing.assert_array_equal(np.asarray(f), want[m])
    # determinism: same payload -> same feature
    again = extract_features(
        spark.createDataFrame(rows, MEDIA_DDL), decoder=decode_media
    ).toPandas()
    a = feats.sort_values("media_id").reset_index(drop=True)
    b = again.sort_values("media_id").reset_index(drop=True)
    for x, y in zip(a["feature"], b["feature"]):
        np.testing.assert_array_equal(np.asarray(x), np.asarray(y))


def test_real_decoder_rejects_unknown_containers(spark):
    # sha256 payloads are not BMP/WAV/TIFF: the real decoder must refuse
    # rather than hallucinate features
    media = _media_table(spark, 3)
    with pytest.raises(Exception) as ei:
        extract_features(media, decoder=real_decode).collect()
    assert "unsupported container" in str(ei.value)


def test_bmp_decoder_exact_stats():
    from sits_classification_spark.operators.multimodal import (
        decode_media,
        synth_bmp,
    )

    doc_id, w, h = 42, 5, 4  # w=5 -> rowsize 16, real padding exercised
    f = decode_media(synth_bmp(doc_id, w, h), "image")
    rowsize = ((w * 3 + 3) // 4) * 4
    px = [
        (doc_id * 31 + y * rowsize + x * 3 + c) % 256
        for y in range(h)
        for x in range(w)
        for c in range(3)
    ]
    assert list(f[:4]) == [w, h, 24, w * h]
    assert f[4] == sum(px[0::3]) and f[5] == sum(px[1::3]) and f[6] == sum(px[2::3])
    assert f[7] == min(px) and f[8] == max(px)


def test_wav_decoder_exact_stats():
    from sits_classification_spark.operators.multimodal import (
        decode_media,
        synth_wav,
    )

    doc_id, n = 7, 63
    f = decode_media(synth_wav(doc_id, n), "audio")
    s = [((doc_id * 17 + j * j) % 65536) - 32768 for j in range(n)]
    assert list(f[:4]) == [1, 8000, 16, n]
    assert f[4] == sum(abs(x) for x in s)
    assert f[5] == max(abs(x) for x in s)
    assert f[6] == sum(s) and f[7] == min(s) and f[8] == max(s)


def test_tiff_decoder_exact_stats_both_byte_orders():
    from sits_classification_spark.operators.multimodal import (
        decode_media,
        synth_tiff,
    )

    for doc_id, be in [(4, False), (9, True), (0, True)]:
        w, h = 3 + doc_id % 4, 2 + doc_id % 5
        f = decode_media(synth_tiff(doc_id, w, h, big_endian=be), "image")
        s = [(doc_id * 19 + i) % 60001 for i in range(w * h * 3)]
        assert list(f[:4]) == [w, h, 16, 3]
        assert f[4] == sum(s[0::3]) and f[5] == sum(s[1::3]) and f[6] == sum(s[2::3])
        assert f[7] == min(s) and f[8] == max(s)


def test_tiff_decoder_single_strip_inline_offset():
    from sits_classification_spark.operators.multimodal import (
        decode_media,
        synth_tiff,
    )

    # rows_per_strip >= h -> one strip -> StripOffsets/ByteCounts are
    # INLINE LONG values, not out-of-line arrays
    f = decode_media(synth_tiff(5, 4, 2, rows_per_strip=8), "image")
    s = [(5 * 19 + i) % 60001 for i in range(4 * 2 * 3)]
    assert list(f[:4]) == [4, 2, 16, 3]
    assert f[4] == sum(s[0::3]) and f[7] == min(s) and f[8] == max(s)


def test_tiff_decoder_rejects_compressed():
    import struct

    import pytest

    from sits_classification_spark.operators.multimodal import (
        decode_media,
        synth_tiff,
    )

    p = bytearray(synth_tiff(1, 3, 2))
    # patch the Compression entry (tag 259, 4th entry) value to 5 (LZW)
    ifd = struct.unpack("<I", p[4:8])[0]
    for e in range(struct.unpack("<H", p[ifd : ifd + 2])[0]):
        off = ifd + 2 + e * 12
        if struct.unpack("<H", p[off : off + 2])[0] == 259:
            p[off + 8 : off + 10] = struct.pack("<H", 5)
    with pytest.raises(ValueError, match="compression"):
        decode_media(bytes(p), "image")


def test_frame_sample_plan(spark):
    media = _media_table(spark, 30)
    plan = frame_sample_plan(media, every_ms=1000).toPandas()
    vids = media.filter(F.col("kind") == "video").toPandas()
    want = int(sum(np.ceil(d / 1000.0) for d in vids["duration_ms"]))
    assert len(plan) == want


def test_streaming_cusum_matches_batch(spark, sf001, tmpdir_session):
    """applyInPandasWithState CUSUM alerts: replaying the score stream in 3
    micro-batches must land on the batch detector's exact summary per
    series — the carry-in reflected-walk identity bridges batch
    boundaries (S resumes from the previous batch's register)."""
    import os

    from pyspark.sql import functions as F

    from sits_classification_spark.operators.seriesmap import series_rows
    from sits_classification_spark.operators.stm import cusum_scores
    from sits_classification_spark.streaming.rollup import streaming_cusum_scores

    ev = spark.read.parquet(f"{sf001}/events.parquet")
    day = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    # one score per (user, day): deterministic synthetic z from the value
    scores = (
        ev.groupBy("user_id", day.alias("day"))
        .agg(F.first("value").alias("v"))
        .select(
            "user_id", F.col("day").cast("long").alias("day"),
            ((F.col("v") - 50.0) / 25.0).alias("z"),
        )
    )
    truth = {
        r["user_id"]: (r["n"], round(r["s_pos_max"], 9), round(r["s_neg_max"], 9),
                       r["break_day"], r["break_side"])
        for r in cusum_scores(series_rows(scores, ("user_id",), value_col="z"), k=0.5, h=3.0).collect()
    }

    stream_dir = os.path.join(tmpdir_session, "cusum_stream_src")
    rows = scores.orderBy("day", "user_id").collect()
    n = len(rows)
    for i in range(3):
        part = rows[i * n // 3 : (i + 1) * n // 3]
        spark.createDataFrame(
            part, schema="user_id long, day long, z double"
        ).coalesce(1).write.mode("append" if i else "overwrite").parquet(stream_dir)

    stream = (
        spark.readStream.schema("user_id long, day long, z double")
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(stream_dir)
    )
    q = (
        streaming_cusum_scores(stream, k=0.5, h=3.0)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("cusum_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    from pyspark.sql import Window

    final = (
        spark.sql("SELECT * FROM cusum_stream")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("n"))
            ),
        )
        .filter("rn = 1")
        .collect()
    )
    got = {
        r["user_id"]: (r["n"], round(r["s_pos_max"], 9), round(r["s_neg_max"], 9),
                       r["break_day"], r["break_side"])
        for r in final
    }
    assert len(got) == len(truth)
    assert got == truth
    # sanity: the fixture must actually exercise breaks on both sides
    sides = {v[4] for v in truth.values()}
    assert 1 in sides or -1 in sides


def test_byte_stats_batch_boundary_independent(spark):
    """The byte-bounded re-chunker must not change results: a pathologically
    small byte cap (every row its own chunk) and a huge cap produce
    identical per-media stats."""
    from sits_classification_spark.operators.multimodal import byte_stats

    media = _media_table(spark, 60)
    tiny = sorted(map(tuple, byte_stats(media, max_batch_bytes=1).collect()))
    huge = sorted(map(tuple, byte_stats(media, max_batch_bytes=1 << 30).collect()))
    assert tiny == huge and len(tiny) == 60
    # spot-check one row against python
    payload = hashlib.sha256(b"media0").digest() * 4
    row = next(r for r in tiny if r[0] == "m000000")
    assert row[2] == len(payload)
    assert row[3] == payload[0] and row[4] == payload[-1]
    assert row[5] == sum(payload)


def test_streaming_locf_grid_carries_across_batches(spark, tmpdir_session):
    """A grid day that becomes due in batch 2 BEFORE batch 2's first
    observation must be filled from batch 1's carried value."""
    import os

    from sits_classification_spark.streaming.rollup import streaming_locf_grid

    d = os.path.join(tmpdir_session, "locf_stream_src")
    # batch 1: obs at days 0 (v=1.0) and 2 (v=2.0); batch 2: day 7 (v=9.0)
    spark.createDataFrame(
        [(1, 0, 1.0), (1, 2, 2.0)], "doc_id long, day long, value double"
    ).coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame(
        [(1, 7, 9.0)], "doc_id long, day long, value double"
    ).coalesce(1).write.mode("append").parquet(d)
    stream = (
        spark.readStream.schema("doc_id long, day long, value double")
        .format("parquet").option("maxFilesPerTrigger", 1).load(d)
    )
    q = (
        streaming_locf_grid(stream, step=3)
        .writeStream.outputMode("update").format("memory")
        .queryName("locf_carry").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        r["grid_day"]: r["value"]
        for r in spark.table("locf_carry").collect()
    }
    # grid 0 -> obs@0; grid 3 and 6 due in batch 2, BEFORE obs@7 -> carry 2.0
    assert got == {0: 1.0, 3: 2.0, 6: 2.0}


def test_streaming_ohlc_matches_batch_and_is_nonempty(spark, sf001):
    """The OHLC twin equivalence is meaningful: the stream produces rows
    (the empty-diff driver check cannot pass via two empty sides), each
    window's high >= open/close >= low, and values match the batch fold."""
    from sits_classification_spark.streaming.rollup import run_ohlc_stream_once

    out = run_ohlc_stream_once(
        spark, os.path.join(sf001, "events.parquet"), query_name="t_ohlc"
    ).toPandas()
    assert len(out) > 0
    assert (out["high"] >= out["low"]).all()
    assert (out["high"] >= out["open"]).all() and (out["high"] >= out["close"]).all()
    assert (out["low"] <= out["open"]).all() and (out["low"] <= out["close"]).all()
    ev = spark.read.parquet(os.path.join(sf001, "events.parquet"))
    batch = (
        ev.dropDuplicates(["user_id", "event_id"])
        .groupBy(F.window("ts", "10 days").alias("w"), "user_id")
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
            F.col("_o.value").alias("open"),
            "high",
            "low",
            F.col("_c.value").alias("close"),
            "n_obs",
        )
        .toPandas()
    )
    a = out.sort_values(["doc_id", "bucket_start"]).reset_index(drop=True)
    b = batch.sort_values(["doc_id", "bucket_start"]).reset_index(drop=True)
    assert len(a) == len(b)
    for c in ("open", "high", "low", "close"):
        assert (a[c].to_numpy() == b[c].to_numpy()).all(), c
    assert (a["n_obs"].to_numpy() == b["n_obs"].to_numpy()).all()


def test_tiff_decoder_rejects_signed_and_planar():
    """SampleFormat != 1 (signed ARD Int16) and PlanarConfiguration != 1
    must raise loudly, never unsigned-wrap or mis-slice. Built as a
    minimal hand-rolled single-strip TIFF (data before the IFD, every
    value inline) so tag values can be varied independently."""
    import struct

    from sits_classification_spark.operators.multimodal import _decode_tiff

    def mini_tiff(sample_fmt=1, planar=1):
        data = bytes([10, 20, 30, 40])  # 2x2 8-bit single band
        ifd_off = 8 + len(data)
        tags = [
            (256, 3, 1, 2),   # width
            (257, 3, 1, 2),   # height
            (258, 3, 1, 8),   # bits
            (259, 3, 1, 1),   # compression
            (273, 4, 1, 8),   # strip offset
            (277, 3, 1, 1),   # samples/pixel
            (278, 3, 1, 2),   # rows/strip
            (279, 4, 1, 4),   # strip byte count
            (284, 3, 1, planar),
            (339, 3, 1, sample_fmt),
        ]
        out = b"II*\x00" + struct.pack("<I", ifd_off) + data
        out += struct.pack("<H", len(tags))
        for tag, typ, cnt, val in tags:
            if typ == 3:
                payload = struct.pack("<HH", val, 0)
            else:
                payload = struct.pack("<I", val)
            out += struct.pack("<HHI", tag, typ, cnt) + payload
        out += struct.pack("<I", 0)
        return out

    f = _decode_tiff(mini_tiff())
    assert (f[0], f[1], f[2], f[3]) == (2, 2, 8, 1)
    assert f[4] == 10 + 20 + 30 + 40 and (f[7], f[8]) == (10, 40)
    with pytest.raises(ValueError, match="SampleFormat"):
        _decode_tiff(mini_tiff(sample_fmt=2))
    with pytest.raises(ValueError, match="PlanarConfiguration"):
        _decode_tiff(mini_tiff(planar=2))

"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Training-data pipelines carry media as ``binary`` columns beside typed
metadata; the Spark-side plumbing here — partition sizing, Arrow batch
shape, mapInPandas signatures — is real and tested. Decoding is
dependency-free: ``decode_media`` parses the uncompressed containers
(24-bit BMP, PCM16 WAV, baseline TIFF) in pure Python, and compressed
formats, which need codec libraries (PIL/ffmpeg/librosa), raise ValueError.

Scale notes: media rows are large and variable — the batcher caps Arrow
batch BYTES (not rows) so executor memory stays bounded; feature extraction
emits fixed-size vectors so downstream tables are columnar-friendly.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16


def decode_media(payload: bytes, kind: str) -> np.ndarray:
    """Dependency-free REAL decoder for the self-describing containers a
    pure-Python pipeline can parse without codec libraries: uncompressed
    24-bit BMP, PCM16 WAV, and uncompressed baseline TIFF (both byte
    orders, 8/16-bit samples, multi-band, multi-strip — the container the
    reference's prediction path actually reads: its GeoTIFF stacks via
    rasterio, pytorch/predict.py:346-455; GeoTIFF IS TIFF plus geo tags,
    which a statistics decode can ignore). Returns the FEATURE_DIM typed
    feature vector — container header fields plus exact integer channel
    statistics — with every component integer-valued, so a SQL oracle
    reproduces the decode bit-for-bit (the `media_decode` / `media_tif`
    driver queries).

    Layout (image/BMP):  [w, h, bpp, n_px, sum_B, sum_G, sum_R, min, max]
    Layout (image/TIFF): [w, h, bits, spp, sum_c0, sum_c1, sum_c2, min,
                          max] (channel = sample index mod spp)
    Layout (audio/WAV):  [ch, rate, bits, n_smp, sum|s|, peak, sum_s,
                          min_s, max_s]
    Remaining components are 0. Compressed formats (PNG/JPEG/MP4,
    LZW/deflate TIFF) still require codec libs and raise ValueError."""
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _decode_wav(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return _decode_tiff(payload)
    raise ValueError(
        "unsupported container for pure-python decode (BMP/WAV/TIFF only)"
    )


def _decode_bmp(payload: bytes) -> np.ndarray:
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    ah = abs(h)
    rowsize = ((w * 3 + 3) // 4) * 4
    arr = np.frombuffer(
        payload, dtype=np.uint8, count=rowsize * ah, offset=off
    ).reshape(ah, rowsize)
    # strip the 4-byte row padding, then (B, G, R) triplets in file order
    pix = arr[:, : w * 3].reshape(-1, 3).astype(np.int64)
    f = np.zeros(FEATURE_DIM, dtype=np.float64)
    f[0], f[1], f[2], f[3] = w, ah, bpp, w * ah
    f[4], f[5], f[6] = pix[:, 0].sum(), pix[:, 1].sum(), pix[:, 2].sum()
    f[7], f[8] = pix.min(), pix.max()
    return f


def _decode_wav(payload: bytes) -> np.ndarray:
    pos, n = 12, len(payload)
    fmt = smp = None
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        csz = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + csz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            smp = body
        pos += 8 + csz + (csz & 1)  # chunks are word-aligned
    if fmt is None or smp is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16:
        raise ValueError("only PCM16 WAV supported")
    # int64 BEFORE abs: np.abs(int16(-32768)) overflows back to -32768
    s = np.frombuffer(smp, dtype="<i2").astype(np.int64)
    f = np.zeros(FEATURE_DIM, dtype=np.float64)
    f[0], f[1], f[2], f[3] = channels, rate, bits, len(s)
    f[4], f[5], f[6] = np.abs(s).sum(), np.abs(s).max() if len(s) else 0, s.sum()
    f[7], f[8] = (s.min(), s.max()) if len(s) else (0, 0)
    return f


def _decode_tiff(payload: bytes) -> np.ndarray:
    """Baseline-TIFF IFD walk, struct-only: header byte order, first IFD,
    tags 256/257/258/259/273/277/278/279, strips concatenated in
    StripOffsets order. Uncompressed (Compression=1) 8- or 16-bit
    unsigned samples; anything else raises."""
    bo = "<" if payload[:2] == b"II" else ">"
    u16 = lambda o: int.from_bytes(payload[o : o + 2], "little" if bo == "<" else "big")
    u32 = lambda o: int.from_bytes(payload[o : o + 4], "little" if bo == "<" else "big")
    ifd = u32(4)
    n_ent = u16(ifd)
    _SZ = {1: 1, 3: 2, 4: 4}  # BYTE, SHORT, LONG

    def values(off):
        typ, cnt = u16(off + 2), u32(off + 4)
        if typ not in _SZ:
            raise ValueError(f"unsupported TIFF field type {typ}")
        total = _SZ[typ] * cnt
        base = off + 8 if total <= 4 else u32(off + 8)
        step = _SZ[typ]
        rd = u16 if typ == 3 else (u32 if typ == 4 else (lambda o: payload[o]))
        return [rd(base + i * step) for i in range(cnt)]

    tags = {}
    for e in range(n_ent):
        off = ifd + 2 + e * 12
        tags[u16(off)] = off
    need = lambda t: values(tags[t]) if t in tags else None
    w = need(256)[0]
    h = need(257)[0]
    bits_l = need(258) or [1]
    comp = (need(259) or [1])[0]
    offsets = need(273)
    spp = (need(277) or [1])[0]
    counts = need(279)
    bits = bits_l[0]
    if comp != 1:
        raise ValueError(f"only uncompressed TIFF supported (compression={comp})")
    if bits not in (8, 16) or any(b != bits for b in bits_l):
        raise ValueError(f"only uniform 8/16-bit TIFF samples supported ({bits_l})")
    # raise-on-unsupported, never silently-wrong: SampleFormat=2 (signed,
    # e.g. FORCE ARD Int16 with nodata -9999) would unsigned-wrap through
    # the u2 dtype, and PlanarConfiguration=2 breaks the chunky-interleave
    # per-band slicing below — both must be loud, like compression
    sample_fmt = (need(339) or [1])[0]
    if sample_fmt != 1:
        raise ValueError(
            f"only unsigned TIFF samples supported (SampleFormat={sample_fmt})"
        )
    planar = (need(284) or [1])[0]
    if planar != 1:
        raise ValueError(
            f"only chunky interleave supported (PlanarConfiguration={planar})"
        )
    raw = b"".join(payload[o : o + c] for o, c in zip(offsets, counts))
    dt = np.dtype(f"{bo}u2") if bits == 16 else np.dtype("u1")
    s = np.frombuffer(raw, dtype=dt, count=w * h * spp).astype(np.int64)
    f = np.zeros(FEATURE_DIM, dtype=np.float64)
    f[0], f[1], f[2], f[3] = w, h, bits, spp
    for c in range(min(spp, 3)):
        f[4 + c] = s[c::spp].sum()
    f[7], f[8] = (s.min(), s.max()) if len(s) else (0, 0)
    return f


def synth_tiff(
    doc_id: int,
    w: int,
    h: int,
    spp: int = 3,
    rows_per_strip: int = 2,
    big_endian: bool = False,
) -> bytes:
    """Deterministic uncompressed 16-bit multi-band multi-strip TIFF:
    sample at flat index i (row-major, band-interleaved) is
    (doc_id*19 + i) % 60001 — a closed form a SQL oracle re-derives.
    Exercises the full IFD walk: out-of-line BitsPerSample array,
    StripOffsets/StripByteCounts arrays, both byte orders."""
    import struct

    bo = ">" if big_endian else "<"
    n = w * h * spp
    samples = [(doc_id * 19 + i) % 60001 for i in range(n)]
    n_strips = (h + rows_per_strip - 1) // rows_per_strip
    strip_bytes = []
    for st in range(n_strips):
        r0, r1 = st * rows_per_strip, min(h, (st + 1) * rows_per_strip)
        seg = samples[r0 * w * spp : r1 * w * spp]
        strip_bytes.append(struct.pack(f"{bo}{len(seg)}H", *seg))
    entries = []  # (tag, type, count, value_or_data)
    ifd_off = 8
    n_ent = 10
    data_off = ifd_off + 2 + n_ent * 12 + 4  # after IFD + next-IFD pointer
    extra = b""

    def ent(tag, typ, cnt, vals):
        nonlocal extra, data_off
        size = {3: 2, 4: 4}[typ] * cnt
        fmt = "H" if typ == 3 else "I"
        packed = struct.pack(f"{bo}{cnt}{fmt}", *vals)
        if size <= 4:
            entries.append(struct.pack(f"{bo}HHI", tag, typ, cnt) + packed.ljust(4, b"\x00"))
        else:
            entries.append(struct.pack(f"{bo}HHII", tag, typ, cnt, data_off))
            extra += packed
            data_off += size
    ent(256, 4, 1, [w])
    ent(257, 4, 1, [h])
    ent(258, 3, spp, [16] * spp)
    ent(259, 3, 1, [1])
    ent(262, 3, 1, [1])  # BlackIsZero
    strip_off_pos = len(entries)
    ent(273, 4, n_strips, [0] * n_strips)  # patched below
    ent(277, 3, 1, [spp])
    ent(278, 4, 1, [rows_per_strip])
    ent(279, 4, n_strips, [len(b) for b in strip_bytes])
    ent(339, 3, 1, [1])  # unsigned int samples
    assert len(entries) == n_ent
    strip_offs = []
    pos = data_off
    for b in strip_bytes:
        strip_offs.append(pos)
        pos += len(b)
    packed_offs = struct.pack(f"{bo}{n_strips}I", *strip_offs)
    if n_strips * 4 <= 4:
        entries[strip_off_pos] = (
            struct.pack(f"{bo}HHI", 273, 4, n_strips) + packed_offs.ljust(4, b"\x00")
        )
    else:
        # the placeholder already reserved data_off space for the array at
        # a known position: it was appended to `extra` in entry order
        idx = 0
        for e_i in range(strip_off_pos):
            t, ty, c = struct.unpack(f"{bo}HHI", entries[e_i][:8])
            if {3: 2, 4: 4}[ty] * c > 4:
                idx += {3: 2, 4: 4}[ty] * c
        extra = extra[:idx] + packed_offs + extra[idx + n_strips * 4 :]
    header = (b"MM\x00*" if big_endian else b"II*\x00") + struct.pack(f"{bo}I", ifd_off)
    ifd = struct.pack(f"{bo}H", n_ent) + b"".join(entries) + struct.pack(f"{bo}I", 0)
    return header + ifd + extra + b"".join(strip_bytes)


def synth_bmp(doc_id: int, w: int, h: int) -> bytes:
    """Deterministic 24-bit BMP whose pixel-array byte i (padding included)
    is (doc_id*31 + i) % 256 — a closed form a SQL oracle can re-derive."""
    rowsize = ((w * 3 + 3) // 4) * 4
    npx = rowsize * h
    body = bytes((doc_id * 31 + i) % 256 for i in range(npx))
    header = (
        b"BM"
        + (54 + npx).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")  # pixel-data offset
        + (40).to_bytes(4, "little")  # BITMAPINFOHEADER
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB
        + npx.to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
    )
    assert len(header) == 54
    return header + body


def synth_wav(doc_id: int, n_samples: int, rate: int = 8000) -> bytes:
    """Deterministic PCM16 mono WAV: sample j = ((doc_id*17 + j*j) % 65536)
    - 32768 — same closed-form-for-the-oracle posture as synth_bmp."""
    import struct

    data = b"".join(
        struct.pack("<h", ((doc_id * 17 + j * j) % 65536) - 32768)
        for j in range(n_samples)
    )
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def real_decode(payload: bytes, kind: str) -> np.ndarray:
    """The production decode hook: the pure-python container parsers above
    for BMP/WAV; compressed formats raise until codec libs exist."""
    return decode_media(payload, kind)


def _bounded_batches(
    it: Iterator[pd.DataFrame], max_bytes: int
) -> Iterator[pd.DataFrame]:
    """Re-chunk incoming Arrow batches so each processed chunk holds at most
    max_bytes of payload (media rows are big; row-count batching is wrong)."""
    for pdf in it:
        if not len(pdf):
            continue
        sizes = pdf["n_bytes"].to_numpy()
        cum = np.cumsum(sizes)
        start = 0
        while start < len(pdf):
            base = cum[start - 1] if start else 0
            end = int(np.searchsorted(cum, base + max_bytes, side="right"))
            end = max(end, start + 1)
            yield pdf.iloc[start:end]
            start = end


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes, str], np.ndarray] | None = None,
    max_batch_bytes: int = 64 << 20,
) -> DataFrame:
    """media table -> (media_id, kind, feature array<double>[FEATURE_DIM]).

    mapInPandas with byte-bounded chunks; decoder runs per row (media codecs
    are per-item), everything around it is Arrow-batched.
    """
    dec = decoder or real_decode
    schema = "media_id string, kind string, feature array<double>"

    def run(batches):
        for chunk in _bounded_batches(batches, max_batch_bytes):
            feats = [dec(bytes(p), k) for p, k in zip(chunk["payload"], chunk["kind"])]
            yield pd.DataFrame(
                {
                    "media_id": chunk["media_id"],
                    "kind": chunk["kind"],
                    "feature": feats,
                }
            )

    return media.select("media_id", "kind", "payload", "n_bytes").mapInPandas(
        run, schema=schema
    )


def byte_stats(
    media: DataFrame, max_batch_bytes: int = 64 << 20
) -> DataFrame:
    """Oracle-checkable probe of the multimodal Arrow path: the SAME
    byte-bounded mapInPandas pipeline as extract_features, but with a
    "decoder" whose output is pure byte arithmetic (length, head/tail
    byte, byte sum) — deterministic and SQL-reproducible, so a DuckDB
    oracle can verify the batching/re-chunking plumbing delivers
    exactly-once, batch-boundary-independent per-row results (a fake
    random decoder can only be pytest-checked; this one closes the
    driver-oracle gap for the media path)."""
    schema = (
        "media_id string, kind string, n_bytes long, head_byte long, "
        "tail_byte long, byte_sum long"
    )

    def run(batches):
        for chunk in _bounded_batches(batches, max_batch_bytes):
            ps = [bytes(p) for p in chunk["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": chunk["media_id"],
                    "kind": chunk["kind"],
                    "n_bytes": [len(p) for p in ps],
                    "head_byte": [p[0] if p else None for p in ps],
                    "tail_byte": [p[-1] if p else None for p in ps],
                    "byte_sum": [
                        int(np.frombuffer(p, dtype=np.uint8).sum()) for p in ps
                    ],
                }
            )

    return media.select("media_id", "kind", "payload", "n_bytes").mapInPandas(
        run, schema=schema
    )


def frame_sample_plan(
    media: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Video frame-sampling plan: explode each video row into the frame
    timestamps a decoder would extract (the Spark-side half of frame
    sampling; the pixel decode itself is the stubbed step)."""
    v = media.filter(F.col("kind") == "video")
    return v.select(
        "media_id",
        F.explode(
            # zero/negative durations have no frames; sequence(0, -1) throws
            F.when(
                F.col("duration_ms") > 0,
                F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("frame_ms"),
    )


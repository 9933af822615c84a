"""Delta-of-delta timestamp + Gorilla XOR value compression.

Implements the two stream codecs from the Gorilla paper (Pelkonen et al.,
VLDB 2015, "Gorilla: A Fast, Scalable, In-Memory Time Series Database"):

- timestamps: delta-of-delta with the paper's bucket code
  {'0', '10'+7b, '110'+9b, '1110'+12b, '1111'+64b};
- values: XOR with leading-zero/meaningful-bit windows
  {'0' identical, '10' fits-prior-window, '11'+5b lead+6b len+bits}.

An on-demand form, not a stored one: tiers store the plain
``buckets``/``values`` arrays, whose Parquet encodings are smaller than
these streams, and ``cascade.verify_rows`` encodes a batch of tier rows
and decodes them back to audit a tier. The flat encoders
(``encode_dod_flat``/``encode_xor_flat``) take a whole Arrow batch's list
buffers: deltas, xors, clz/ctz and bit packing are numpy passes over the
batch, and Python only slices the per-series byte strings.

No reference counterpart (engine addition per the build contract); round-trip
verified by property tests.
"""

from __future__ import annotations

import struct

import numpy as np


class _BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = int.from_bytes(data, "big") if data else 0
        self.pos = len(data) * 8

    def read(self, width: int) -> int:
        self.pos -= width
        return (self.data >> self.pos) & ((1 << width) - 1)


def _pack_bits(values: np.ndarray, widths: np.ndarray) -> bytes:
    """Vectorized MSB-first bit packing: codeword i occupies widths[i] bits.

    Big-endian bit order with a zero-padded final byte, the order _BitReader
    reads. Each codeword lands in at most two uint64 words; per-word
    accumulation uses np.bincount over the 32-bit halves (codewords never
    overlap, so OR == ADD and half-sums stay < 2^53 — exact in the float64
    weights). O(n) vector ops, no per-bit expansion.
    """
    values = values.astype(np.uint64)
    widths = widths.astype(np.int64)
    total = int(widths.sum())
    if total == 0:
        return b""
    # mask values to their width (defensive: stray high bits must not leak)
    wmask = np.where(
        widths >= 64, np.uint64(0xFFFFFFFFFFFFFFFF),
        (np.uint64(1) << widths.clip(0, 63).astype(np.uint64)) - np.uint64(1),
    )
    values = values & wmask
    starts = np.concatenate(([0], np.cumsum(widths)[:-1]))
    # drop zero-width entries: they carry no bits, and a trailing one would
    # otherwise scatter into the word just past the buffer
    nz = widths > 0
    values, widths, starts = values[nz], widths[nz], starts[nz]
    nwords = (total + 63) // 64 + 1
    w0 = starts // 64
    p = (starts % 64).astype(np.int64)
    fits = p + widths <= 64
    lsh = np.where(fits, 64 - p - widths, 0).astype(np.uint64)
    rsh = np.where(fits, 0, p + widths - 64).astype(np.uint64)
    left = np.where(fits, values << lsh, values >> rsh)
    right = np.where(fits, np.uint64(0), values << (np.uint64(64) - rsh))

    M32 = np.uint64(0xFFFFFFFF)

    def acc(idx, vals64):
        lo = (vals64 & M32).astype(np.float64)
        hi = (vals64 >> np.uint64(32)).astype(np.float64)
        alo = np.bincount(idx, weights=lo, minlength=nwords)
        ahi = np.bincount(idx, weights=hi, minlength=nwords)
        return alo, ahi

    lo1, hi1 = acc(w0, left)
    lo2, hi2 = acc(w0 + 1, right)
    lo = (lo1 + lo2).astype(np.uint64)
    hi = (hi1 + hi2).astype(np.uint64)
    words = (hi << np.uint64(32)) | lo
    buf = words.astype(">u8").tobytes()
    return buf[: (total + 7) // 8]


def _bit_length(x: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 (0 -> 0)."""
    x = x.copy()
    bl = np.zeros(x.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        m = x >= (np.uint64(1) << np.uint64(s))
        bl += s * m
        x = np.where(m, x >> np.uint64(s), x)
    return bl + (x > 0)


def encode_dod(ts: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 timestamp/bucket array.

    Delegates to the flat-buffer batch encoder with a single-series offsets
    pair — one codeword-construction implementation to maintain (the
    round-trip property suite pins the stream).
    """
    ts = np.asarray(ts, dtype=np.int64)
    return encode_dod_flat(ts, np.array([0, ts.size], dtype=np.int64))[0]


def decode_dod(buf: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<I", buf, 0)
    if n == 0:
        return np.array([], dtype=np.int64)
    (t0,) = struct.unpack_from("<q", buf, 4)
    if n == 1:
        return np.array([t0], dtype=np.int64)
    (d0,) = struct.unpack_from("<q", buf, 12)
    r = _BitReader(buf[20:])
    out = np.empty(n, dtype=np.int64)
    out[0] = t0
    out[1] = t0 + d0
    delta = d0
    for i in range(2, n):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(9) - 255
        elif r.read(1) == 0:
            dod = r.read(12) - 2047
        else:
            dod = r.read(64)
            if dod >= 1 << 63:
                dod -= 1 << 64
        delta += dod
        out[i] = out[i - 1] + delta
    return out


def encode_xor(values: np.ndarray) -> bytes:
    """Gorilla XOR encode, vectorized (numpy only — the hot-path encoder).

    Emits only the '0' (identical) and '11' (new window) control codes; the
    sequential '10' fits-prior-window optimization is dropped because it
    creates a value-to-value data dependency that defeats vectorization
    (~10% larger output, ~50x faster encode). The decoder accepts both
    streams. Delegates to the flat-buffer batch encoder with a
    single-series offsets pair — one codeword implementation to maintain.
    """
    values = np.asarray(values, dtype=np.float64)
    return encode_xor_flat(values, np.array([0, values.size], dtype=np.int64))[0]


def decode_xor(buf: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<I", buf, 0)
    if n == 0:
        return np.array([], dtype=np.float64)
    (b0,) = struct.unpack_from("<Q", buf, 4)
    out = np.empty(n, dtype=np.uint64)
    out[0] = b0
    if n == 1:
        return out.view(np.float64)
    r = _BitReader(buf[12:])
    lead, mlen = -1, -1
    prev = b0
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = prev
            continue
        if r.read(1) == 1:
            lead = r.read(5)
            mlen = r.read(6)
            if mlen == 0:
                mlen = 64
        trail = 64 - lead - mlen
        x = r.read(mlen) << trail
        prev ^= x
        out[i] = prev
    return out.view(np.float64)


def encode_series(buckets: np.ndarray, values: np.ndarray) -> tuple[bytes, bytes]:
    return encode_dod(buckets), encode_xor(values)


# ---------------------------------------------------------------------------
# batch encoders: one vectorized pass over an entire Arrow batch of series
# (the form the tier stages use — no per-series Python loops)
# ---------------------------------------------------------------------------

def _pack_bits_segments(
    words: np.ndarray, widths: np.ndarray, seg_ids: np.ndarray, n_segs: int
) -> list[bytes]:
    """Pack (words, widths) — grouped by ascending seg_ids — into one buffer,
    byte-padding each segment, and split per segment."""
    bits_per_seg = np.bincount(seg_ids, weights=widths, minlength=n_segs).astype(
        np.int64
    )
    pad = (-bits_per_seg) % 8
    counts = np.bincount(seg_ids, minlength=n_segs)
    ends = np.cumsum(counts)
    w2 = np.insert(words, ends, np.zeros(n_segs, dtype=np.uint64))
    wd2 = np.insert(widths, ends, pad)
    buf = _pack_bits(w2, wd2)
    nbytes = (bits_per_seg + pad) // 8
    offs = np.concatenate(([0], np.cumsum(nbytes)))
    return [buf[offs[i] : offs[i + 1]] for i in range(n_segs)]


def _join_bodies(
    heads: list[bytes],
    active: np.ndarray,
    words: np.ndarray,
    widths: np.ndarray,
    seg_of_active: np.ndarray,
) -> list[bytes]:
    """Per-series streams: header + packed body for the `active` series
    (codeword pairs grouped by seg_of_active), the bare header otherwise."""
    bodies = iter(
        _pack_bits_segments(
            words, widths, np.repeat(seg_of_active, 2), int(active.sum())
        )
    )
    return [h + next(bodies) if a else h for h, a in zip(heads, active.tolist())]


def _dod_heads(flat: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    """Per-series DoD headers (n, t0, d0) built from vectorized byte
    buffers — Python only slices."""
    lens = (offsets[1:] - offsets[:-1]).astype(np.int64)
    n = lens.size
    nb = lens.astype("<u4").tobytes()
    t0 = np.zeros(n, dtype="<i8")
    has1 = lens >= 1
    t0[has1] = flat[offsets[:-1][has1]]
    t0b = t0.tobytes()
    d0 = np.zeros(n, dtype="<i8")
    has2 = lens >= 2
    d0[has2] = flat[offsets[:-1][has2] + 1] - t0[has2]
    d0b = d0.tobytes()
    out = []
    for i in range(n):
        h = nb[4 * i : 4 * i + 4]
        if lens[i] >= 1:
            h += t0b[8 * i : 8 * i + 8]
        if lens[i] >= 2:
            h += d0b[8 * i : 8 * i + 8]
        out.append(h)
    return out


def encode_dod_flat(flat: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    """Flat-buffer batch DoD encoder: bit-identical per-series output to
    encode_dod; all math on the concatenated values buffer."""
    flat = np.asarray(flat, dtype=np.int64)
    offsets = np.asarray(offsets, dtype=np.int64)
    lens = offsets[1:] - offsets[:-1]
    heads = _dod_heads(flat, offsets)
    active = lens >= 3
    if not active.any():
        return heads
    # dod j (= flat[j+2]-2*flat[j+1]+flat[j]) is in-series iff all three
    # positions share a series: drop the two positions before each boundary
    d1 = flat[1:] - flat[:-1]
    dods_all = d1[1:] - d1[:-1]
    keep = np.ones(dods_all.size, dtype=bool)
    inner = offsets[1:-1]
    for shift in (1, 2):
        idx = inner - shift
        keep[idx[(idx >= 0) & (idx < keep.size)]] = False
    dods = dods_all[keep]
    seg_of_active = np.repeat(
        np.arange(int(active.sum()), dtype=np.int64), (lens[active] - 2)
    )
    u = dods.astype(np.uint64)
    conds = [
        dods == 0,
        (dods >= -63) & (dods <= 64),
        (dods >= -255) & (dods <= 256),
        (dods >= -2047) & (dods <= 2048),
    ]
    big = ~(conds[0] | conds[1] | conds[2] | conds[3])
    fused = np.select(
        conds,
        [
            np.zeros_like(u),
            (np.uint64(0b10) << np.uint64(7)) | ((u + np.uint64(63)) & np.uint64(0x7F)),
            (np.uint64(0b110) << np.uint64(9)) | ((u + np.uint64(255)) & np.uint64(0x1FF)),
            (np.uint64(0b1110) << np.uint64(12)) | ((u + np.uint64(2047)) & np.uint64(0xFFF)),
        ],
        default=np.uint64(0b1111),
    )
    fused_w = np.select(conds, [1, 9, 12, 16], default=4).astype(np.int64)
    # pair layout: (fused/ctrl, optional 64-bit payload for the big case)
    words = np.empty(dods.size * 2, dtype=np.uint64)
    widths = np.zeros(dods.size * 2, dtype=np.int64)
    words[0::2] = fused
    widths[0::2] = fused_w
    words[1::2] = np.where(big, u, np.uint64(0))
    widths[1::2] = np.where(big, 64, 0)
    return _join_bodies(heads, active, words, widths, seg_of_active)


def _xor_heads(bits: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    lens = (offsets[1:] - offsets[:-1]).astype(np.int64)
    n = lens.size
    nb = lens.astype("<u4").tobytes()
    b0 = np.zeros(n, dtype="<u8")
    has1 = lens >= 1
    b0[has1] = bits[offsets[:-1][has1]]
    b0b = b0.tobytes()
    out = []
    for i in range(n):
        h = nb[4 * i : 4 * i + 4]
        if lens[i] >= 1:
            h += b0b[8 * i : 8 * i + 8]
        out.append(h)
    return out


def encode_xor_flat(flat: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    """Flat-buffer batch Gorilla XOR encoder ('0'/'11' scheme, same stream
    as encode_xor); all math on the concatenated values buffer."""
    flat = np.asarray(flat, dtype=np.float64)
    offsets = np.asarray(offsets, dtype=np.int64)
    bits = flat.view(np.uint64)
    lens = offsets[1:] - offsets[:-1]
    heads = _xor_heads(bits, offsets)
    active = lens >= 2
    if not active.any():
        return heads
    x_all = bits[1:] ^ bits[:-1]
    keep = np.ones(x_all.size, dtype=bool)
    inner = offsets[1:-1]
    idx = inner - 1
    keep[idx[(idx >= 0) & (idx < keep.size)]] = False
    x = x_all[keep]
    seg_of_active = np.repeat(
        np.arange(int(active.sum()), dtype=np.int64), lens[active] - 1
    )
    nz = x != 0
    bl = _bit_length(x)
    lead = np.minimum(64 - bl, 31)
    with np.errstate(over="ignore"):
        low = x & (np.uint64(0) - x)
    trail = _bit_length(low) - 1
    mlen = 64 - lead - trail
    ctrl = np.where(
        nz,
        (np.uint64(0b11) << np.uint64(11))
        | (lead.astype(np.uint64) << np.uint64(6))
        | (mlen.astype(np.uint64) & np.uint64(0x3F)),
        np.uint64(0),
    )
    ctrl_w = np.where(nz, 13, 1)
    payload = np.where(nz, x >> trail.clip(0).astype(np.uint64), np.uint64(0))
    pay_w = np.where(nz, mlen, 0)
    words = np.empty(x.size * 2, dtype=np.uint64)
    widths = np.empty(x.size * 2, dtype=np.int64)
    words[0::2], words[1::2] = ctrl, payload
    widths[0::2], widths[1::2] = ctrl_w, pay_w
    return _join_bodies(heads, active, words, widths, seg_of_active)


def decode_series(enc_buckets: bytes, enc_values: bytes) -> tuple[np.ndarray, np.ndarray]:
    return decode_dod(enc_buckets), decode_xor(enc_values)

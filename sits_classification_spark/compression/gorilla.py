"""Delta-of-delta timestamp + Gorilla XOR value compression.

Implements the two stream codecs from the Gorilla paper (Pelkonen et al.,
VLDB 2015, "Gorilla: A Fast, Scalable, In-Memory Time Series Database"):

- timestamps: delta-of-delta with the paper's bucket code
  {'0', '10'+7b, '110'+9b, '1110'+12b, '1111'+64b};
- values: XOR with leading-zero/meaningful-bit windows
  {'0' identical, '10' fits-prior-window, '11'+5b lead+6b len+bits}.

A stream is a little-endian header (the point count as u4, then the first
point and, for timestamps, the first delta as 8-byte words) followed by
the codewords, MSB first, zero-padded to a whole byte. Each series is
encoded by one sequential loop that writes, through ``_BitWriter``,
exactly the codewords its decoder reads through ``_BitReader``; both are
linear in the stream length. The value encoder writes only '0' and '11'
(a new window per change); the decoder also reads the paper's '10'.

An on-demand form, not a stored one: tiers store the plain
``buckets``/``values`` arrays, whose Parquet encodings are smaller than
these streams, and ``cascade.verify_rows`` encodes tier rows and decodes
them back to audit a tier.

No reference counterpart (engine addition per the build contract); the
wire format is pinned by golden streams and round trips in
``tests/test_gorilla.py``.
"""

from __future__ import annotations

import struct

import numpy as np

_MASK64 = (1 << 64) - 1
_CHUNK = 64  # bytes the bit writer and reader hold in one int: bounds each shift


class _BitWriter:
    """MSB-first bit stream. Bits collect in a small int that moves to the
    byte buffer every _CHUNK bytes, so each write shifts a bounded int and
    writing is linear in the stream length."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out, self.acc, self.nbits = bytearray(), 0, 0

    def write(self, value: int, width: int) -> None:
        """Append `value` (0 <= value < 2**width) as `width` bits."""
        self.acc = self.acc << width | value
        self.nbits += width
        if self.nbits >= 8 * _CHUNK:
            self._flush()

    def _flush(self) -> None:
        keep = self.nbits % 8
        self.out += (self.acc >> keep).to_bytes(self.nbits // 8, "big")
        self.acc &= (1 << keep) - 1
        self.nbits = keep

    def getvalue(self) -> bytes:
        """The stream, zero-padded to a whole byte."""
        pad = -self.nbits % 8
        self.acc <<= pad
        self.nbits += pad
        self._flush()
        return bytes(self.out)


class _BitReader:
    """Reads the stream _BitWriter writes, loading _CHUNK bytes at a time
    into a small int, so reading is linear in the stream length too."""

    __slots__ = ("data", "next", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data, self.next, self.acc, self.nbits = data, 0, 0, 0

    def read(self, width: int) -> int:
        if self.nbits < width:
            chunk = self.data[self.next : self.next + _CHUNK]
            self.next += _CHUNK
            unread = self.acc & ((1 << self.nbits) - 1)
            self.acc = unread << 8 * len(chunk) | int.from_bytes(chunk, "big")
            self.nbits += 8 * len(chunk)
        self.nbits -= width
        return self.acc >> self.nbits & ((1 << width) - 1)


def encode_dod(ts: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 timestamp/bucket array (int64
    arithmetic, so deltas wrap as the decoder's sums do)."""
    ts = np.asarray(ts, dtype=np.int64)
    deltas = ts[1:] - ts[:-1]
    head = struct.pack("<I", ts.size) + ts[:1].astype("<i8").tobytes()
    head += deltas[:1].astype("<i8").tobytes()
    if ts.size < 3:
        return head
    w = _BitWriter()
    for dod in (deltas[1:] - deltas[:-1]).tolist():
        if dod == 0:
            w.write(0, 1)
        elif -63 <= dod <= 64:
            w.write(0b10 << 7 | (dod + 63), 9)
        elif -255 <= dod <= 256:
            w.write(0b110 << 9 | (dod + 255), 12)
        elif -2047 <= dod <= 2048:
            w.write(0b1110 << 12 | (dod + 2047), 16)
        else:
            w.write(0b1111, 4)
            w.write(dod & _MASK64, 64)
    return head + w.getvalue()


def decode_dod(buf: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<I", buf, 0)
    # t0, d0, then one delta-of-delta per further point
    steps = np.frombuffer(buf, "<i8", count=min(n, 2), offset=4).tolist()
    r = _BitReader(buf[20:])
    for _ in range(n - 2):
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
        steps.append(dod)
    out = np.array(steps, dtype=np.int64)
    out[1:] = np.cumsum(out[1:])  # deltas
    return np.cumsum(out)


def encode_xor(values: np.ndarray) -> bytes:
    """Gorilla XOR encode a float64 array, bit for bit (NaN payloads and
    signed zeros survive). Writes '0' for a repeat and '11' with a fresh
    window for every change; the leading-zero count is clamped to its
    5-bit field (31) and a 64-bit meaningful width is written as 0."""
    bits = np.asarray(values, dtype=np.float64).view(np.uint64)
    head = struct.pack("<I", bits.size) + bits[:1].astype("<u8").tobytes()
    if bits.size < 2:
        return head
    w = _BitWriter()
    for x in (bits[1:] ^ bits[:-1]).tolist():
        if x == 0:
            w.write(0, 1)
            continue
        lead = min(64 - x.bit_length(), 31)
        trail = (x & -x).bit_length() - 1
        mlen = 64 - lead - trail
        w.write(0b11 << 11 | lead << 6 | (mlen & 63), 13)
        w.write(x >> trail, mlen)
    return head + w.getvalue()


def decode_xor(buf: bytes) -> np.ndarray:
    (n,) = struct.unpack_from("<I", buf, 0)
    out = np.frombuffer(buf, "<u8", count=min(n, 1), offset=4).tolist()
    r = _BitReader(buf[12:])
    lead = mlen = 0
    for _ in range(n - 1):
        if r.read(1) == 0:
            out.append(out[-1])
            continue
        if r.read(1) == 1:  # '11': a new window; '10' reuses the last one
            lead = r.read(5)
            mlen = r.read(6) or 64
        out.append(out[-1] ^ r.read(mlen) << (64 - lead - mlen))
    return np.array(out, dtype=np.uint64).view(np.float64)


def encode_series(buckets: np.ndarray, values: np.ndarray) -> tuple[bytes, bytes]:
    return encode_dod(buckets), encode_xor(values)


def decode_series(enc_buckets: bytes, enc_values: bytes) -> tuple[np.ndarray, np.ndarray]:
    return decode_dod(enc_buckets), decode_xor(enc_values)


def _slices(flat: np.ndarray, offsets: np.ndarray):
    bounds = np.asarray(offsets, dtype=np.int64).tolist()
    return (flat[a:b] for a, b in zip(bounds[:-1], bounds[1:]))


def encode_dod_flat(flat: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    """encode_dod of each series of a flat buffer split at `offsets`."""
    return [encode_dod(s) for s in _slices(np.asarray(flat, dtype=np.int64), offsets)]


def encode_xor_flat(flat: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    """encode_xor of each series of a flat buffer split at `offsets`."""
    return [encode_xor(s) for s in _slices(np.asarray(flat, dtype=np.float64), offsets)]

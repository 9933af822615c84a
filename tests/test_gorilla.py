"""Golden-stream and round-trip property tests for the delta-of-delta +
Gorilla XOR codecs."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sits_classification_spark.compression.gorilla import (
    decode_dod,
    decode_series,
    decode_xor,
    encode_dod,
    encode_dod_flat,
    encode_series,
    encode_xor,
    encode_xor_flat,
)


def test_dod_empty_and_single():
    assert decode_dod(encode_dod(np.array([], dtype=np.int64))).size == 0
    np.testing.assert_array_equal(decode_dod(encode_dod(np.array([42]))), [42])


def test_dod_regular_grid_is_tiny():
    ts = np.arange(0, 10000, 10, dtype=np.int64)
    enc = encode_dod(ts)
    # constant delta -> 1 bit per point after the header
    assert len(enc) <= 20 + ts.size // 8 + 2
    np.testing.assert_array_equal(decode_dod(enc), ts)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=-(2**40), max_value=2**40), min_size=0, max_size=200))
def test_dod_roundtrip(xs):
    ts = np.sort(np.array(xs, dtype=np.int64)) if xs else np.array([], dtype=np.int64)
    np.testing.assert_array_equal(decode_dod(encode_dod(ts)), ts)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        min_size=0,
        max_size=200,
    )
)
def test_xor_roundtrip(xs):
    v = np.array(xs, dtype=np.float64)
    np.testing.assert_array_equal(decode_xor(encode_xor(v)), v)


def test_xor_nan_roundtrip():
    v = np.array([1.5, np.nan, np.nan, 2.0])
    out = decode_xor(encode_xor(v))
    assert np.isnan(out[1]) and np.isnan(out[2])
    assert out[0] == 1.5 and out[3] == 2.0


def test_series_roundtrip_compresses():
    rng = np.random.default_rng(42)
    buckets = np.arange(0, 3650, 10, dtype=np.int64)
    values = np.round(1000 * np.sin(buckets / 58.0)) + rng.integers(0, 5, buckets.size)
    eb, ev = encode_series(buckets, values.astype(np.float64))
    db, dv = decode_series(eb, ev)
    np.testing.assert_array_equal(db, buckets)
    np.testing.assert_array_equal(dv, values.astype(np.float64))
    raw_bytes = buckets.nbytes + values.astype(np.float64).nbytes
    assert len(eb) + len(ev) < raw_bytes  # actually compresses


# ---------------------------------------------------------------------------
# flat encoders: many series in one buffer, split by offsets
# ---------------------------------------------------------------------------

def _series(elem):
    """Series of 0-40 points: free draws, or runs of repeated points."""
    runs = st.lists(st.tuples(elem, st.integers(1, 12)), max_size=8).map(
        lambda rs: [x for x, n in rs for _ in range(n)][:40]
    )
    return st.one_of(st.lists(elem, max_size=40), runs)


_INTS = st.integers(min_value=-(2**40), max_value=2**40)
_FLOATS = st.floats(allow_nan=False, allow_infinity=False, width=64)


def _flat(series, dtype, head, tail):
    """The series in one buffer between `head` and `tail` padding, so the
    offsets start past 0 as in a sliced Arrow list array."""
    sizes = np.cumsum([0] + [len(s) for s in series])
    offsets = (len(head) + sizes).astype(np.int64)
    flat = np.array([*head, *(x for s in series for x in s), *tail], dtype=dtype)
    return flat, offsets


@settings(max_examples=200, deadline=None)
@given(
    st.lists(_series(_INTS), max_size=30),
    st.lists(_INTS, min_size=1, max_size=5),
    st.lists(_INTS, max_size=5),
)
def test_dod_flat_many_series_roundtrip(series, head, tail):
    flat, offsets = _flat(series, np.int64, head, tail)
    rows = [decode_dod(enc) for enc in encode_dod_flat(flat, offsets)]
    assert len(rows) == len(offsets) - 1
    np.testing.assert_array_equal(
        np.concatenate([np.empty(0, np.int64), *rows]), flat[offsets[0] : offsets[-1]]
    )
    for s, row in zip(series, rows):
        np.testing.assert_array_equal(row, np.array(s, dtype=np.int64))


@settings(max_examples=200, deadline=None)
@given(
    st.lists(_series(_FLOATS), max_size=30),
    st.lists(_FLOATS, min_size=1, max_size=5),
    st.lists(_FLOATS, max_size=5),
)
def test_xor_flat_many_series_roundtrip(series, head, tail):
    flat, offsets = _flat(series, np.float64, head, tail)
    rows = [decode_xor(enc) for enc in encode_xor_flat(flat, offsets)]
    assert len(rows) == len(offsets) - 1
    np.testing.assert_array_equal(
        np.concatenate([np.empty(0), *rows]).view(np.uint64),
        flat[offsets[0] : offsets[-1]].view(np.uint64),
    )
    for s, row in zip(series, rows):
        np.testing.assert_array_equal(row.view(np.uint64), np.array(s, dtype=np.float64).view(np.uint64))


# ---------------------------------------------------------------------------
# the wire format, pinned byte for byte (a round trip alone would pass a
# rewrite that changes the bytes)
# ---------------------------------------------------------------------------

# (series, hex stream); the comments name each series' deltas-of-deltas
_DOD_GOLDEN = [
    ([], "00000000"),
    ([42], "010000002a00000000000000"),
    ([5, 12], "0200000005000000000000000700000000000000"),
    ([-7, 3, 13], "03000000f9ffffffffffffff0a0000000000000000"),  # dod 0
    ([100, 110, 120, 130, 140], "0500000064000000000000000a0000000000000000"),
    # '10'+7b bucket at both edges: dod -63, 64
    ([0, 10, -43, -32], "0400000000000000000000000a00000000000000805fc0"),
    # one past each edge: dod -64, 65 fall to '110'+9b
    ([0, 10, -44, -33], "0400000000000000000000000a00000000000000cbfd40"),
    # '110'+9b at both edges: dod -255, 256
    ([0, 10, -235, -224], "0400000000000000000000000a00000000000000c00dff"),
    # one past: dod -256, 257 fall to '1110'+12b
    ([0, 10, -236, -225], "0400000000000000000000000a00000000000000e6ffe900"),
    # '1110'+12b at both edges: dod -2047, 2048
    ([0, 10, -2027, -2016], "0400000000000000000000000a00000000000000e000efff"),
    # one past: dod -2048, 2049 take the '1111'+64b escape
    (
        [0, 10, -2028, -2017],
        "0400000000000000000000000a00000000000000ffffffffffffff800f0000000000000801",
    ),
    # escape with a negative dod (-5e9)
    ([1000, 1005, -4999998990], "03000000e8030000000000000500000000000000ffffffffed5fa0e000"),
    ([0, 1, 2**40 + 2], "0300000000000000000000000100000000000000f00000100000000000"),
]

_XOR_GOLDEN = [
    ([], "00000000"),
    ([1.5], "01000000000000000000f83f"),
    ([1.5, 2.5], "02000000000000000000f83fc26fffc0"),
    ([3.0, 3.0, 3.0], "03000000000000000000084000"),  # repeats: '0', '0'
    ([1.0, 2.0, -7.25, 1000.5], "04000000000000000000f03fc25fffc08400ee05a02491"),  # '11' windows
    # xor == 1: 63 leading zeros, clamped to 31 in the 5-bit field
    ([1.0, float(np.nextafter(1.0, 2.0))], "02000000000000000000f03fff0800000004"),
    # xor == 0x8000000000000001: a 64-bit meaningful width, written as 0
    ([5e-324, -0.0], "020000000100000000000000c0040000000000000008"),
    ([0.0, -0.0, float("nan"), float("nan"), 0.0], "050000000000000000000000c00f01bfff6133ffc0"),
]


@pytest.mark.parametrize("ts,want", _DOD_GOLDEN)
def test_dod_golden_stream(ts, want):
    ts = np.array(ts, dtype=np.int64)
    assert encode_dod(ts).hex() == want
    np.testing.assert_array_equal(decode_dod(bytes.fromhex(want)), ts)


@pytest.mark.parametrize("values,want", _XOR_GOLDEN)
def test_xor_golden_stream(values, want):
    v = np.array(values, dtype=np.float64)
    assert encode_xor(v).hex() == want
    np.testing.assert_array_equal(
        decode_xor(bytes.fromhex(want)).view(np.uint64), v.view(np.uint64)
    )


def test_xor_decoder_reads_prior_window_code():
    """The encoder writes only '0' and '11'; the decoder also reads the
    paper's '10' (the xor fits the previous window). Hand-built stream for
    [1.0, 1.5, 1.0], whose xors are both bit 51: '11' lead=12 len=1 bit
    '1', then '10' bit '1', zero-padded from 17 bits to 3 bytes."""
    head = bytes.fromhex("03000000") + np.float64(1.0).tobytes()
    body = int("11" + "01100" + "000001" + "1" + "10" + "1", 2) << 7
    out = decode_xor(head + body.to_bytes(3, "big"))
    np.testing.assert_array_equal(out, [1.0, 1.5, 1.0])


def test_long_series_roundtrip_is_linear_time():
    """A 100k-point series round-trips in well under the time a codec
    quadratic in the stream length takes (over a minute at this size)."""
    import time

    rng = np.random.default_rng(5)
    days = np.cumsum(rng.integers(1, 30, 100_000)).astype(np.int64)
    values = rng.normal(size=days.size)
    t0 = time.perf_counter()
    db, dv = decode_series(*encode_series(days, values))
    assert time.perf_counter() - t0 < 20
    np.testing.assert_array_equal(db, days)
    np.testing.assert_array_equal(dv.view(np.uint64), values.view(np.uint64))

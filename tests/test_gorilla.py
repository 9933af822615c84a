"""Round-trip property tests for delta-of-delta + Gorilla XOR codecs."""

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


def _flat(series, dtype):
    offsets = np.concatenate(([0], np.cumsum([len(s) for s in series]))).astype(np.int64)
    flat = np.array([x for s in series for x in s], dtype=dtype)
    return flat, offsets


@settings(max_examples=200, deadline=None)
@given(st.lists(_series(_INTS), max_size=30))
def test_dod_flat_many_series_roundtrip(series):
    flat, offsets = _flat(series, np.int64)
    encoded = encode_dod_flat(flat, offsets)
    assert len(encoded) == len(series)
    for s, enc in zip(series, encoded):
        want = np.array(s, dtype=np.int64)
        np.testing.assert_array_equal(decode_dod(enc), want)
        assert enc == encode_dod(want)


@settings(max_examples=200, deadline=None)
@given(st.lists(_series(_FLOATS), max_size=30))
def test_xor_flat_many_series_roundtrip(series):
    flat, offsets = _flat(series, np.float64)
    encoded = encode_xor_flat(flat, offsets)
    assert len(encoded) == len(series)
    for s, enc in zip(series, encoded):
        want = np.array(s, dtype=np.float64)
        np.testing.assert_array_equal(decode_xor(enc).view(np.uint64), want.view(np.uint64))
        assert enc == encode_xor(want)

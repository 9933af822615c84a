"""Property tests: the flat-buffer cascade kernels (one numpy pass per
Arrow batch) must agree exactly with their per-doc reference forms
(raw_kernel/grid_kernel/fold_avg_kernel below) on hypothesis-generated
ragged batches, and the one list-column reader (FK.list_buffers) with
pyarrow's own to_pylist."""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from sits_classification_spark.config import EngineConfig
from sits_classification_spark.plans import flatkernels as FK

CFG = EngineConfig()


def raw_kernel(tokens: np.ndarray, cfg: EngineConfig):
    """decode: position k -> day, -9999 -> gap; keep valid obs only.

    Returns (days int64, values float64) of valid observations, or None if
    the doc fails the >=2-valid screen (utils/class_run.py:150-156, F6/F7).
    """
    k = np.arange(tokens.size, dtype=np.int64)
    days = cfg.epoch_day + k * cfg.cadence_days
    valid = tokens != cfg.nodata
    if valid.sum() < 2:
        return None
    return days[valid], tokens[valid].astype(np.float64)


def grid_kernel(all_days: np.ndarray, days: np.ndarray, values: np.ndarray, cfg: EngineConfig):
    """W1+W2 fused: linear gap-fill + np.interp onto the INT_DAY grid.

    np.interp on the valid points == gap-fill(LINEAR, both) then regrid —
    filled points lie on segments between valid points (see FK.flat_interp).
    Grid anchored at the series start (utils/class_run.py:161-175 doy calc).
    """
    grid = np.arange(all_days.min(), all_days.max() + 1, cfg.int_day, dtype=np.int64)
    return grid, np.interp(grid, days, values)


def fold_avg_kernel(buckets: np.ndarray, values: np.ndarray):
    """AVG fold of a sorted-bucket series (np.add.reduceat — vectorized)."""
    uniq, idx = np.unique(buckets, return_index=True)
    sums = np.add.reduceat(values, idx)
    counts = np.diff(np.append(idx, values.size))
    return uniq.astype(np.int64), sums / counts

doc = st.lists(
    st.one_of(st.just(-9999), st.integers(-2000, 2000)), min_size=1, max_size=60
)
batch = st.lists(doc, min_size=1, max_size=12)


def _flatten(docs):
    flat = np.concatenate([np.asarray(d, dtype=np.int64) for d in docs])
    offsets = np.concatenate(
        ([0], np.cumsum([len(d) for d in docs]))
    ).astype(np.int64)
    return flat, offsets


def _per_doc(offsets, flat):
    for i in range(offsets.size - 1):
        yield flat[offsets[i] : offsets[i + 1]]


@settings(max_examples=200, deadline=None)
@given(batch)
def test_flat_decode_matches_per_doc(docs):
    flat, offsets = _flatten(docs)
    keep, noff, days, vals, _n = FK.flat_decode(
        flat, offsets, CFG.nodata, CFG.cadence_days, CFG.epoch_day
    )
    j = 0
    for i, d in enumerate(docs):
        r = raw_kernel(np.asarray(d, dtype=np.int64), CFG)
        assert keep[i] == (r is not None)
        if r is None:
            continue
        ed, ev = r
        got_d = days[noff[j] : noff[j + 1]]
        got_v = vals[noff[j] : noff[j + 1]]
        assert np.array_equal(got_d, ed) and np.array_equal(got_v, ev)
        j += 1


@settings(max_examples=200, deadline=None)
@given(batch)
def test_flat_interp_and_fold_match_per_doc(docs):
    flat, offsets = _flatten(docs)
    keep, noff, days, vals, _n = FK.flat_decode(
        flat, offsets, CFG.nodata, CFG.cadence_days, CFG.epoch_day
    )
    goff, gdays, gvals = FK.flat_interp(days, vals, noff, CFG.int_day)
    foff, fb, fv = FK.flat_fold(gdays, gvals, goff, FK.day_to_month_bucket)
    j = 0
    for d in docs:
        r = raw_kernel(np.asarray(d, dtype=np.int64), CFG)
        if r is None:
            continue
        ed, ev = r
        eg, egv = grid_kernel(ed, ed, ev, CFG)
        got_g = gdays[goff[j] : goff[j + 1]]
        got_gv = gvals[goff[j] : goff[j + 1]]
        assert np.array_equal(got_g, eg)
        assert np.allclose(got_gv, egv, rtol=0, atol=1e-9)
        eb, ebv = fold_avg_kernel(FK.day_to_month_bucket(eg), egv)
        got_b = fb[foff[j] : foff[j + 1]]
        got_bv = fv[foff[j] : foff[j + 1]]
        assert np.array_equal(got_b, eb)
        assert np.allclose(got_bv, ebv, rtol=0, atol=1e-9)
        j += 1


@settings(max_examples=200, deadline=None)
@given(batch, st.integers(197001, 197012))
def test_flat_trim_matches_per_doc(docs, cutoff):
    flat, offsets = _flatten(docs)
    keep, noff, days, vals, _n = FK.flat_decode(
        flat, offsets, CFG.nodata, CFG.cadence_days, CFG.epoch_day
    )
    goff, gdays, gvals = FK.flat_interp(days, vals, noff, CFG.int_day)
    foff, fb, fv = FK.flat_fold(gdays, gvals, goff, FK.day_to_month_bucket)
    tkeep, toff, tb, tv = FK.flat_trim(fb, fv, foff, cutoff)
    j = 0
    for i in range(foff.size - 1):
        b = fb[foff[i] : foff[i + 1]]
        v = fv[foff[i] : foff[i + 1]]
        m = b >= cutoff
        assert tkeep[i] == bool(m.any())
        if not m.any():
            continue
        assert np.array_equal(tb[toff[j] : toff[j + 1]], b[m])
        assert np.array_equal(tv[toff[j] : toff[j + 1]], v[m])
        j += 1


_ELEMENTS = {
    "int32": (pa.int32(), st.integers(-(2**31), 2**31 - 1)),
    "int64": (pa.int64(), st.integers(-(2**63), 2**63 - 1)),
    "float64": (pa.float64(), st.floats(allow_nan=False)),
}


@st.composite
def list_columns(draw):
    """A list column as ``RecordBatch.column`` gives it: null rows, null
    elements and empty rows; some null rows keep a non-empty segment of
    the child (Arrow allows it); the batch sliced, so offsets[0] may be
    above 0 and the child may hold elements outside the slice."""
    typ, elements = _ELEMENTS[draw(st.sampled_from(sorted(_ELEMENTS)))]
    row = st.lists(st.one_of(st.none(), elements), max_size=6)
    rows = draw(st.lists(st.one_of(st.none(), row), max_size=10))
    col = pa.array(rows, pa.list_(typ))
    masked = draw(st.lists(st.booleans(), min_size=len(rows), max_size=len(rows)))
    if any(masked):
        null = pa.array([r is None or m for r, m in zip(rows, masked)])
        col = pa.ListArray.from_arrays(col.offsets, col.values, mask=null)
    lo = draw(st.integers(0, len(rows)))
    n = draw(st.integers(0, len(rows) - lo))
    return pa.RecordBatch.from_arrays([col], names=["c"]).slice(lo, n).column(0)


@settings(max_examples=300, deadline=None)
@given(list_columns())
def test_list_buffers_agrees_with_to_pylist(col):
    flat, offsets, valid = FK.list_buffers(col)
    rows = col.to_pylist()
    assert flat.dtype == col.type.value_type.to_pandas_dtype()
    assert offsets[0] == 0 and offsets.size == len(rows) + 1
    assert (valid is None) == all(r is not None and None not in r for r in rows)
    ok = np.ones(flat.size, dtype=bool) if valid is None else valid
    for i, r in enumerate(rows):
        seg = slice(offsets[i], offsets[i + 1])
        if r is None:
            assert not ok[seg].any()
        else:
            assert [x if v else None for x, v in zip(flat[seg].tolist(), ok[seg])] == r

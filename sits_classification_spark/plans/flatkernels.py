"""Flat-buffer kernels for the tier cascade.

Arrow list columns are physically (values buffer, offsets buffer). These
kernels run the per-doc math directly on those flat buffers — one numpy
pass per Arrow batch, no per-row Python, no pandas object arrays:

- ``flat_decode``: tokens -> valid (day, value) pairs + >=2-valid screen;
- ``flat_interp``: per-doc np.interp onto the INT_DAY grid in ONE interp
  call, by lifting each doc's day axis to a disjoint window
  (doc_idx * 2^21 + day keeps everything exact in float64 and produces
  bit-identical results to per-doc np.interp — the slope/delta arithmetic
  only ever sees within-doc differences);
- ``flat_fold``: calendar AVG folds via run-length reduceat on the
  (doc, bucket) composite key (globally sorted by construction).

Each returns (new_offsets, ...) so the caller can rebuild Arrow ListArrays
zero-copy.
"""

from __future__ import annotations

import numpy as np

_LIFT = np.int64(1) << np.int64(21)  # > any day index; doc windows disjoint


def list_buffers(col) -> tuple[np.ndarray, np.ndarray]:
    """(flat_values, zero-based offsets) of an Arrow list column."""
    offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = col.values.to_numpy(zero_copy_only=False)
    lo, hi = offsets[0], offsets[-1]
    return flat[lo:hi], offsets - lo


def lens_of(offsets: np.ndarray) -> np.ndarray:
    return offsets[1:] - offsets[:-1]


def repeat_doc_idx(offsets: np.ndarray) -> np.ndarray:
    return np.repeat(np.arange(offsets.size - 1, dtype=np.int64), lens_of(offsets))


def flat_decode(
    flat_tokens: np.ndarray,
    offsets: np.ndarray,
    nodata: int,
    cadence: int,
    epoch: int,
    min_valid: int = 2,
):
    """decode + screen. Returns (keep_docs bool[n], new_offsets, days,
    values, n), n being the number of input docs.

    days/values contain only valid observations of kept docs, doc-major.
    """
    lens = lens_of(offsets)
    starts = offsets[:-1]
    n = lens.size
    k = np.arange(flat_tokens.size, dtype=np.int64) - np.repeat(starts, lens)
    days = epoch + k * cadence
    valid = flat_tokens != nodata
    cs = np.concatenate(([0], np.cumsum(valid)))
    vc = cs[offsets[1:]] - cs[offsets[:-1]]
    keep_docs = vc >= min_valid
    keep_elem = valid & np.repeat(keep_docs, lens)
    new_lens = vc[keep_docs]
    new_offsets = np.concatenate(([0], np.cumsum(new_lens)))
    return keep_docs, new_offsets, days[keep_elem], flat_tokens[keep_elem].astype(np.float64), n


def flat_interp(
    days: np.ndarray, values: np.ndarray, offsets: np.ndarray, int_day: int
):
    """Per-doc linear gap-fill + grid resample, fused, one np.interp call.

    Semantics = ``np.interp(grid, valid_days, valid_values)`` on the grid
    first_day, first_day + int_day, ... <= last_day: piecewise-linear
    between valid observations. Gap-fill (W1 LINEAR, both directions,
    ``utils/class_run.py:193-194``) then regrid (W2, ``TSA.prm:262-264``)
    is the same thing, since filled points lie on the segments between
    valid points.

    Requires every doc to have >=1 point (guaranteed by flat_decode).
    Returns (grid_offsets, grid_days, grid_values).
    """
    if offsets.size <= 1:
        # a batch where every doc failed the decode screen: np.interp on an
        # empty sample-point array raises, so short-circuit (hypothesis-found)
        return (
            np.zeros(1, dtype=np.int64),
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.float64),
        )
    starts, ends = offsets[:-1], offsets[1:] - 1
    gmin, gmax = days[starts], days[ends]
    glen = (gmax - gmin) // int_day + 1
    goff = np.concatenate(([0], np.cumsum(glen)))
    total_g = int(goff[-1])
    gdoc = np.repeat(np.arange(glen.size, dtype=np.int64), glen)
    gk = np.arange(total_g, dtype=np.int64) - np.repeat(goff[:-1], glen)
    grid_days = np.repeat(gmin, glen) + gk * int_day
    doc_of_obs = repeat_doc_idx(offsets)
    xp = days + doc_of_obs * _LIFT
    x = grid_days + gdoc * _LIFT
    grid_values = np.interp(x, xp, values)
    return goff, grid_days, grid_values


def day_to_month_bucket(days: np.ndarray) -> np.ndarray:
    months = (
        np.asarray(days, dtype="int64").astype("datetime64[D]").astype("datetime64[M]")
    ).astype(np.int64)
    return (1970 + months // 12) * 100 + months % 12 + 1


def month_to_quarter_bucket(mb: np.ndarray) -> np.ndarray:
    return mb // 100 * 10 + (mb % 100 - 1) // 3 + 1


def flat_fold(
    buckets: np.ndarray, values: np.ndarray, offsets: np.ndarray, mapper
):
    """AVG fold into mapper(buckets). Buckets must be non-decreasing within
    each doc (true for calendar mappings of ascending days).

    Returns (new_offsets, new_buckets, new_values).
    """
    nb = mapper(buckets)
    doc = repeat_doc_idx(offsets)
    key = doc * np.int64(10**7) + nb
    if key.size == 0:
        return np.zeros(offsets.size, dtype=np.int64), nb, values
    change = np.empty(key.size, dtype=bool)
    change[0] = True
    np.not_equal(key[1:], key[:-1], out=change[1:])
    starts = np.flatnonzero(change)
    sums = np.add.reduceat(values, starts)
    counts = np.diff(np.append(starts, key.size))
    new_lens = np.bincount(doc[starts], minlength=offsets.size - 1)
    new_offsets = np.concatenate(([0], np.cumsum(new_lens)))
    return new_offsets, nb[starts], sums / counts


def flat_trim(
    buckets: np.ndarray, values: np.ndarray, offsets: np.ndarray, cutoff: int
):
    """Retention trim: keep only points with bucket >= cutoff; docs trimmed
    to nothing are dropped. Returns (keep_docs, new_offsets, buckets,
    values) — the drop-chunks analog at row granularity."""
    lens = lens_of(offsets)
    keep = buckets >= cutoff
    cs = np.concatenate(([0], np.cumsum(keep)))
    kc = cs[offsets[1:]] - cs[offsets[:-1]]
    keep_docs = kc >= 1
    keep_elem = keep & np.repeat(keep_docs, lens)
    new_offsets = np.concatenate(([0], np.cumsum(kc[keep_docs])))
    return keep_docs, new_offsets, buckets[keep_elem], values[keep_elem]

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
zero-copy. ``list_buffers`` is the package's one reader of those buffers;
it hands each caller the element validity, and the caller says in one
line what a null means to it.
"""

from __future__ import annotations

import numpy as np

_LIFT = np.int64(1) << np.int64(21)  # > any day index; doc windows disjoint


def list_buffers(col) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """(flat, zero-based offsets, valid) of an Arrow list column: `flat` in
    the element type, a null slot read as 0; `valid` the element validity,
    the elements of a null row invalid too, or None when Arrow's null
    counts show no null, so a null-free batch does no extra array pass."""
    offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lo, hi = offsets[[0, -1]].tolist()
    child, offsets = col.values.slice(lo, hi - lo), offsets - lo
    if not (col.null_count or child.null_count):
        return child.to_numpy(zero_copy_only=False), offsets, None
    valid = child.is_valid().to_numpy(zero_copy_only=False)
    valid &= np.repeat(col.is_valid().to_numpy(zero_copy_only=False), np.diff(offsets))
    return child.fill_null(0).to_numpy(zero_copy_only=False), offsets, valid


def null_free(batch, cols, what: str) -> list[tuple[np.ndarray, np.ndarray]]:
    """(flat, offsets) of each list column `cols` of `batch` that may hold
    no null: a null raises ValueError naming `what` and the column."""
    bufs = [list_buffers(batch.column(c)) for c in cols]
    for c, (_, _, valid) in zip(cols, bufs):
        if valid is not None:
            raise ValueError(f"{what}: column {c!r} holds a null")
    return [(flat, offsets) for flat, offsets, _ in bufs]


def lens_of(offsets: np.ndarray) -> np.ndarray:
    return offsets[1:] - offsets[:-1]


def repeat_doc_idx(offsets: np.ndarray) -> np.ndarray:
    return np.repeat(np.arange(offsets.size - 1, dtype=np.int64), lens_of(offsets))


def compact(keep: np.ndarray, offsets: np.ndarray, min_keep: int):
    """The elements `keep` marks, doc by doc, dropping each doc that keeps
    fewer than `min_keep`: (keep_docs bool[n], new_offsets, keep_elem)."""
    cs = np.concatenate(([0], np.cumsum(keep)))
    kc = cs[offsets[1:]] - cs[offsets[:-1]]
    keep_docs = kc >= min_keep
    keep_elem = keep & np.repeat(keep_docs, lens_of(offsets))
    return keep_docs, np.concatenate(([0], np.cumsum(kc[keep_docs]))), keep_elem


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
    k = np.arange(flat_tokens.size, dtype=np.int64) - np.repeat(offsets[:-1], lens)
    days = epoch + k * cadence
    keep_docs, new_offsets, keep = compact(flat_tokens != nodata, offsets, min_valid)
    return keep_docs, new_offsets, days[keep], flat_tokens[keep].astype(np.float64), lens.size


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
    keep_docs, new_offsets, keep = compact(buckets >= cutoff, offsets, 1)
    return keep_docs, new_offsets, buckets[keep], values[keep]

"""Per-salt-bucket lineage + checkpoint/resume protocol.

Spark form of the reference's skip-if-exists resume
(``pytorch/predict.py:106-109``: a tile whose output folder already exists is
skipped) generalized to lineage records, one per (tier, salt bucket):

    (tier, salt, input_snapshot_id, config_hash, salt_width,
     rows_out, checksum, committed_at)

``config_hash`` is ``EngineConfig.config_hash()``, which covers the
stored format (``config.TIER_FORMAT``), and ``salt_width`` the number of
salt buckets the tier was laid out with. The checksum is Spark's
``bit_xor(xxhash64(doc_id, buckets, values))`` over the bucket's rows:
order-independent, so a resumed build is verifiable against a from-scratch
build, and it sees the stored values, not only their rounded tokens.

The lineage is taken from the pass that writes the rows, not read back
from the written tiers: each stage task hashes the tier batches it emits
with ``row_hashes`` (a numpy port of Spark's xxhash64, bit for bit) and
folds per-(tier, salt) row counts and checksums into a ``LineageStats``
accumulator; ``write_lineage`` then writes one parquet file per commit
under ``<warehouse>/lineage/`` with pyarrow, with no Spark job. One
driver-side reader, ``read_lineage``, serves ``recorded_width`` and
``committed``: a rebuild reads the (tier, salt) committed for the same
(input_snapshot_id, config_hash, salt_width), recomputes the salt buckets
any tier lacks and filters the committed keys out of the result before
writing it. That is the one resume rule: lineage of another snapshot,
config, width or tier format matches nothing, and the build is a full
rebuild that replaces every tier and the lineage
(``cascade.build_cascade``). All of it is local-filesystem I/O, as are the
tier renames of the commit.
"""

from __future__ import annotations

import operator
import os
import time
import uuid
from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = pa.schema(
    [
        ("tier", pa.string()),
        ("salt", pa.int32()),
        ("input_snapshot_id", pa.string()),
        ("config_hash", pa.string()),
        ("salt_width", pa.int32()),
        ("rows_out", pa.int64()),
        ("checksum", pa.int64()),
        ("committed_at", pa.float64()),
    ]
)

# ---------------------------------------------------------------------------
# the checksum: Spark's xxhash64(doc_id, buckets, values), ported to numpy
# ---------------------------------------------------------------------------

SEED = 42  # Spark's XxHash64 seed
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_CANONICAL_NAN = np.uint64(0x7FF8000000000000)  # Double.doubleToLongBits(NaN)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    return h ^ (h >> np.uint64(32))


def _hash_int(x: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64.hashInt of the unsigned 32-bit words `x`."""
    h = (seed + _P5 + np.uint64(4)) ^ (x * _P1)
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def _mix(x: np.ndarray) -> np.ndarray:
    """XXH64's round on a zero accumulator: rotl(x * P2, 31) * P1."""
    return _rotl(x * _P2, 31) * _P1


def _hash_long(x: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64.hashLong of the 64-bit words `x`."""
    h = (seed + _P5 + np.uint64(8)) ^ _mix(x)
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def _hash_bytes(data: np.ndarray, starts: np.ndarray, length: int, seed: np.ndarray) -> np.ndarray:
    """XXH64.hashUnsafeBytes of the `length`-byte strings starting at
    `starts` in `data`, one per seed: the strings share one control flow,
    so each step runs across all of them at once."""
    b = data[starts[:, None] + np.arange(length)]
    words = np.ascontiguousarray(b[:, : length // 8 * 8]).view("<u8")
    w = 0
    if length >= 32:  # four-lane stripes of 32 bytes
        v = [seed + _P1 + _P2, seed + _P2, seed.copy(), seed - _P1]
        for w in range(0, length // 32 * 4, 4):
            v = [_rotl(v[i] + words[:, w + i] * _P2, 31) * _P1 for i in range(4)]
        w = length // 32 * 4
        h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for lane in v:
            h = (h ^ _mix(lane)) * _P1 + _P4
    else:
        h = seed + _P5
    h = h + np.uint64(length)
    for w in range(w, length // 8):
        h = _rotl(h ^ _mix(words[:, w]), 27) * _P1 + _P4
    off = length // 8 * 8
    if off + 4 <= length:
        x = np.ascontiguousarray(b[:, off : off + 4]).view("<u4")[:, 0].astype(np.uint64)
        h = _rotl(h ^ (x * _P1), 23) * _P2 + _P3
        off += 4
    for i in range(off, length):
        h = _rotl(h ^ (b[:, i].astype(np.uint64) * _P5), 11) * _P1
    return _fmix(h)


def _chain_string(h: np.ndarray, col: pa.Array) -> np.ndarray:
    """Fold each row's UTF-8 bytes into its running hash; null rows keep
    theirs. Rows are grouped by byte length."""
    col = col.cast(pa.large_binary())
    _validity, off_buf, data_buf = col.buffers()
    off = np.frombuffer(off_buf, np.int64)[col.offset : col.offset + len(col) + 1]
    data = np.frombuffer(data_buf, np.uint8) if data_buf is not None else np.zeros(0, np.uint8)
    lengths = np.diff(off)
    valid = col.is_valid().to_numpy(zero_copy_only=False)
    out = h.copy()
    for length in np.unique(lengths[valid]).tolist():
        rows = np.flatnonzero(valid & (lengths == length))
        out[rows] = _hash_bytes(data, off[rows], length, h[rows])
    return out


def _chain_list(h: np.ndarray, col: pa.Array, words, step) -> np.ndarray:
    """Fold each row's non-null elements, in order, into its running hash
    with `step(words(element), hash)`; null rows keep theirs. Rows are
    sorted longest first, so the rows that have an element at position j
    are a prefix, and the loop runs over positions, each step across rows."""
    offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lengths = np.where(col.is_valid().to_numpy(zero_copy_only=False), np.diff(offsets), 0)
    child = col.values
    flat = words(child.fill_null(0).to_numpy(zero_copy_only=False))
    present = child.is_valid().to_numpy(zero_copy_only=False) if child.null_count else None
    order = np.argsort(-lengths, kind="stable")
    starts, neg_len = offsets[:-1][order], -lengths[order]
    g = h[order]
    longest = -int(neg_len[0]) if len(neg_len) else 0
    for j, k in enumerate(np.searchsorted(neg_len, -np.arange(longest), side="left").tolist()):
        idx = starts[:k] + j
        new = step(flat[idx], g[:k])
        g[:k] = new if present is None else np.where(present[idx], new, g[:k])
    out = np.empty_like(h)
    out[order] = g
    return out


def _int_words(a: np.ndarray) -> np.ndarray:
    return a.astype(np.int32).view(np.uint32).astype(np.uint64)


def _double_words(a: np.ndarray) -> np.ndarray:
    """Double.doubleToLongBits as Spark's hash takes it: -0.0 hashes as
    0.0 and every NaN as the canonical NaN."""
    a = a.astype(np.float64)
    a[a == 0.0] = 0.0
    bits = a.view(np.uint64)
    bits[np.isnan(a)] = _CANONICAL_NAN
    return bits


def row_hashes(doc_id: pa.Array, buckets: pa.Array, values: pa.Array) -> np.ndarray:
    """Spark's xxhash64(doc_id, buckets, values) of each row, as int64: the
    seed 42 chained through hashUnsafeBytes of the UTF-8 id, hashInt of
    each bucket, then hashLong of each value's bits. Null ids, arrays and
    elements are skipped, as Spark skips them."""
    h = np.full(len(doc_id), SEED, dtype=np.uint64)
    h = _chain_string(h, doc_id)
    h = _chain_list(h, buckets, _int_words, _hash_int)
    h = _chain_list(h, values, _double_words, _hash_long)
    return h.view(np.int64)


# ---------------------------------------------------------------------------
# per-(tier, salt) stats, gathered by the stage tasks
# ---------------------------------------------------------------------------

class LineageStats(AccumulatorParam):
    """Accumulator of {(tier, salt): (rows_out, checksum)}: counts add,
    checksums XOR."""

    def zero(self, value):
        return {}

    @staticmethod
    def addInPlace(acc, more):
        for key, (rows, checksum) in more.items():
            r, c = acc.get(key, (0, 0))
            acc[key] = (r + rows, c ^ checksum)
        return acc


def add_batch_stats(acc: dict, tier: str, batch: pa.RecordBatch) -> None:
    """Fold the row count and checksum of each salt bucket in one tier
    batch (columns doc_id, salt, buckets, values) into `acc`."""
    h = row_hashes(batch.column("doc_id"), batch.column("buckets"), batch.column("values"))
    salt = batch.column("salt").to_numpy(zero_copy_only=False)
    for s in np.unique(salt).tolist():
        in_s = salt == s
        LineageStats.addInPlace(
            acc, {(tier, s): (int(np.count_nonzero(in_s)), int(np.bitwise_xor.reduce(h[in_s])))}
        )


# ---------------------------------------------------------------------------
# lineage I/O: driver-side pyarrow
# ---------------------------------------------------------------------------

def write_lineage(
    lineage_path: str,
    stats: dict,
    snapshot_id: str,
    config_hash: str,
    salt_width: int | None,
) -> None:
    """Append one lineage row per (tier, salt) in `stats` as one parquet
    file: written under a dot-prefixed name, which Spark and read_lineage
    skip, then renamed into place, so a crash leaves no partial file."""
    if not stats:
        return
    keys = sorted(stats)
    n = len(keys)
    table = pa.table(
        [
            [t for t, _ in keys],
            [s for _, s in keys],
            [snapshot_id] * n,
            [config_hash] * n,
            [salt_width] * n,
            [stats[k][0] for k in keys],
            [stats[k][1] for k in keys],
            [time.time()] * n,
        ],
        schema=LINEAGE_SCHEMA,
    )
    # imported here: the stage workers import this module for the
    # checksum, and the parquet library would add to every worker's memory
    import pyarrow.parquet as pq

    os.makedirs(lineage_path, exist_ok=True)
    name = f"part-{time.time_ns()}-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(lineage_path, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(lineage_path, name))


def read_lineage(lineage_path: str) -> pa.Table | None:
    """Every lineage file under `lineage_path`, written by this module or
    by Spark, read as one table of LINEAGE_SCHEMA: a column a file lacks
    reads as null (so its rows match no config or width), a column the
    schema lacks is dropped, and Spark's int64 salts are cast to int32.
    None when there is no lineage row; a damaged file raises, since a
    swallowed error would silently disable resume."""
    if not os.path.isdir(lineage_path):
        return None
    import pyarrow.parquet as pq

    lin = pq.read_table(lineage_path, schema=LINEAGE_SCHEMA)
    return lin if lin.num_rows else None


def _matching(lineage_path: str, match: dict) -> list[dict] | None:
    """Lineage rows whose columns equal `match` (None-valued keys are not
    matched on); None when there is no lineage."""
    lin = read_lineage(lineage_path)
    if lin is None:
        return None
    match = {k: v for k, v in match.items() if v is not None}
    return [r for r in lin.to_pylist() if all(r[k] == v for k, v in match.items())]


def recorded_width(lineage_path: str, **match) -> int | None:
    """The salt width recorded on the lineage rows matching `match`; None
    when no row matches or the rows disagree."""
    rows = _matching(lineage_path, match)
    widths = {r["salt_width"] for r in rows or ()}
    return widths.pop() if len(widths) == 1 else None


def committed(
    lineage_path: str,
    tier: str | None,
    snapshot_id: str,
    config_hash: str | None = None,
    salt_width: int | None = None,
) -> set[tuple[str, int]] | None:
    """The (tier, salt) already committed at snapshot, for the given tier
    (every tier when None), config hash and salt width when those are
    passed; None when there is no lineage."""
    rows = _matching(
        lineage_path,
        {
            "tier": tier,
            "input_snapshot_id": snapshot_id,
            "config_hash": config_hash,
            "salt_width": salt_width,
        },
    )
    return None if rows is None else {(r["tier"], r["salt"]) for r in rows}


def committed_keys(
    spark: SparkSession,
    lineage_path: str,
    tier: str | None,
    snapshot_id: str,
    config_hash: str | None = None,
    salt_width: int | None = None,
) -> DataFrame | None:
    """``committed`` as a (tier, salt) DataFrame, built from literals so
    that it needs no Python worker."""
    keys = committed(lineage_path, tier, snapshot_id, config_hash, salt_width)
    if keys is None:
        return None
    rows = F.array(*(F.struct(F.lit(t), F.lit(s)) for t, s in sorted(keys)))
    return spark.range(1).select(F.inline(rows.cast("array<struct<tier:string,salt:int>>")))


def filter_uncommitted(df: DataFrame, keys: set[tuple[str, int]] | None) -> DataFrame:
    """Drop the rows of the (tier, salt) buckets in `keys`, with one
    predicate built on the driver (the key set is tiny: at most tiers x
    salt width)."""
    if not keys:
        return df
    by_tier: dict[str, list[int]] = {}
    for t, s in sorted(keys):
        by_tier.setdefault(t, []).append(s)
    hit = reduce(
        operator.or_,
        ((F.col("tier") == t) & F.col("salt").isin(salts) for t, salts in by_tier.items()),
    )
    return df.where(~hit)

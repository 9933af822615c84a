"""The tier cascade: raw -> 10-day -> monthly -> seasonal continuous aggregates.

The engine's flagship plan. Key scale insight (vs a naive port): after
decode, every kernel is **row-local on the nested token-array representation**
— gap-fill, grid resample, and calendar folds for one doc depend only on that
doc's own row. So the whole cascade runs as ``mapInArrow`` over Arrow
batches with **zero shuffles** (the reference's per-pixel multiprocessing
pool, ``force/skel/UDF.prm:183-188``, becomes embarrassingly-parallel Arrow
batch processing). The only repartition is the explicit salted one on
``(source, pmod(xxhash64(doc_id), S))`` that balances zipf-skewed sources
across tasks and gives lineage its partition granularity.

The salt width is derived once per build as
``S = min(cfg.salt_buckets, defaultParallelism)``: the salt exists to spread
the hot source over the tasks that can run at once, and buckets beyond the
task-slot count only add ``(source, salt)`` files (each tier is written as
up to n_sources x S of them). ``cfg.salt_buckets`` is therefore an upper
bound. Every tier of a build shares its S, and lineage records it next to
the config hash, so a resume reuses the width of the build it continues and
never mixes layouts.

Each tier is materialized (TimescaleDB continuous-aggregate style), computed
from the tier below — monthly reads the 10-day table, seasonal reads monthly
(``TSA.prm:327-334`` FBM -> FBQ) — and commits per-(source, salt) lineage
rows so a rebuild resumes from the last committed checkpoint.

This module alone knows the tier row format (one nested row per series):
``ARROW_TIER_SCHEMA`` is its one column list (``TIER_SCHEMA`` derives from
it); ``_map_tier`` the one stage runner, which ``stage_raw/10d/fold/retention``
feed one flat-buffer kernel each; ``read_tier`` the one reader (explicit
schema, so a zero-row tier reads as empty); ``commit_tier`` the one commit
path (write by ``(source, salt)``, then lineage from the materialized tier),
shared by ``build_cascade`` and ``Engine.apply_retention``.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from sits_classification_spark import lineage as L
from sits_classification_spark.compression.gorilla import (
    encode_dod_flat,
    encode_xor_flat,
)
from sits_classification_spark.config import DEFAULT_CONFIG, EngineConfig
from sits_classification_spark.plans import flatkernels as FK
from sits_classification_spark.sources.snapshots import snapshot_id

TIERS = ("tier_raw", "tier_10d", "tier_monthly", "tier_seasonal")

# ---------------------------------------------------------------------------
# the tier row format: one nested row per series, declared once
# ---------------------------------------------------------------------------

ARROW_TIER_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("source", pa.string()),
        ("salt", pa.int32()),
        ("buckets", pa.list_(pa.int32())),
        ("values", pa.list_(pa.float64())),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("enc_buckets", pa.binary()),
        ("enc_values", pa.binary()),
    ]
)
TIER_SCHEMA = from_arrow_schema(ARROW_TIER_SCHEMA)

KEY_COLS = ("doc_id", "source", "salt")  # carried through every stage as is
PARTITION_COLS = ("source", "salt")  # the on-disk layout and lineage grain
LINEAGE_HASH_COLS = ("doc_id", "n_tok", "tokens")  # xxhash64 hashes arrays natively

# a written tier reads back with its partition columns last
_STORED_SCHEMA = StructType(
    [f for f in TIER_SCHEMA if f.name not in PARTITION_COLS]
    + [TIER_SCHEMA[c] for c in PARTITION_COLS]
)


# ---------------------------------------------------------------------------
# mapInArrow stages: flat-buffer kernels straight on the Arrow list buffers
# ---------------------------------------------------------------------------

def _one_table(batches) -> pa.Table | None:
    """Concatenate a task's Arrow batches into one contiguous table: one
    kernel + one codec pass per TASK, not per batch. Partition size is
    bounded by spark.sql.files.maxPartitionBytes, so memory stays capped."""
    bl = list(batches)
    if not bl:
        return None
    return pa.Table.from_batches(bl).combine_chunks()


def _list_buffers(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(flat_values, zero-based offsets) of an Arrow list column."""
    offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = col.values.to_numpy(zero_copy_only=False)
    lo, hi = offsets[0], offsets[-1]
    return flat[lo:hi], offsets - lo


def _tier_batch(
    keys: list[pa.Array],
    offsets: np.ndarray,
    buckets: np.ndarray,
    values: np.ndarray,
    compress: bool,
) -> pa.RecordBatch:
    """Assemble one output RecordBatch from the KEY_COLS arrays and flat
    buffers (zero per-row work outside the optional codec byte assembly)."""
    off32 = pa.array(offsets.astype(np.int32), type=pa.int32())
    n = offsets.size - 1
    tokens = np.round(values).astype(np.int32)
    if compress:
        eb = pa.array(encode_dod_flat(buckets.astype(np.int64), offsets), type=pa.binary())
        ev = pa.array(encode_xor_flat(values, offsets), type=pa.binary())
    else:
        eb = pa.nulls(n, type=pa.binary())
        ev = pa.nulls(n, type=pa.binary())
    arrays = [
        *keys,
        pa.ListArray.from_arrays(off32, pa.array(buckets.astype(np.int32), type=pa.int32())),
        pa.ListArray.from_arrays(off32, pa.array(values, type=pa.float64())),
        pa.ListArray.from_arrays(off32, pa.array(tokens, type=pa.int32())),
        pa.array((offsets[1:] - offsets[:-1]).astype(np.int32), type=pa.int32()),
        eb,
        ev,
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=ARROW_TIER_SCHEMA)


def _map_tier(df: DataFrame, src_cols: tuple[str, ...], kernel, compress: bool) -> DataFrame:
    """The one stage runner. Per task: concatenate the Arrow batches, call
    ``kernel(offsets, *flat_buffers_of_src_cols) -> (keep, offsets,
    buckets, values)``, drop the KEY_COLS of docs whose ``keep`` is False
    (``keep`` None keeps every doc) and assemble the tier rows."""

    def run(batches):
        tbl = _one_table(batches)
        if tbl is not None:
            cols = {name: tbl.column(i).chunk(0) for i, name in enumerate(tbl.schema.names)}
            bufs = [_list_buffers(cols[c]) for c in src_cols]
            keep, offsets, buckets, values = kernel(bufs[0][1], *(flat for flat, _ in bufs))
            keys = [cols[c] for c in KEY_COLS]
            if keep is not None:
                mask = pa.array(keep)
                keys = [k.filter(mask) for k in keys]
            yield _tier_batch(keys, offsets, buckets, values, compress)

    return df.select(*KEY_COLS, *src_cols).mapInArrow(run, schema=TIER_SCHEMA)


def stage_raw(seq_df: DataFrame, cfg: EngineConfig, compress: bool = True) -> DataFrame:
    """sequences -> tier_raw nested rows (valid obs only, day-indexed).

    Pure flat-buffer math: decode + nodata screen + >=2-valid drop run on
    the concatenated token buffer of each task (FK.flat_decode)."""

    def kernel(offsets, tokens):
        keep, new_off, days, vals, _n = FK.flat_decode(
            tokens.astype(np.int64), offsets, cfg.nodata, cfg.cadence_days, cfg.epoch_day
        )
        return keep, new_off, days, vals

    return _map_tier(seq_df, ("tokens",), kernel, compress)


def stage_10d(raw_df: DataFrame, cfg: EngineConfig, compress: bool = True) -> DataFrame:
    """tier_raw -> tier_10d: fused gap-fill + equidistant resample (W1+W2),
    ONE np.interp call per task (FK.flat_interp lift trick)."""

    def kernel(offsets, days, vals):
        return (None, *FK.flat_interp(days.astype(np.int64), vals, offsets, cfg.int_day))

    return _map_tier(raw_df, ("buckets", "values"), kernel, compress)


def stage_fold(tier_df: DataFrame, which: str, cfg: EngineConfig, compress: bool = True) -> DataFrame:
    """tier_10d -> tier_monthly (bucket YYYYMM) or tier_monthly ->
    tier_seasonal (bucket YYYYQ); FOLD_TYPE=AVG (TSA.prm:314-323).
    Run-length reduceat over the whole task (FK.flat_fold)."""
    if which not in ("monthly", "seasonal"):
        raise ValueError(which)
    mapper = FK.day_to_month_bucket if which == "monthly" else FK.month_to_quarter_bucket

    def kernel(offsets, b, v):
        return (None, *FK.flat_fold(b.astype(np.int64), v, offsets, mapper))

    return _map_tier(tier_df, ("buckets", "values"), kernel, compress)


def stage_retention(
    tier_df: DataFrame, cutoff_bucket: int, compress: bool = True
) -> DataFrame:
    """Retention policy: drop tier points with bucket < cutoff (the
    TimescaleDB drop_chunks analog — raw/fine tiers age out once the coarser
    rollups are committed, which is what makes the cascade a *retention*
    hierarchy and not just a cache). Docs trimmed to nothing disappear from
    the tier. Map-only: no shuffle, same (source, salt) layout, codec
    re-applied to the trimmed arrays."""

    def kernel(offsets, b, v):
        return FK.flat_trim(b.astype(np.int64), v, offsets, cutoff_bucket)

    return _map_tier(tier_df, ("buckets", "values"), kernel, compress)


# ---------------------------------------------------------------------------
# the one tier reader and commit path
# ---------------------------------------------------------------------------

def read_tier(spark: SparkSession, path: str) -> DataFrame:
    """A materialized tier, read with its schema passed explicitly: a tier
    that holds zero rows (a partitioned write of nothing leaves only
    _SUCCESS) reads as an empty frame instead of failing schema inference."""
    return spark.read.schema(_STORED_SCHEMA).parquet(path)


def _write_tier(df: DataFrame, path: str, dynamic: bool = False) -> None:
    """Write a tier partitioned by (source, salt). `dynamic` replaces only the
    partitions `df` holds (resume) and leaves the others untouched."""
    conf = df.sparkSession.conf
    old_mode = conf.get("spark.sql.sources.partitionOverwriteMode")
    if dynamic:
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*PARTITION_COLS).parquet(path)
    finally:
        conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)


def _swap_in(staging: str, path: str) -> None:
    """Replace the tier dir `path` by the completely written `staging` dir
    with two renames."""
    old = f"{path}__retired"
    shutil.rmtree(old, ignore_errors=True)
    os.replace(path, old)
    os.replace(staging, path)
    shutil.rmtree(old, ignore_errors=True)


def commit_tier(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    tier: str,
    lineage_path: str,
    snapshot: str,
    config_hash: str,
    width: int | None,
    keys: DataFrame | None = None,
    staging: str | None = None,
) -> DataFrame:
    """The one tier commit: write `df` at `path`, then append one lineage row
    per (source, salt) partition it wrote, aggregated from the MATERIALIZED
    tier (aggregating `df` would run its stage a second time). Returns the
    materialized tier.

    `keys` are the partitions a resume found committed: when there are any,
    the write is a dynamic partition overwrite, idempotent over a crash that
    left tier files without their lineage rows, and those partitions get no
    new lineage rows. With `staging`, the tier is written there and swapped
    in for `path` before its lineage is appended (retention)."""
    if staging is not None:
        _write_tier(df, staging)
        _swap_in(staging, path)
    else:
        _write_tier(df, path, dynamic=keys is not None and keys.count() > 0)
    tier_df = read_tier(spark, path)
    L.append_lineage(
        L.lineage_rows(
            L.filter_uncommitted(tier_df, keys),
            tier,
            snapshot,
            list(LINEAGE_HASH_COLS),
            config_hash,
            width,
        ),
        lineage_path,
    )
    return tier_df


# ---------------------------------------------------------------------------
# orchestration: salt -> stage -> write -> lineage, with resume
# ---------------------------------------------------------------------------

@dataclass
class CascadeResult:
    tier_paths: dict
    lineage_path: str
    snapshot: str
    tokens_processed: int
    salt_width: int


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def salt_width(spark: SparkSession, cfg: EngineConfig) -> int:
    """Salt width of a fresh build in this session: cfg.salt_buckets capped
    at the task slots (defaultParallelism), where extra buckets stop adding
    spread and only add files."""
    return min(cfg.salt_buckets, spark.sparkContext.defaultParallelism)


def with_salt(df: DataFrame, cfg: EngineConfig, width: int | None = None) -> DataFrame:
    """Salted partition key: pmod(xxhash64(doc_id), S), S = `width` or
    cfg.salt_buckets. Combined with `source` it spreads the zipf-hot source
    over S buckets (north rule)."""
    s = cfg.salt_buckets if width is None else width
    return df.withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(s)).cast("int"))


def build_cascade(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    resume: bool = False,
    compress: bool = True,
    partitions: int | None = None,
) -> CascadeResult:
    """Run the full cascade from a sequences parquet dir, materializing every
    tier + lineage. With resume=True, (source, salt) partitions already in
    the lineage table for the same input snapshot and config are skipped,
    and the build keeps the salt width recorded there. Without such rows
    (another snapshot or config, or a lineage from before the salt_width
    column) resume falls back to a full rebuild at salt_width(spark, cfg)."""
    os.makedirs(out_dir, exist_ok=True)
    lineage_path = os.path.join(out_dir, "lineage")
    snap = snapshot_id(input_path)
    chash = cfg.config_hash()
    width = (
        L.recorded_width(spark, lineage_path, input_snapshot_id=snap, config_hash=chash)
        if resume
        else None
    )
    if width is None:
        # Fresh build: every tier is overwritten whole, so a partial
        # (dynamic partition) overwrite never runs over another layout and
        # leaves no stale salt >= width directories behind.
        resume = False
        width = salt_width(spark, cfg)
        if os.path.isdir(lineage_path):
            shutil.rmtree(lineage_path)  # fresh build invalidates old lineage
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism * 2, 8)

    # Read-parallelism guard: materialized tiers at bench scale are a few
    # hundred MB, so the default 128 MB split size packs them into ~10 input
    # splits — stage k+1 then runs 10 tasks no matter how many cores exist
    # (measured: tier_10d 14.6s@2c -> 10.8s@8c, a 1.35x "speedup"). Size the
    # split target so each tier read yields >= `partitions` splits; on a real
    # cluster tier files are TB-scale and this clamps back to 128 MB.
    # _dir_bytes only sees local paths — for hdfs://s3:// it returns 0, and
    # overriding from that would force 1 MB splits on a TB-scale read, so the
    # override is applied only when local sizing is available.
    in_bytes = _dir_bytes(input_path)
    conf = spark.conf
    old_split = conf.get("spark.sql.files.maxPartitionBytes")
    old_open = conf.get("spark.sql.files.openCostInBytes")
    if in_bytes > 0:
        split_target = max(1 << 20, min(128 << 20, in_bytes // partitions))
        conf.set("spark.sql.files.maxPartitionBytes", str(split_target))
        conf.set("spark.sql.files.openCostInBytes", str(min(1 << 20, split_target // 4)))

    try:
        # explicit salted repartition: balances skewed sources across tasks
        # and makes downstream file layout / lineage granularity deterministic
        upstream = with_salt(spark.read.parquet(input_path), cfg, width).repartition(
            partitions, *PARTITION_COLS
        )
        stages = {
            "tier_raw": lambda df: stage_raw(df, cfg, compress),
            "tier_10d": lambda df: stage_10d(df, cfg, compress),
            "tier_monthly": lambda df: stage_fold(df, "monthly", cfg, compress),
            "tier_seasonal": lambda df: stage_fold(df, "seasonal", cfg, compress),
        }
        tier_paths = {tier: os.path.join(out_dir, tier) for tier in stages}
        for tier, fn in stages.items():
            keys = (
                L.committed_keys(spark, lineage_path, tier, snap, chash, width)
                if resume
                else None
            )
            upstream = commit_tier(
                spark, fn(L.filter_uncommitted(upstream, keys)), tier_paths[tier],
                tier, lineage_path, snap, chash, width, keys,
            )

        n_tokens = spark.read.parquet(input_path).agg(F.sum("n_tok")).collect()[0][0]
        return CascadeResult(tier_paths, lineage_path, snap, int(n_tokens or 0), width)
    finally:
        # conf restore must survive job failure — a leaked 1 MB split size
        # would poison every later read in the session
        conf.set("spark.sql.files.maxPartitionBytes", old_split)
        conf.set("spark.sql.files.openCostInBytes", old_open)

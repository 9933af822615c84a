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
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sits_classification_spark.config import DEFAULT_CONFIG, EngineConfig
from sits_classification_spark import lineage as L
from sits_classification_spark.sources.snapshots import snapshot_id
import pyarrow as pa

from sits_classification_spark.compression.gorilla import (
    encode_dod_flat,
    encode_xor_flat,
)
from sits_classification_spark.plans import flatkernels as FK

TIER_SCHEMA = (
    "doc_id string, source string, salt int, buckets array<int>, "
    "values array<double>, tokens array<int>, n_tok int, "
    "enc_buckets binary, enc_values binary"
)

TIERS = ("tier_raw", "tier_10d", "tier_monthly", "tier_seasonal")


# ---------------------------------------------------------------------------
# mapInArrow stages: flat-buffer kernels straight on the Arrow list buffers
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
    doc_id: pa.Array,
    source: pa.Array,
    salt: pa.Array,
    offsets: np.ndarray,
    buckets: np.ndarray,
    values: np.ndarray,
    compress: bool,
) -> pa.RecordBatch:
    """Assemble one output RecordBatch from flat buffers (zero per-row work
    outside the optional codec byte assembly)."""
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
        doc_id,
        source,
        salt,
        pa.ListArray.from_arrays(off32, pa.array(buckets.astype(np.int32), type=pa.int32())),
        pa.ListArray.from_arrays(off32, pa.array(values, type=pa.float64())),
        pa.ListArray.from_arrays(off32, pa.array(tokens, type=pa.int32())),
        pa.array((offsets[1:] - offsets[:-1]).astype(np.int32), type=pa.int32()),
        eb,
        ev,
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=ARROW_TIER_SCHEMA)


def stage_raw(seq_df: DataFrame, cfg: EngineConfig, compress: bool = True) -> DataFrame:
    """sequences -> tier_raw nested rows (valid obs only, day-indexed).

    Pure flat-buffer math: decode + nodata screen + >=2-valid drop run on
    the concatenated token buffer of each Arrow batch (FK.flat_decode)."""

    def run(batches):
        tbl = _one_table(batches)
        if tbl is not None:
            cols = {name: tbl.column(i).chunk(0) for i, name in enumerate(tbl.schema.names)}
            flat, offsets = _list_buffers(cols["tokens"])
            keep, new_off, days, vals, _n = FK.flat_decode(
                flat.astype(np.int64), offsets, cfg.nodata, cfg.cadence_days, cfg.epoch_day
            )
            mask = pa.array(keep)
            yield _tier_batch(
                cols["doc_id"].filter(mask),
                cols["source"].filter(mask),
                cols["salt"].filter(mask),
                new_off,
                days,
                vals,
                compress,
            )

    seq_df = seq_df.select("doc_id", "source", "salt", "tokens")
    return seq_df.mapInArrow(run, schema=TIER_SCHEMA)


def stage_10d(raw_df: DataFrame, cfg: EngineConfig, compress: bool = True) -> DataFrame:
    """tier_raw -> tier_10d: fused gap-fill + equidistant resample (W1+W2),
    ONE np.interp call per Arrow batch (FK.flat_interp lift trick)."""

    def run(batches):
        tbl = _one_table(batches)
        if tbl is not None:
            cols = {name: tbl.column(i).chunk(0) for i, name in enumerate(tbl.schema.names)}
            days, offsets = _list_buffers(cols["buckets"])
            vals, _ = _list_buffers(cols["values"])
            goff, gdays, gvals = FK.flat_interp(
                days.astype(np.int64), vals, offsets, cfg.int_day
            )
            yield _tier_batch(
                cols["doc_id"], cols["source"], cols["salt"], goff, gdays, gvals, compress
            )

    raw_df = raw_df.select("doc_id", "source", "salt", "buckets", "values")
    return raw_df.mapInArrow(run, schema=TIER_SCHEMA)


def stage_fold(tier_df: DataFrame, which: str, cfg: EngineConfig, compress: bool = True) -> DataFrame:
    """tier_10d -> tier_monthly (bucket YYYYMM) or tier_monthly ->
    tier_seasonal (bucket YYYYQ); FOLD_TYPE=AVG (TSA.prm:314-323).
    Run-length reduceat over the whole batch (FK.flat_fold)."""
    if which not in ("monthly", "seasonal"):
        raise ValueError(which)
    mapper = FK.day_to_month_bucket if which == "monthly" else FK.month_to_quarter_bucket

    def run(batches):
        tbl = _one_table(batches)
        if tbl is not None:
            cols = {name: tbl.column(i).chunk(0) for i, name in enumerate(tbl.schema.names)}
            b, offsets = _list_buffers(cols["buckets"])
            v, _ = _list_buffers(cols["values"])
            noff, nb, nv = FK.flat_fold(b.astype(np.int64), v, offsets, mapper)
            yield _tier_batch(
                cols["doc_id"], cols["source"], cols["salt"], noff, nb, nv, compress
            )

    tier_df = tier_df.select("doc_id", "source", "salt", "buckets", "values")
    return tier_df.mapInArrow(run, schema=TIER_SCHEMA)


def stage_retention(
    tier_df: DataFrame, cutoff_bucket: int, compress: bool = True
) -> DataFrame:
    """Retention policy: drop tier points with bucket < cutoff (the
    TimescaleDB drop_chunks analog — raw/fine tiers age out once the coarser
    rollups are committed, which is what makes the cascade a *retention*
    hierarchy and not just a cache). Docs trimmed to nothing disappear from
    the tier. Map-only: no shuffle, same (source, salt) layout, codec
    re-applied to the trimmed arrays."""

    def run(batches):
        tbl = _one_table(batches)
        if tbl is not None:
            cols = {name: tbl.column(i).chunk(0) for i, name in enumerate(tbl.schema.names)}
            b, offsets = _list_buffers(cols["buckets"])
            v, _ = _list_buffers(cols["values"])
            keep, noff, nb, nv = FK.flat_trim(
                b.astype(np.int64), v, offsets, cutoff_bucket
            )
            mask = pa.array(keep)
            yield _tier_batch(
                cols["doc_id"].filter(mask),
                cols["source"].filter(mask),
                cols["salt"].filter(mask),
                noff,
                nb,
                nv,
                compress,
            )

    tier_df = tier_df.select("doc_id", "source", "salt", "buckets", "values")
    return tier_df.mapInArrow(run, schema=TIER_SCHEMA)


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
        return _build_cascade_body(
            spark, input_path, out_dir, cfg, resume, compress, partitions,
            lineage_path, snap, chash, width,
        )
    finally:
        # conf restore must survive job failure — a leaked 1 MB split size
        # would poison every later read in the session
        conf.set("spark.sql.files.maxPartitionBytes", old_split)
        conf.set("spark.sql.files.openCostInBytes", old_open)


def _build_cascade_body(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    cfg: EngineConfig,
    resume: bool,
    compress: bool,
    partitions: int,
    lineage_path: str,
    snap: str,
    chash: str,
    width: int,
) -> CascadeResult:
    conf = spark.conf
    seq = spark.read.parquet(input_path)
    seq = with_salt(seq, cfg, width)
    # explicit salted repartition: balances skewed sources across tasks and
    # makes downstream file layout / lineage granularity deterministic
    seq = seq.repartition(partitions, "source", "salt")

    tier_paths = {}
    upstream = seq
    stages = [
        ("tier_raw", lambda df: stage_raw(df, cfg, compress)),
        ("tier_10d", lambda df: stage_10d(df, cfg, compress)),
        ("tier_monthly", lambda df: stage_fold(df, "monthly", cfg, compress)),
        ("tier_seasonal", lambda df: stage_fold(df, "seasonal", cfg, compress)),
    ]
    for tier, fn in stages:
        path = os.path.join(out_dir, tier)
        keys = (
            L.committed_keys(spark, lineage_path, tier, snap, chash, width)
            if resume
            else None
        )
        todo = L.filter_uncommitted(upstream, keys)
        out = fn(todo)
        if keys is not None and keys.count() > 0:
            # Resume rewrite must be idempotent: tier data lands BEFORE its
            # lineage row, so a crash in that window leaves committed files
            # for partitions lineage never recorded — a plain append would
            # duplicate them. Tier tables are partitioned by (source, salt),
            # so dynamic partition overwrite replaces exactly the recomputed
            # partitions and leaves committed ones untouched.
            old_mode = conf.get("spark.sql.sources.partitionOverwriteMode")
            conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                out.write.mode("overwrite").partitionBy("source", "salt").parquet(path)
            finally:
                conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
        else:
            out.write.mode("overwrite").partitionBy("source", "salt").parquet(path)
        # lineage from the MATERIALIZED tier (never from `out`, which would
        # recompute the whole mapInPandas stage a second time)
        tier_df = spark.read.parquet(path)
        new_part = (
            tier_df
            if keys is None
            else tier_df.join(F.broadcast(keys), ["source", "salt"], "left_anti")
        )
        new_rows = L.lineage_rows(
            new_part,
            tier,
            snap,
            ["doc_id", "n_tok", "tokens"],  # xxhash64 hashes arrays natively
            chash,
            width,
        )
        L.append_lineage(new_rows, lineage_path)
        tier_paths[tier] = path
        upstream = tier_df

    n_tokens = spark.read.parquet(input_path).agg(F.sum("n_tok")).collect()[0][0]
    return CascadeResult(tier_paths, lineage_path, snap, int(n_tokens or 0), width)

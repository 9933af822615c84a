"""The tier cascade: raw -> 10-day -> monthly -> seasonal continuous aggregates.

The engine's flagship plan. Key scale insight (vs a naive port): after
decode, every kernel is **row-local on the nested token-array representation**
— gap-fill, grid resample, and calendar folds for one doc depend only on that
doc's own row. So the whole cascade runs as ``mapInArrow`` over Arrow
batches with **zero shuffles** (the reference's per-pixel multiprocessing
pool, ``force/skel/UDF.prm:183-188``, becomes embarrassingly-parallel Arrow
batch processing). The only repartition is the explicit one on ``doc_id``
into S tasks: the salt is ``pmod(hash(doc_id), S)``, the very partition id
Spark's hash partitioning gives that repartition, so task k holds exactly
salt bucket k. Whole series land in balanced blocks whatever the zipf skew
of ``source``, and the salt bucket is lineage's unit of resume.

The salt width is derived once per build as
``S = min(cfg.salt_buckets, defaultParallelism)``: the salt exists to spread
the series over the tasks that can run at once, and buckets beyond the
task-slot count only add files (each tier is written as one file per salt
bucket). ``cfg.salt_buckets`` is an upper bound. Every tier of a build
shares its S, and lineage records it next to the config hash, so a resume
reuses the width of the build it continues and never mixes layouts.

Each tier is materialized (TimescaleDB continuous-aggregate style) and
computed from the tier below it (``TSA.prm:327-334`` FBM -> FBQ), all in
ONE pass: ``stage_cascade`` is one ``mapInArrow`` that runs decode ->
interp -> monthly fold -> seasonal fold on the flat buffers of each Arrow
batch and yields the four tiers' rows, each tagged with its ``tier``. No
tier is written and read back to feed the next.

``commit_tiers`` is the one commit path, shared by ``build_cascade`` and
``Engine.apply_retention``, and its unit is the salt bucket: one write
partitioned by (tier, salt) into a staging root under the warehouse, the
buckets it replaces then moved into ``<warehouse>/<tier>/salt=<k>/`` (one
file per salt bucket from a build, ``source`` a data column), then one
lineage row per (tier, salt bucket) replaced, so a rebuild resumes from
the last committed checkpoint. The stages gather those rows' counts and
checksums themselves, over the batches they emit, into an accumulator
(``lineage.LineageStats``); they run in the write job's result stage, so
each task is counted once, and the commit writes the lineage with pyarrow.
No tier is read back and no Spark job runs for lineage.

This module alone knows the tier row format (one nested row per series):
``ARROW_TIER_SCHEMA`` is its one column list (``TIER_SCHEMA`` derives from
it); ``config.TIER_FORMAT`` versions it and the directory layout. The
lineage key covers that version, so a resume over a warehouse of another
format matches no lineage row and is a full rebuild: one layout to read,
one resume rule. A row stores each point once as ``buckets``/``values``,
plus the half-to-even ``tokens`` the benchmark's checks read; Parquet's
own encodings compress these arrays better than stored Gorilla streams
did, so the DoD/Gorilla codec is an on-demand form and the build never
runs it. ``_tier_batch`` assembles rows from flat buffers for both stages
(``stage_cascade``, ``stage_retention``); ``read_tier`` is the one reader
(explicit schema, so a zero-row tier reads as empty, and ``n_tok`` derived
as ``size(buckets)``); ``verify_rows`` is the one codec round-trip check,
encoding the stored arrays on demand and decoding them back.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from sits_classification_spark import lineage as L
from sits_classification_spark.compression.gorilla import decode_series, encode_series
from sits_classification_spark.config import DEFAULT_CONFIG, EngineConfig
from sits_classification_spark.plans import flatkernels as FK
from sits_classification_spark.sources.snapshots import snapshot_id

TIERS = ("tier_raw", "tier_10d", "tier_monthly", "tier_seasonal")
STAGING = "_staging"  # under the warehouse: the one write's target before the renames

# ---------------------------------------------------------------------------
# the tier row format: one nested row per series, declared once
# ---------------------------------------------------------------------------

# bump config.TIER_FORMAT whenever these stored columns or the
# <tier>/salt=<k>/ layout change: a warehouse of the old format then gets a
# full rebuild
ARROW_TIER_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("source", pa.string()),
        ("salt", pa.int32()),
        ("buckets", pa.list_(pa.int32())),
        ("values", pa.list_(pa.float64())),
        ("tokens", pa.list_(pa.int32())),
    ]
)
TIER_SCHEMA = from_arrow_schema(ARROW_TIER_SCHEMA)
# the fused pass's rows also name their tier
ARROW_CASCADE_SCHEMA = ARROW_TIER_SCHEMA.append(pa.field("tier", pa.string()))
CASCADE_SCHEMA = from_arrow_schema(ARROW_CASCADE_SCHEMA)

KEY_COLS = ("doc_id", "source", "salt")  # carried through every stage as is

# read_tier's columns, in the order of the frame every op and the
# benchmark's checksums see: the stored arrays, the derived n_tok, then
# source and salt
_READ_COLS = ("doc_id", "buckets", "values", "tokens", "n_tok", "source", "salt")


# ---------------------------------------------------------------------------
# mapInArrow stages: flat-buffer kernels straight on the Arrow list buffers
# ---------------------------------------------------------------------------

def _tier_batch(
    keys: list[pa.Array],
    offsets: np.ndarray,
    buckets: np.ndarray,
    values: np.ndarray,
    tier: str,
) -> pa.RecordBatch:
    """Assemble one output RecordBatch of ARROW_CASCADE_SCHEMA from the
    KEY_COLS arrays and flat buffers (no per-row work), every row tagged
    with `tier`. Tokens are the values rounded half-to-even (np.round),
    the one rounding rule of the tier token form."""
    off32 = pa.array(offsets.astype(np.int32), type=pa.int32())
    tokens = np.round(values).astype(np.int32)
    arrays = [
        *keys,
        pa.ListArray.from_arrays(off32, pa.array(buckets.astype(np.int32), type=pa.int32())),
        pa.ListArray.from_arrays(off32, pa.array(values, type=pa.float64())),
        pa.ListArray.from_arrays(off32, pa.array(tokens, type=pa.int32())),
        pa.repeat(pa.scalar(tier, pa.string()), offsets.size - 1),
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=ARROW_CASCADE_SCHEMA)


def _emitted(part: dict, stats, keys, offsets, buckets, values, tier: str) -> pa.RecordBatch:
    """The `tier`-tagged batch of a stage task; with `stats` (the lineage
    accumulator), its per-salt row counts and checksums are folded into
    `part`, the task's own stats, which the task adds to `stats` once,
    after its last batch.

    Each task is counted once: the stage runs in the result stage of the
    job that writes its rows (the write of ``commit_tiers``), and Spark
    merges a result task's accumulator updates once per partition, and
    drops those of failed attempts."""
    out = _tier_batch(keys, offsets, buckets, values, tier)
    if stats is not None:
        L.add_batch_stats(part, tier, out)
    return out


def stage_cascade(
    seq_df: DataFrame, cfg: EngineConfig, tokens=None, stats=None
) -> DataFrame:
    """sequences -> the rows of all four tiers in one mapInArrow pass, each
    tagged with its `tier` (CASCADE_SCHEMA). Per Arrow batch (at most
    spark.sql.execution.arrow.maxRecordsPerBatch rows, so worker memory and
    the int32 list offsets stay bounded however large a task is), on its
    flat buffers, each tier from the one before:

    - tier_raw: decode + nodata screen + >=2-valid drop (FK.flat_decode);
    - tier_10d: fused gap-fill + equidistant resample (W1+W2), ONE
      np.interp call per batch (FK.flat_interp lift trick);
    - tier_monthly (bucket YYYYMM), then tier_seasonal (bucket YYYYQ):
      FOLD_TYPE=AVG (TSA.prm:314-323), run-length reduceat (FK.flat_fold).

    `tokens`, an accumulator when given, adds the number of input tokens
    each batch decodes. `stats`, a ``lineage.LineageStats`` accumulator
    when given, gets each (tier, salt)'s row count and checksum over the
    rows this pass emits (``_emitted``)."""

    def run(batches):
        part: dict = {}
        for batch in batches:
            flat, offsets, valid = FK.list_buffers(batch.column("tokens"))
            if tokens is not None:
                tokens.add(int(flat.size))
            flat = flat if valid is None else np.where(valid, flat, cfg.nodata)  # null is nodata
            keep, offsets, buckets, values, _n = FK.flat_decode(
                flat.astype(np.int64), offsets, cfg.nodata, cfg.cadence_days, cfg.epoch_day
            )
            mask = pa.array(keep)
            keys = [batch.column(c).filter(mask) for c in KEY_COLS]
            yield _emitted(part, stats, keys, offsets, buckets, values, "tier_raw")
            offsets, buckets, values = FK.flat_interp(buckets, values, offsets, cfg.int_day)
            yield _emitted(part, stats, keys, offsets, buckets, values, "tier_10d")
            for tier, mapper in (
                ("tier_monthly", FK.day_to_month_bucket),
                ("tier_seasonal", FK.month_to_quarter_bucket),
            ):
                offsets, buckets, values = FK.flat_fold(buckets, values, offsets, mapper)
                yield _emitted(part, stats, keys, offsets, buckets, values, tier)
        if stats is not None:
            stats.add(part)

    return seq_df.select(*KEY_COLS, "tokens").mapInArrow(run, schema=CASCADE_SCHEMA)


def stage_retention(
    tier_df: DataFrame, cutoff_bucket: int, tier: str, stats=None
) -> DataFrame:
    """Retention policy: drop tier points with bucket < cutoff (the
    TimescaleDB drop_chunks analog — raw/fine tiers age out once the coarser
    rollups are committed, which is what makes the cascade a *retention*
    hierarchy and not just a cache). Docs trimmed to nothing disappear from
    the tier. Map-only, one Arrow batch at a time: no shuffle, same salt
    layout, tokens re-derived from the trimmed values (FK.flat_trim); a
    null stored point raises (FK.null_free). The rows are tagged with
    `tier` (CASCADE_SCHEMA); `stats` as in stage_cascade."""

    def run(batches):
        part: dict = {}
        for batch in batches:
            (b, offsets), (v, _) = FK.null_free(batch, ("buckets", "values"), f"{tier} retention")
            keep, offsets, b, v = FK.flat_trim(b.astype(np.int64), v, offsets, cutoff_bucket)
            mask = pa.array(keep)
            keys = [batch.column(c).filter(mask) for c in KEY_COLS]
            yield _emitted(part, stats, keys, offsets, b, v, tier)
        if stats is not None:
            stats.add(part)

    return tier_df.select(*KEY_COLS, "buckets", "values").mapInArrow(run, schema=CASCADE_SCHEMA)


def verify_rows(tier_df: DataFrame) -> DataFrame:
    """(doc_id, ok) per tier row: ok when the row's `buckets`/`values`,
    encoded on demand with the DoD/Gorilla codec, decode back to exactly
    themselves (values compared bit for bit). One mapInArrow that encodes
    and decodes each row in turn. A tier on disk is outside input, so a
    row whose arrays are null, hold a null (``FK.list_buffers``) or differ
    in length is not ok, and is not encoded. A correct tier is all-true."""

    def check(batches):
        for batch in batches:
            cols = [batch.column(c) for c in ("buckets", "values")]
            (b, boff, bvalid), (v, voff, vvalid) = map(FK.list_buffers, cols)
            ok = np.diff(boff) == np.diff(voff)
            for col, off, valid in zip(cols, (boff, voff), (bvalid, vvalid)):
                if valid is not None:  # a row that is null or holds a null is not ok
                    n_valid = np.diff(FK.compact(valid, off, 0)[1])  # valid elements per row
                    ok &= col.is_valid().to_numpy(zero_copy_only=False) & (n_valid == np.diff(off))
            b = b.astype(np.int64)
            for i in np.flatnonzero(ok).tolist():
                bi, vi = b[boff[i] : boff[i + 1]], v[voff[i] : voff[i + 1]]
                db, dv = decode_series(*encode_series(bi, vi))
                ok[i] = np.array_equal(db, bi) and np.array_equal(
                    dv.view(np.uint64), vi.view(np.uint64)
                )
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pa.array(ok)], names=["doc_id", "ok"]
            )

    return tier_df.select("doc_id", "buckets", "values").mapInArrow(
        check, schema="doc_id string, ok boolean"
    )


# ---------------------------------------------------------------------------
# the one tier reader and commit path
# ---------------------------------------------------------------------------

def read_tier(spark: SparkSession, path: str) -> DataFrame:
    """A materialized tier, read with its schema passed explicitly: a tier
    that holds zero rows (an empty directory) reads as an empty frame
    instead of failing schema inference. `n_tok` is derived on read as
    size(buckets). It reads the salt=<k> layout of TIER_FORMAT, with
    `source` a data column."""
    df = spark.read.schema(TIER_SCHEMA).parquet(path)
    return df.withColumn("n_tok", F.size("buckets")).select(*_READ_COLS)


def stored_salts(tier_dir: str) -> list[int]:
    """The salt buckets a tier dir holds a salt=<k> directory for."""
    return sorted(int(d[5:]) for d in os.listdir(tier_dir) if d.startswith("salt="))


def _move_into_place(staging: str, tier: str, path: str, salts: Sequence[int] | None) -> None:
    """Move the staged `tier=<tier>` subtree to the tier dir `path`. With
    `salts` None the tier dir is replaced whole by two renames (the old one
    is retired into the staging root); otherwise each salt bucket in
    `salts` is replaced: its salt= directory goes, the staged one (if the
    stage emitted rows for it) takes its place, and the other buckets
    stay."""
    src = os.path.join(staging, f"tier={tier}")
    if salts is None:
        if os.path.isdir(path):
            os.replace(path, os.path.join(staging, f"{tier}__retired"))
        if os.path.isdir(src):
            os.replace(src, path)
    else:
        os.makedirs(path, exist_ok=True)
        for part in (f"salt={s}" for s in salts):
            shutil.rmtree(os.path.join(path, part), ignore_errors=True)
            if os.path.isdir(os.path.join(src, part)):
                os.replace(os.path.join(src, part), os.path.join(path, part))
    os.makedirs(path, exist_ok=True)  # a tier with zero rows is an empty dir


def recover_swap(out_dir: str, tier: str) -> None:
    """Complete a whole-tier swap interrupted between its two renames: if
    the tier dir is missing and the staging write was committed (its
    _SUCCESS exists; the swap only starts after it), install the staged
    tier."""
    staging = os.path.join(out_dir, STAGING)
    path = os.path.join(out_dir, tier)
    src = os.path.join(staging, f"tier={tier}")
    if (
        not os.path.isdir(path)
        and os.path.isdir(src)
        and os.path.isfile(os.path.join(staging, "_SUCCESS"))
    ):
        os.replace(src, path)


def commit_tiers(
    staged: DataFrame,
    out_dir: str,
    tiers: tuple[str, ...],
    snapshot: str,
    config_hash: str,
    width: int | None,
    stats,
    salts: Sequence[int],
) -> dict:
    """The one commit, whose unit is the salt bucket: write the
    `tier`-tagged rows of `staged` (those of the buckets `salts`) once,
    partitioned by (tier, salt), into the staging root; move those buckets
    of each of `tiers` into `out_dir/<tier>`, replacing the whole tier when
    `salts` are every bucket of `width` or `width` is unknown (None); then
    append one lineage row per (tier, salt) of `tiers` x `salts` from
    `stats`, the ``lineage.LineageStats`` accumulator the stage filled
    during the write, a bucket it emitted no row for as (0 rows, checksum
    0). No tier is read back and lineage runs no Spark job. Returns the
    (rows_out, checksum) of each (tier, salt) replaced."""
    staging = os.path.join(out_dir, STAGING)
    staged.write.mode("overwrite").partitionBy("tier", "salt").parquet(staging)
    whole = width is None or set(range(width)) <= set(salts)
    for tier in tiers:
        _move_into_place(staging, tier, os.path.join(out_dir, tier), None if whole else salts)
    shutil.rmtree(staging)
    emitted = stats.value
    replaced = {(t, s): emitted.get((t, s), (0, 0)) for t in tiers for s in salts}
    L.write_lineage(os.path.join(out_dir, "lineage"), replaced, snapshot, config_hash, width)
    return replaced


# ---------------------------------------------------------------------------
# orchestration: salt -> one pass -> one write -> lineage, with resume
# ---------------------------------------------------------------------------

@dataclass
class CascadeResult:
    tier_paths: dict
    lineage_path: str
    snapshot: str
    tokens_processed: int
    salt_width: int
    tier_rows: dict  # rows this build wrote per tier, from the lineage stats


def salt_width(spark: SparkSession, cfg: EngineConfig) -> int:
    """Salt width of a fresh build in this session: cfg.salt_buckets capped
    at the task slots (defaultParallelism), where extra buckets stop adding
    spread and only add files."""
    return min(cfg.salt_buckets, spark.sparkContext.defaultParallelism)


def with_salt(df: DataFrame, width: int) -> DataFrame:
    """Salt bucket of each series: pmod(hash(doc_id), S), S = `width` (a
    build's is ``salt_width``). It is the partition id Spark's hash
    partitioning gives repartition(S, "doc_id"), so after that repartition
    task k holds exactly salt k, and the hot source is spread over all S
    tasks."""
    return df.withColumn("salt", F.pmod(F.hash("doc_id"), F.lit(width)).cast("int"))


def build_cascade(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    resume: bool = False,
) -> CascadeResult:
    """Run the full cascade from a sequences parquet dir, materializing every
    tier + lineage. The unit of work is the salt bucket. A fresh build
    computes every bucket of salt_width(spark, cfg), replaces every tier
    dir whole and starts a new lineage. With resume=True, the build keeps
    the width recorded for the same input snapshot and config and
    recomputes only the buckets some tier has no lineage row for,
    replacing each in every tier; with no such row (another snapshot,
    config or TIER_FORMAT: the config hash covers the format) it is a
    fresh build, and with no bucket missing it returns without a Spark
    job. `tokens_processed` counts the input tokens the pass decoded,
    `tier_rows` the rows it wrote to each tier."""
    os.makedirs(out_dir, exist_ok=True)
    for tier in TIERS:
        recover_swap(out_dir, tier)
    lineage_path = os.path.join(out_dir, "lineage")
    snap = snapshot_id(input_path)
    chash = cfg.config_hash()
    width = (
        L.recorded_width(lineage_path, input_snapshot_id=snap, config_hash=chash)
        if resume else None
    )
    done = set()
    if width is None:
        # Fresh build: every tier is replaced whole, so a partial commit
        # never runs over another layout and leaves no stale salt >= width
        # directories behind.
        width = salt_width(spark, cfg)
        if os.path.isdir(lineage_path):
            shutil.rmtree(lineage_path)  # fresh build invalidates old lineage
    else:
        done = L.committed(lineage_path, None, snap, chash, width)

    # the salt buckets some tier lacks
    salts = [s for s in range(width) if not all((t, s) in done for t in TIERS)]
    tier_paths = {tier: os.path.join(out_dir, tier) for tier in TIERS}
    tier_rows = dict.fromkeys(TIERS, 0)
    if not salts:  # nothing left to build: no Spark job
        return CascadeResult(tier_paths, lineage_path, snap, 0, width, tier_rows)
    seq = with_salt(spark.read.parquet(input_path), width)
    if len(salts) < width:
        seq = seq.where(F.col("salt").isin(salts))
    # one task per salt bucket: hash partitioning on doc_id puts salt k in
    # task k, so each task writes one file per tier
    sc = spark.sparkContext
    tokens, stats = sc.accumulator(0), sc.accumulator({}, L.LineageStats())
    staged = stage_cascade(seq.repartition(width, "doc_id"), cfg, tokens, stats)
    replaced = commit_tiers(staged, out_dir, TIERS, snap, chash, width, stats, salts)
    for (tier, _salt), (rows, _checksum) in replaced.items():
        tier_rows[tier] += rows
    return CascadeResult(tier_paths, lineage_path, snap, tokens.value, width, tier_rows)

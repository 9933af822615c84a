"""The benchmark's workloads: closed-loop, single-client sequences of public
engine calls (``build_cascade``, ``Engine``) on inputs generated from the
seed, each call checked for correctness outside its timed region.

- ``cascade_bulk``: the write side. Each pass is a fresh ``build_cascade``
  of the input, then ``Engine.apply_retention`` on ``tier_10d``.
- ``tier_query``: the read side. Set-up builds a smaller warehouse; each
  pass runs two folds, STM, a harmonic fit, ``verify_tier`` and a
  single-doc lookup over it. No cascade write is timed.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from sits_classification_spark.config import DEFAULT_CONFIG
from sits_classification_spark.datagen import SEQUENCES_SCHEMA, generate_pandas
from sits_classification_spark.lineage import committed_keys
from sits_classification_spark.oracle import oracle_tiers
from sits_classification_spark.plans.cascade import TIERS, build_cascade
from sits_classification_spark.plans.engine import Engine
from sits_classification_spark.sources.snapshots import snapshot_id

import tracing

CFG = DEFAULT_CONFIG
BULK_DOCS = 10_000
QUERY_DOCS = 1_000
QUERY_PASSES = 2  # a cold and a warm pass, whatever the host's speed
ORACLE_SAMPLE = 16
RETENTION_CUTOFF = 120  # tier_10d bucket (epoch day); trims most docs


@dataclass
class Run:
    """State and measurements of one benchmark run."""

    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    spans: tracing.Spans
    t_start: float
    setup_s: float = 0.0
    calls: list = field(default_factory=list)  # [kind, seconds, ok]
    amp: float = 0.0  # tier bytes per input byte
    detail: dict = field(default_factory=dict)  # name -> (value, unit)
    layers: dict = field(default_factory=dict)
    checksums: dict = field(default_factory=dict)  # query kind -> result checksum
    build_span: int | None = None

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start

    def call(self, kind: str, fn):
        """Run one public call in a span; a raised error counts as a failed
        call."""
        with self.spans.span(kind):
            t0 = time.perf_counter()
            try:
                out, ok = fn(), True
            except Exception:
                traceback.print_exc()
                out, ok = None, False
            dt = time.perf_counter() - t0
        self.calls.append([kind, dt, ok])
        return out

    def fail(self, kind: str, why: str) -> None:
        print(f"check failed after {kind}: {why}", file=sys.stderr)
        for c in reversed(self.calls):
            if c[0] == kind:
                c[2] = False
                return

    def medians(self) -> dict:
        """Median latency of each call kind."""
        kinds = dict.fromkeys(c[0] for c in self.calls)
        return {k: float(np.median([c[1] for c in self.calls if c[0] == k])) for k in kinds}


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def seed_offset(seed: int) -> int:
    """First doc index of a seed's input: seeds own disjoint doc ranges."""
    return (seed % 100_000) * 1_000_000


def write_input(spark, path: str, start: int, n_docs: int) -> None:
    """Sequences table for doc indices [start, start + n_docs)."""
    pdf = generate_pandas(n_docs, start=start)
    spark.createDataFrame(pdf, schema=SEQUENCES_SCHEMA).write.mode("overwrite").parquet(path)


def amplification(tier_paths: dict, input_path: str) -> float:
    """Parquet bytes of all tiers per parquet byte of input."""
    tiers = sum(tracing.parquet_stats(p)[1] for p in tier_paths.values())
    return tiers / tracing.parquet_stats(input_path)[1]


def sample_indices(start: int, n_docs: int) -> list[int]:
    return [start + (k * n_docs) // ORACLE_SAMPLE + 7 for k in range(ORACLE_SAMPLE)]


def oracle_for(indices: list[int]) -> dict:
    seq = pd.concat([generate_pandas(1, start=i) for i in indices], ignore_index=True)
    return oracle_tiers(seq, CFG)


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------

def series_match(got: dict, want) -> bool:
    """Buckets equal; values equal up to float64 summation order; tokens
    equal, except one apart where the oracle value is an exact .5 tie (the
    engine's AVG folds sum in another order than pandas' mean, so a tie can
    land a last-digit either side of .5 and round the other way)."""
    gb, gv, gt = (np.asarray(got[k]) for k in ("buckets", "values", "tokens"))
    wb, wv, wt = (np.asarray(want[k]) for k in ("buckets", "values", "tokens"))
    if not np.array_equal(gb, wb) or gv.shape != wv.shape:
        return False
    if not np.allclose(gv, wv, rtol=1e-12, atol=1e-9):
        return False
    tie = np.abs(np.abs(wv - np.trunc(wv)) - 0.5) < 1e-9
    diff = np.abs(gt.astype(np.int64) - wt.astype(np.int64))
    return bool(np.all((diff == 0) | (tie & (diff == 1))))


def tier_table(path: str, columns: list[str], ids: list[str] | None = None) -> pa.Table:
    """Columns of a (source, salt)-partitioned tier directory, read with
    pyarrow: the checks use a reader independent of Spark and add no Spark
    job to the run."""
    dset = ds.dataset(path, format="parquet", partitioning="hive")
    filt = None if ids is None else ds.field("doc_id").isin(ids)
    return dset.to_table(columns=columns, filter=filt)


def oracle_mismatches(tier_paths: dict, oracle: dict) -> list[str]:
    """Tier rows of the sampled docs vs the pandas oracle, token for token."""
    ids = sorted(set().union(*(set(o["doc_id"]) for o in oracle.values())))
    bad = []
    for t in TIERS:
        got = (
            tier_table(tier_paths[t], ["doc_id", "buckets", "values", "tokens"], ids)
            .to_pandas()
            .set_index("doc_id")
        )
        want = oracle[t].set_index("doc_id")
        if sorted(got.index) != sorted(want.index):
            bad.append(f"{t}: docs {sorted(got.index)} != {sorted(want.index)}")
            continue
        for d in want.index:
            if not series_match(got.loc[d], want.loc[d]):
                bad.append(f"{t}: {d} differs")
    return bad


def retention_problems(eng: Engine) -> list[str]:
    bad = []
    buckets = tier_table(f"{eng.warehouse}/tier_10d", ["buckets"]).column("buckets")
    lo = pc.min(pc.list_flatten(buckets)).as_py()
    if lo is None or lo < RETENTION_CUTOFF:
        bad.append(f"min bucket {lo} < cutoff {RETENTION_CUTOFF}")
    n_bad = eng.verify_tier("tier_10d").filter(~F.col("ok")).count()
    if n_bad:
        bad.append(f"verify_tier: {n_bad} rows fail")
    return bad


# ---------------------------------------------------------------------------
# query calls
# ---------------------------------------------------------------------------

def query_calls(eng: Engine, lookup_id: str) -> list:
    """(kind, call) of the query mix. Each call returns (checksum, detail):
    the checksum must repeat across passes and runs, the detail is checked
    against the oracle."""

    def forced(df, detail=None):
        """Full-column checksum, so every output column is computed, plus
        the `detail` aggregate in the same Spark job."""
        aggs = [F.bit_xor(F.xxhash64(*df.columns)).alias("h")]
        if detail is not None:
            aggs.append(detail.alias("d"))
        row = df.agg(*aggs).collect()[0]
        return row["h"], (row["d"] if detail is not None else None)

    def fold_monthly():
        h, doc = forced(
            eng.fold("tier_monthly", "year"),
            F.collect_list(
                F.when(F.col("doc_id") == lookup_id, F.struct("bucket", "value", "n_obs"))
            ),
        )
        return h, sorted(tuple(r) for r in doc)

    def lookup():
        rows = (
            eng.read_tier("tier_10d")
            .filter(F.col("doc_id") == lookup_id)
            .select("doc_id", "buckets", "values", "tokens")
            .collect()
        )
        return None, [r.asDict() for r in rows]

    return [
        ("fold_10d", lambda: forced(eng.fold("tier_10d", "month", "STD"))),
        ("fold_monthly", fold_monthly),
        ("stm", lambda: forced(eng.stm("tier_10d"))),
        ("harmonic", lambda: forced(eng.harmonic("tier_10d"))),
        ("verify", lambda: forced(
            eng.verify_tier("tier_10d"), F.sum((~F.col("ok")).cast("int"))
        )),
        ("lookup", lookup),
    ]


def year_fold(monthly: pd.DataFrame, doc_id: str) -> list[tuple]:
    """Oracle of fold("tier_monthly", "year") for one doc: (year, AVG, n_obs)."""
    out = []
    for _i, r in monthly[monthly["doc_id"] == doc_id].iterrows():
        years = np.asarray(r["buckets"]) // 100
        vals = np.asarray(r["values"])
        for y in np.unique(years):
            out.append((int(y), float(vals[years == y].mean()), int((years == y).sum())))
    return out


def folds_match(got: list[tuple], want: list[tuple]) -> bool:
    return [(y, n) for y, _v, n in got] == [(y, n) for y, _v, n in want] and np.allclose(
        [v for _y, v, _n in got], [v for _y, v, _n in want], rtol=1e-12, atol=1e-9
    )


def query_pass(run: Run, eng: Engine, idx: int, oracle: dict, seen: dict) -> None:
    """One pass of the query mix. Checksums must repeat across passes; the
    looked-up series and the looked-up doc's yearly fold must equal the
    oracle's; verify_tier must find no bad row."""
    lookup_id = f"doc{idx:08d}"
    for kind, fn in query_calls(eng, lookup_id):
        out = run.call(kind, fn)
        if out is None:
            continue
        h, got = out
        if kind == "lookup":
            want = oracle["tier_10d"][oracle["tier_10d"]["doc_id"] == lookup_id]
            if len(got) != len(want) or not all(
                series_match(g, w) for g, (_i, w) in zip(got, want.iterrows())
            ):
                run.fail(kind, f"lookup {lookup_id} != oracle")
        elif kind == "fold_monthly" and not folds_match(
            got, year_fold(oracle["tier_monthly"], lookup_id)
        ):
            run.fail(kind, f"yearly fold of {lookup_id} != oracle")
        elif kind == "verify" and got:
            run.fail(kind, f"{got} rows fail verify_tier")
        if h is not None and seen.setdefault(kind, h) != h:
            run.fail(kind, f"checksum {h} != first pass {seen[kind]}")


# ---------------------------------------------------------------------------
# trace-only layer probes
# ---------------------------------------------------------------------------

def layer_probes(run: Run, inp: str, warehouse: str, snap: str) -> None:
    spark = run.spark
    with run.spans.span("snapshot_id"):
        snapshot_id(inp)
    with run.spans.span("committed_keys"):
        committed_keys(spark, os.path.join(warehouse, "lineage"), "tier_monthly", snap).count()
    with run.spans.span("kernels"):
        run.layers.update(tracing.kernel_probes(inp, CFG))
    run.layers.update(tracing.tier_files(warehouse))


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def cascade_bulk(run: Run) -> None:
    spark = run.spark
    start = seed_offset(run.seed)
    inp = os.path.join(run.work, "sequences")
    wh = os.path.join(run.work, "warehouse")
    with run.spans.span("datagen"):
        write_input(spark, inp, start, BULK_DOCS)
    oracle = oracle_for(sample_indices(start, BULK_DOCS))
    run.end_setup()

    t_loop = time.perf_counter()
    first = True
    while first or time.perf_counter() - t_loop < run.seconds:
        res = run.call("build", lambda: build_cascade(spark, inp, wh, CFG))
        if res is None:
            break
        if first:
            run.build_span = run.spans.first("build")["id"]
            run.amp = amplification(res.tier_paths, inp)
            run.detail["build_tokens_per_s"] = (res.tokens_processed / run.calls[-1][1], "1/s")
        for why in oracle_mismatches(res.tier_paths, oracle):
            run.fail("build", why)
        if run.trace and first:
            layer_probes(run, inp, wh, res.snapshot)
            for kind, fn in query_calls(Engine(spark, wh, CFG), f"doc{start + 7:08d}"):
                with run.spans.span(kind):
                    fn()

        eng = Engine(spark, wh, CFG)
        if run.call("retention", lambda: eng.apply_retention("tier_10d", RETENTION_CUTOFF)) is not None:
            for why in retention_problems(eng):
                run.fail("retention", why)
        first = False

    for k, v in run.medians().items():
        run.detail[f"{k}_s"] = (v, "s")
    run.detail["tier_bytes_per_input_byte"] = (run.amp, "ratio")


def tier_query(run: Run) -> None:
    spark = run.spark
    start = seed_offset(run.seed)
    inp = os.path.join(run.work, "sequences")
    wh = os.path.join(run.work, "warehouse")
    with run.spans.span("datagen"):
        write_input(spark, inp, start, QUERY_DOCS)
    with run.spans.span("build") as sp:
        res = build_cascade(spark, inp, wh, CFG)
    run.build_span = sp["id"]
    run.amp = amplification(res.tier_paths, inp)
    lookups = sample_indices(start, QUERY_DOCS)
    oracle = oracle_for(lookups)
    if run.trace:
        layer_probes(run, inp, wh, res.snapshot)
    eng = Engine(spark, wh, CFG)
    # No untimed warm-up pass: the first timed pass is the first over the
    # new warehouse, as in a job that builds and then queries. A fixed pass
    # count keeps the cold pass's weight in the medians the same on a fast
    # and a slow host; a time-bounded count alone moved pass_s by nearly a
    # third.
    run.end_setup()

    seen: dict = {}
    t_loop = time.perf_counter()
    p = 0
    while p < QUERY_PASSES or time.perf_counter() - t_loop < run.seconds:
        query_pass(run, eng, lookups[p % len(lookups)], oracle, seen)
        p += 1

    q = [c[1] for c in run.calls if c[0] != "lookup"]
    run.detail["query_s_p50"] = (float(np.percentile(q, 50)), "s")
    run.detail["query_s_p90"] = (float(np.percentile(q, 90)), "s")
    run.detail["query_calls"] = (float(len(q)), "count")
    run.detail["lookup_s"] = (run.medians().get("lookup", 0.0), "s")
    run.detail["tier_bytes_per_input_byte"] = (run.amp, "ratio")
    run.checksums = {k: str(v) for k, v in seen.items()}


WORKLOADS = {"cascade_bulk": cascade_bulk, "tier_query": tier_query}

"""Measurement helpers for the rollup-engine benchmark.

- ``Spans``: in-memory spans around public engine calls; when tracing is on,
  each span also names the Spark job group of the jobs it launches.
- ``RssSampler``: peak resident memory of this process plus every
  descendant (the Spark JVM and its Python workers), read from ``/proc``.
- ``parse_event_log``/``cascade_layers``: per-stage executor metrics from a
  Spark event log, attributed to cascade tiers through the output path of
  the SQL execution that launched each job.
- ``kernel_probes``: in-process timings of the flat-buffer kernels and the
  Gorilla codec on buffers read from the real input.

Nothing here imports pyspark, so the module loads without a JVM.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

TIERS = ("tier_raw", "tier_10d", "tier_monthly", "tier_seasonal")


class Spans:
    """Spans kept in memory and written once, at exit.

    With a SparkContext attached, entering a span sets the job group to the
    span id, so the event log ties every job to the innermost span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start_ms": time.time() * 1000.0,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(f"span{sid}", name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(f"span{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def first(self, name: str) -> dict | None:
        return next((s for s in self.spans if s["name"] == name), None)

    def descendants(self, sid: int) -> set[int]:
        out = {sid}
        for s in self.spans:  # parents always precede children
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


# ---------------------------------------------------------------------------
# process tree memory
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process tree every `interval` s."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self.peak_py_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = py = 0
        for p in [me, *descendants(me)]:
            kb = _rss_kb(p)
            total += kb
            try:
                with open(f"/proc/{p}/comm") as f:
                    if f.read().startswith("python"):
                        py += kb
            except OSError:
                pass
        self.peak_kb = max(self.peak_kb, total)
        self.peak_py_kb = max(self.peak_py_kb, py)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_INSERT_RE = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\s*\nInput: \[\]\nArguments: (\S+?),"
)
_SCAN_RE = re.compile(r"Location: \w+ \[([^\]]*)\]")


def _find_event_log(log_dir: str) -> str:
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".") and not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {files}")
    return files[0]


def parse_event_log(log_dir: str) -> dict:
    """Jobs, stages and SQL executions of the (stopped) application."""
    execs: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(_find_event_log(log_dir)) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith("SQLExecutionStart"):
                plan = e.get("physicalPlanDescription", "")
                m = _INSERT_RE.search(plan)
                execs[e["executionId"]] = {
                    "out": m.group(1).rstrip("/") if m else None,
                    "scans": _SCAN_RE.findall(plan),
                    "sum_n_tok": "sum(n_tok" in plan,
                }
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                eid = props.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"],
                    "group": props.get("spark.jobGroup.id"),
                    "exec": int(eid) if eid is not None else None,
                    "stages": e["Stage IDs"],
                }
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerTaskEnd":
                tm = e.get("Task Metrics") or {}
                st = stages.setdefault(
                    e["Stage ID"],
                    {"tasks": 0, "run_ms": 0, "cpu_ns": 0, "rows_out": 0,
                     "bytes_out": 0, "shuffle_rows": []},
                )
                st["tasks"] += 1
                st["run_ms"] += tm.get("Executor Run Time", 0)
                st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                out = tm.get("Output Metrics") or {}
                st["rows_out"] += out.get("Records Written", 0)
                st["bytes_out"] += out.get("Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                st["shuffle_rows"].append(sr.get("Total Records Read", 0))
    return {"execs": execs, "jobs": jobs, "stages": stages}


def _exec_role(ex: dict | None) -> tuple[str, str | None]:
    """('write'|'lineage'|'tokens_sum'|'other', tier) of a SQL execution."""
    if ex is None:
        return "other", None
    out = ex["out"]
    if out is not None:
        base = os.path.basename(out)
        if base in TIERS:
            return "write", base
        if base == "lineage":
            tier = next(
                (t for s in ex["scans"] for t in TIERS if s.rstrip("/").endswith("/" + t)),
                None,
            )
            return "lineage", tier
    if ex["sum_n_tok"]:
        return "tokens_sum", None
    return "other", None


def cascade_layers(log: dict, groups: set[str], cores: int, wall_s: float) -> dict:
    """Per-tier stage metrics of the build whose jobs ran in `groups`."""
    jobs = {j: d for j, d in log["jobs"].items() if d["group"] in groups}
    m: dict[str, float] = {}
    for t in TIERS:
        for k in ("stage_s", "tasks", "run_s", "cpu_s", "rows_out"):
            m[f"cascade.{t}.{k}"] = 0.0
        m[f"lineage.{t}.s"] = 0.0
    m["cascade.tokens_sum_s"] = 0.0
    m["spark.jobs"] = float(len(jobs))
    tasks = 0
    run_ms = 0
    raw_shuffle: list[int] = []
    intervals = []
    for j, d in jobs.items():
        dur = (d.get("end", d["start"]) - d["start"]) / 1000.0
        intervals.append((d["start"], d.get("end", d["start"])))
        role, tier = _exec_role(log["execs"].get(d["exec"]))
        sts = [log["stages"][s] for s in d["stages"] if s in log["stages"]]
        tasks += sum(s["tasks"] for s in sts)
        run_ms += sum(s["run_ms"] for s in sts)
        if role == "write":
            p = f"cascade.{tier}."
            m[p + "stage_s"] += dur
            m[p + "tasks"] += sum(s["tasks"] for s in sts)
            m[p + "run_s"] += sum(s["run_ms"] for s in sts) / 1000.0
            m[p + "cpu_s"] += sum(s["cpu_ns"] for s in sts) / 1e9
            m[p + "rows_out"] += sum(s["rows_out"] for s in sts)
            if tier == "tier_raw":
                for s in sts:
                    if sum(s["shuffle_rows"]) > 0:
                        raw_shuffle.extend(s["shuffle_rows"])
        elif role == "lineage" and tier is not None:
            m[f"lineage.{tier}.s"] += dur
        elif role == "tokens_sum":
            m["cascade.tokens_sum_s"] += dur
    m["spark.tasks"] = float(tasks)
    m["cascade.salt_skew"] = (
        max(raw_shuffle) / statistics.mean(raw_shuffle)
        if raw_shuffle and statistics.mean(raw_shuffle) > 0 else 0.0
    )
    # 1-core time estimate: every task's run time back to back, plus the
    # driver-side time outside any job (listing, commit, planning)
    covered = 0.0
    last = None
    for a, b in sorted(intervals):
        if last is None or a > last:
            covered += b - a
            last = b
        elif b > last:
            covered += b - last
            last = b
    driver_s = max(wall_s - covered / 1000.0, 0.0)
    t1 = driver_s + run_ms / 1000.0
    m["cascade.parallel_eff_1_to_n"] = t1 / (cores * wall_s) if wall_s > 0 else 0.0
    return m


def parquet_stats(path: str) -> tuple[int, int]:
    """(data file count, data bytes) of a parquet directory."""
    n = size = 0
    for root, _d, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def tier_files(warehouse: str) -> dict:
    """Data file count and bytes of each tier directory."""
    m = {}
    for t in TIERS:
        n, size = parquet_stats(os.path.join(warehouse, t))
        m[f"cascade.{t}.files"] = float(n)
        m[f"cascade.{t}.bytes"] = float(size)
    return m


# ---------------------------------------------------------------------------
# in-process kernel timings
# ---------------------------------------------------------------------------

def _median_time(fn, reps: int) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def kernel_probes(input_path: str, cfg, max_docs: int = 10_000, reps: int = 5) -> dict:
    """Time FK.flat_decode/flat_interp/flat_fold and the Gorilla codec on
    the token buffers of the real input (first `max_docs` docs)."""
    import numpy as np
    import pyarrow.parquet as pq

    from sits_classification_spark.compression import gorilla as G
    from sits_classification_spark.plans import flatkernels as FK

    col = pq.read_table(input_path, columns=["tokens"]).column("tokens")
    col = col.slice(0, max_docs).combine_chunks()
    offsets = col.offsets.to_numpy().astype(np.int64)
    flat = col.values.to_numpy(zero_copy_only=False)[offsets[0]:offsets[-1]].astype(np.int64)
    offsets = offsets - offsets[0]

    dec = FK.flat_decode(flat, offsets, cfg.nodata, cfg.cadence_days, cfg.epoch_day)
    _keep, doff, days, vals, _n = dec
    goff, gdays, gvals = FK.flat_interp(days, vals, doff, cfg.int_day)

    t_dec = _median_time(
        lambda: FK.flat_decode(flat, offsets, cfg.nodata, cfg.cadence_days, cfg.epoch_day),
        reps,
    )
    t_int = _median_time(lambda: FK.flat_interp(days, vals, doff, cfg.int_day), reps)
    t_fold = _median_time(
        lambda: FK.flat_fold(gdays, gvals, goff, FK.day_to_month_bucket), reps
    )

    def encode():
        return G.encode_dod_flat(gdays, goff), G.encode_xor_flat(gvals, goff)

    t_enc = _median_time(encode, reps)
    eb, ev = encode()
    enc_bytes = sum(map(len, eb)) + sum(map(len, ev))

    rows = min(500, len(eb))
    t_decode = _median_time(
        lambda: [G.decode_series(eb[i], ev[i]) for i in range(rows)], reps
    )
    return {
        "flatkernels.decode_ns_per_point": t_dec * 1e9 / flat.size,
        "flatkernels.interp_ns_per_point": t_int * 1e9 / gdays.size,
        "flatkernels.fold_ns_per_point": t_fold * 1e9 / gdays.size,
        "gorilla.encode_ns_per_point": t_enc * 1e9 / gdays.size,
        "gorilla.bytes_per_point": enc_bytes / gdays.size,
        "gorilla.decode_us_per_row": t_decode * 1e6 / rows,
    }

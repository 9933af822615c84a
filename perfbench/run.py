#!/usr/bin/env python3
"""Rollup-engine benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload cascade_bulk --seed 1 --seconds 10 --trace 0

Pins the environment (cores = nproc, driver memory sized to the host,
Spark local dirs and temp files under ``.perfbench_work/``, the repository
root on PYTHONPATH), starts one ``local[nproc]`` Spark session, runs the
workload from ``workloads.py`` for ``--seconds`` seconds of whole passes
and prints one JSON object as the last line of standard output. With
``--trace 1`` the same run also records an event log and in-process layer
timings, reports the per-layer metrics instead, and writes its spans to
``.perfbench_out/``. Exits non-zero without a result when the engine
package is not beside this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

ENGINE_OPS = ("fold_10d", "fold_monthly", "stm", "harmonic", "verify", "lookup")


def metric_spec(trace: bool) -> dict:
    """name -> unit of the metrics BENCHMARK.json asks this mode to report."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def host_mem_gib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_env() -> dict:
    """Environment every run uses, set before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    pypath = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        # a quarter of the host: the session default (24g) can exceed it
        "SPARK_DRIVER_MEM": f"{max(1, min(8, host_mem_gib() // 4))}g",
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join(dict.fromkeys(pypath)),
        "TMPDIR": tmp,
        # the short-lived launcher JVM spark-submit starts before the driver
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def spark_conf(trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    kids = tracing.descendants(os.getpid())
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    alive = [p for p in kids if _running(p)]
    while alive and time.time() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if _running(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    """True while the process exists and is not a zombie awaiting reaping."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def check_repeat(run, path: str) -> None:
    """Query checksums must repeat across the runs of one seed in one
    checkout: the first correct run records them, later runs compare."""
    if os.path.exists(path):
        with open(path) as f:
            first = json.load(f)
        for kind, h in run.checksums.items():
            if first.get(kind, h) != h:
                run.fail(kind, f"checksum {h} != {first[kind]} of an earlier run")
    elif all(c[2] for c in run.calls):
        os.makedirs(OUT, exist_ok=True)
        with open(path, "w") as f:
            json.dump(run.checksums, f)


def e2e_metrics(run, py_peak_mb: float) -> dict:
    med = run.medians()
    return {
        "setup_s": run.setup_s,
        "pass_s": sum(med.values()),
        "py_peak_rss_mb": py_peak_mb,
        "tier_bytes_per_input_byte": run.amp,
    }


def layer_metrics(run, cores: int) -> dict:
    spans = run.spans
    m = dict(run.layers)
    for name, key in (("session", "session.start_s"), ("datagen", "datagen.gen_s"),
                      ("snapshot_id", "snapshots.snapshot_id_s"),
                      ("committed_keys", "lineage.committed_keys_s")):
        m[key] = spans.first(name)["dur_s"]
    for op in ENGINE_OPS:
        m[f"engine.{op}_s"] = statistics.median(
            s["dur_s"] for s in spans.spans if s["name"] == op
        )
    build = spans.spans[run.build_span]
    groups = {f"span{i}" for i in spans.descendants(build["id"])}
    log = tracing.parse_event_log(os.path.join(WORK, "eventlog"))
    m.update(tracing.cascade_layers(log, groups, cores, build["dur_s"]))
    m["trace.pass_s"] = sum(run.medians().values())
    return m


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "sits_classification_spark")):
        print(f"error: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    env = pin_env()
    sys.path.insert(0, ROOT)

    import workloads
    from sits_classification_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    cores = int(env["SPARK_GRAFT_CPUS"])
    print("# env " + json.dumps({**env, "cores": cores, "workload": args.workload,
                                 "seed": args.seed, "trace": trace}), flush=True)

    spans = tracing.Spans()
    with tracing.RssSampler() as rss:
        with spans.span("session"):
            spark = get_spark(app=f"perfbench-{args.workload}", cores=cores,
                              extra_conf=spark_conf(trace))
        if trace:
            spans.sc = spark.sparkContext
        run = workloads.Run(spark, WORK, args.seed, args.seconds, trace, spans, t_start)
        try:
            workloads.WORKLOADS[args.workload](run)
        finally:
            stop_spark(spark)

    if run.checksums:
        check_repeat(run, os.path.join(OUT, f"checksums-{args.workload}-seed{args.seed}.json"))
    attempted = len(run.calls)
    failed = sum(1 for c in run.calls if not c[2])
    correct = attempted > 0 and failed == 0
    run.detail["ops_failed_ratio"] = (failed / max(attempted, 1), "ratio")
    if trace:
        metrics = layer_metrics(run, cores)
        os.makedirs(OUT, exist_ok=True)
        spans.write(
            os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json"),
            {"env": env, "calls": run.calls, "layers": metrics},
        )
    else:
        metrics = e2e_metrics(run, rss.peak_py_kb / 1024.0)
        detail = {**run.detail, "peak_rss_mb": (rss.peak_mb, "MB"),
                  "py_peak_rss_mb": (rss.peak_py_kb / 1024.0, "MB"),
                  "setup_s": (run.setup_s, "s")}
        for name, (value, unit) in sorted(detail.items()):
            print(f"# {name} = {value:.6g} {unit}")
        print("# calls " + " ".join(f"{k}:{s:.3f}{'' if ok else '!'}" for k, s, ok in run.calls))
        if run.checksums:
            print("# checksums " + json.dumps(run.checksums))
    shutil.rmtree(WORK, ignore_errors=True)

    spec = metric_spec(trace)
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in spec.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

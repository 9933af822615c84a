"""spark-submit entry point for the tier cascade (the north-rule launch
mode: `spark-submit --py-files sits_classification_spark.zip
tools/submit_cascade.py ...` on a multi-executor cluster).

Unlike the library's `get_spark()` (which pins a local[N] master for
tests/bench), this driver builds its session WITHOUT a master or sizing
overrides: master, executor count/memory, and default parallelism come
from spark-submit / cluster conf, which is what "runs at N and 4N
executors" means operationally. Only semantics-level conf (AQE, Arrow,
UTC) is set here. Cluster sessions also keep Spark's own Python worker
daemon and worker path: the `worker_daemon` that `get_spark` sets needs
the package importable when an executor's daemon starts and an installed
PySpark there, and executors may have neither.

Usage:
    cd /root/repo && zip -qr /tmp/engine.zip sits_classification_spark
    spark-submit --master <cluster> --py-files /tmp/engine.zip \
        tools/submit_cascade.py \
        --input /path/to/sequences_parquet --output /path/to/tiers \
        [--resume] \
        [--gen-docs 100000]   # generate a synthetic input first (smoke)

Prints one JSON line: tier row counts, tokens processed, salt width, wall
seconds, tokens/sec — the accounting bench.py records, plus the layout.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def build_session(app: str = "sits-cascade") -> SparkSession:
    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    return b.getOrCreate()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="tier cascade via spark-submit")
    ap.add_argument("--input", required=True, help="sequences parquet path")
    ap.add_argument("--output", required=True, help="tier output root")
    ap.add_argument("--resume", action="store_true",
                    help="skip salt buckets with committed lineage in every tier")
    ap.add_argument("--gen-docs", type=int, default=None,
                    help="generate a deterministic synthetic input of N docs "
                         "at --input first (cluster smoke test)")
    args = ap.parse_args(argv)

    # The parquet-directory tier emulation derives snapshot ids and clears
    # stale lineage with LOCAL filesystem calls (sources/snapshots.py); on
    # an object store those are silent no-ops, which would make --resume
    # reuse stale tiers. Shared-POSIX mounts (NFS, Lustre, /mnt/...) are
    # fine; s3://-style URIs require the Iceberg-backed variant where the
    # table format itself supplies snapshot ids (see README "Iceberg
    # seam") — refuse rather than corrupt.
    from urllib.parse import urlparse

    for p in (args.input, args.output):
        scheme = urlparse(p).scheme
        if scheme not in ("", "file"):
            ap.error(
                f"{p}: only local/shared-filesystem paths are supported by "
                "the parquet tier emulation (snapshot ids + lineage cleanup "
                "are POSIX calls); use the Iceberg-backed seam for object "
                "stores — see README"
            )

    spark = build_session()
    from sits_classification_spark.plans.cascade import build_cascade, read_tier

    if args.gen_docs:
        from sits_classification_spark.datagen import write_sequences

        write_sequences(spark, args.input, args.gen_docs)

    t0 = time.time()
    res = build_cascade(
        spark,
        args.input,
        args.output,
        resume=args.resume,
    )
    wall = time.time() - t0
    counts = {t: read_tier(spark, p).count() for t, p in res.tier_paths.items()}
    print(json.dumps({
        "tiers": counts,
        "tokens": res.tokens_processed,
        "salt_width": res.salt_width,
        "sec": round(wall, 3),
        "tokens_per_sec": round(res.tokens_processed / wall, 1) if wall else None,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

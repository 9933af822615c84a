"""SparkSession factory tuned for the rollup engine.

Local-mode testing uses ``local[N]``; the same settings scale to a real
cluster (AQE, Arrow, UTC session time) — per-cluster sizing (executor
memory, shuffle partitions) is the only thing an operator would change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "sits_classification_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: int for local[N], "*" for all, "N,F" for local[N,F] (F task
    attempts), None -> $SPARK_GRAFT_CPUS or "*".

    The Python workers start from ``worker_daemon`` instead of
    ``pyspark.daemon``: Spark puts its ``pyspark.zip`` (no ``.pyc``) first
    on the worker path, so each session compiled PySpark from source and
    each task re-read the directory of every zip on the path. The module
    runs the installed PySpark of the archive's version instead, and falls
    back to Spark's order, archives first, when there is none. The workers
    must import this package from their working directory or
    ``PYTHONPATH``, as the package's own UDFs already need.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = str(cores).split(",")[0]
        shuffle_partitions = 32 if n == "*" else max(int(n) * 2, 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # rank-limit pushdown (WindowGroupLimit) is a streaming skip with
        # O(1) memory per group, but Spark only plans it for limits under
        # this threshold (default 1000) — far below the token-budget caps
        # the mixture pipeline pushes (cap_per_source / mixture_*): raise
        # it so a 100k-token per-source cap still pre-prunes below the
        # exchange instead of shipping every row of a hot source
        .config("spark.sql.optimizer.windowGroupLimitThreshold", "1000000000")
        # whole-stage codegen fuses a stage into ONE processNext(); when the
        # fused method's BYTECODE exceeds the JVM's DontCompileHugeMethods
        # limit (8000 bytes) HotSpot never JITs it and the stage runs in the
        # bytecode interpreter — Spark's default threshold (65535) happily
        # emits such methods. Wide scalar pipelines here (the 36-column NNLS
        # staging, 40-index menus) hit exactly that: measured 7.2s -> 1.4s
        # at sf0.1 for sma_nnls by capping at the JIT limit, which makes
        # Spark fall back to per-operator codegen (still compiled, just not
        # fused) for oversized stages while normal stages keep WSCG
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.python.daemon.module", "sits_classification_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""Lineage survives a task retry: Spark merges a result task's accumulator
updates once and drops those of failed attempts. The test session's
``local[N]`` allows no retry, so a subprocess runs a ``local[4,2]`` session.
It builds one input cleanly, then with partition 0's first attempt failing
after the stage has drained, then mid-stream, and prints each build's
record as JSON."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r'''
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import functions as F
from sits_classification_spark import lineage as L
from sits_classification_spark.datagen import write_sequences
from sits_classification_spark.plans import cascade
from sits_classification_spark.session import get_spark

root = sys.argv[1]
# 16-row Arrow batches: a task's rows pass through in several batches
spark = get_spark(app="task_retry", cores="4,2",
                  extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "16"})
inp = os.path.join(root, "sequences")
write_sequences(spark, inp, 300)
stage_cascade = cascade.stage_cascade


def fail_first_attempt(when):
    def inject():
        open(os.path.join(root, "injected_" + when), "w").close()
        raise RuntimeError("injected task failure: " + when)

    def run(batches):
        ctx = TaskContext.get()
        fail = ctx.partitionId() == 0 and ctx.attemptNumber() == 0
        for i, batch in enumerate(batches):
            if fail and when == "mid_stream" and i == 1:
                inject()
            yield batch
        if fail and when == "drained":
            inject()
    return run


def build(when):
    if when != "clean":
        cascade.stage_cascade = lambda *a, **k: stage_cascade(*a, **k).mapInArrow(
            fail_first_attempt(when), schema=cascade.CASCADE_SCHEMA)
    try:
        res = cascade.build_cascade(spark, inp, os.path.join(root, when))
    finally:
        cascade.stage_cascade = stage_cascade
    lin = L.read_lineage(res.lineage_path).to_pylist()
    return {
        "lineage": sorted([r["tier"], r["salt"], r["rows_out"], r["checksum"]] for r in lin),
        "tokens_processed": res.tokens_processed,
        "tier_rows": res.tier_rows,
        "stored_rows": {t: cascade.read_tier(spark, p).count() for t, p in res.tier_paths.items()},
        "injected": os.path.exists(os.path.join(root, "injected_" + when)),
    }


out = {when: build(when) for when in ("clean", "drained", "mid_stream")}
out["input_tokens"] = spark.read.parquet(inp).select(F.sum(F.size("tokens"))).first()[0]
print(json.dumps(out))
'''


def test_lineage_survives_task_retry(tmp_path):
    env = {**os.environ, "PYTHONPATH": ROOT, "SPARK_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path)],
        capture_output=True, text=True, env=env, cwd=ROOT, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    clean = got["clean"]
    assert clean["tokens_processed"] == got["input_tokens"]
    assert clean["tier_rows"] == clean["stored_rows"]
    assert len(clean["lineage"]) == 16  # 4 tiers x 4 salt buckets
    for when in ("drained", "mid_stream"):
        retried = got[when]
        assert retried.pop("injected"), when
        assert retried == {k: v for k, v in clean.items() if k != "injected"}, when

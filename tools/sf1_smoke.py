"""sf1 scale smoke: sweep every registered query at a 10x key-shifted
replica of sf0.1 and report per-query time vs the sf0.1 baseline.

The replica unions 10 copies of each sf0.1 table with primary/foreign keys
shifted per copy (so joins stay consistent and key cardinality scales),
text/doc tables cloned with shifted doc_ids (which inflates duplicate
CLUSTERS 10x — near-dup pair counts grow ~100x, an output-volume effect to
read alongside the times, not a plan regression). Usage:

    python tools/sf1_smoke.py [out_dir]     # default /tmp/sf1_replica
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # this checkout
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from sits_classification_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

# per-table key columns to shift by copy_i * stride (stride > max key)
SHIFTS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "region": [],
    "nation": [],
}
STRIDE = 100_000_000


def build_replica(spark, out_dir: str) -> None:
    for t in TABLES:
        dst = os.path.join(out_dir, f"{t}.parquet")
        # only reuse a replica whose write COMMITTED (Spark drops _SUCCESS
        # at job commit); a dir left by an interrupted write is rebuilt
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            continue
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        if not SHIFTS[t]:  # tiny dims: single copy
            df.write.mode("overwrite").parquet(dst)
            continue
        parts = []
        for i in range(10):
            d = df
            for c in SHIFTS[t]:
                d = d.withColumn(c, F.col(c) + F.lit(i * STRIDE))
            parts.append(d)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.write.mode("overwrite").parquet(dst)
        print(f"replica {t}: {spark.read.parquet(dst).count()} rows", flush=True)


def main():
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1_replica"
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app="sf1_smoke", cores=32)
    build_replica(spark, out_dir)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    def run(fn, d):
        # checksum, not count(): count() lets Catalyst drop whole join
        # subtrees (see bench.py run_queries) — time producing the values;
        # the row count rides the same single action
        df = fn(spark, d)
        row = df.select(
            F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))
        ).collect()[0]
        return row[0]

    base_times, rep_times, errors = {}, {}, {}
    for name, fn in qs.items():
        try:
            t0 = time.time()
            n0 = run(fn, SRC)
            base_times[name] = time.time() - t0
            t0 = time.time()
            n1 = run(fn, out_dir)
            rep_times[name] = time.time() - t0
            print(
                f"{name}: sf0.1 {base_times[name]:.2f}s/{n0} rows -> "
                f"sf1 {rep_times[name]:.2f}s/{n1} rows "
                f"({rep_times[name] / max(base_times[name], 1e-9):.1f}x)",
                flush=True,
            )
        except Exception as ex:  # noqa: BLE001
            errors[name] = f"{type(ex).__name__}: {str(ex)[:150]}"
            print(f"{name}: ERROR {errors[name]}", flush=True)
    tot0, tot1 = sum(base_times.values()), sum(rep_times.values())
    print(
        f"\nTOTAL {len(qs)} queries, {len(errors)} errors; "
        f"sf0.1 {tot0:.0f}s -> sf1 {tot1:.0f}s ({tot1 / max(tot0, 1e-9):.1f}x)"
    )
    over = {
        k: round(rep_times[k] / max(base_times[k], 1e-9), 1)
        for k in rep_times
        if rep_times[k] / max(base_times[k], 1e-9) > 10
    }
    print("queries >10x:", over or "none")


if __name__ == "__main__":
    main()

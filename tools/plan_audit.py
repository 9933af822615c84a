"""Physical-plan census over every registered driver query.

For each query in __spark_entry__.queries(), builds the executed plan (AQE
initial plan — no jobs run except where a query materializes driver-side
state like codebooks) and counts the structures that decide 100 TB
behavior:

- shuffle exchanges (hashpartitioning / rangepartitioning / rebalance)
- broadcast exchanges (cheap by design — small side)
- Python boundaries (ArrowEvalPython / MapInPandas / MapInArrow /
  FlatMapGroupsInPandas)
- window operators, flagging UNPARTITIONED windows (all-rows-to-one-task;
  the known-tiny adjudicated cases are listed in PLANS.md)
- whole-stage-codegen presence

Writes one JSON line per query to PLAN_AUDIT.json and prints a summary
table. Queries that RUN jobs at build time (streaming equivalence twins
drive a stream to completion; fixture builders write parquet) are still
audited on their final DataFrame's plan.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # this checkout
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from sits_classification_spark.session import get_spark  # noqa: E402


def audit_plan(text: str) -> dict:
    shuffles = len(re.findall(r"Exchange (hash|range)partitioning", text)) + len(
        re.findall(r"Exchange RoundRobinPartitioning", text)
    )
    rebal = len(re.findall(r"REBALANCE", text))
    bcast = len(re.findall(r"BroadcastExchange", text))
    arrow = len(re.findall(r"ArrowEvalPython", text))
    mapip = len(re.findall(r"MapInPandas", text))
    mapia = len(re.findall(r"MapInArrow", text))
    fmg = len(re.findall(r"FlatMapGroupsInPandas", text))
    windows = len(re.findall(r"\bWindow \[", text))
    # unpartitioned window: a Window spec with an empty partition list —
    # windowspecdefinition(ORDER...) with no leading partition columns shows
    # as 'windowspecdefinition(' followed directly by an ordering expression;
    # detect via Window operator lines lacking a partition-by bracket pair
    unpart = 0
    for m in re.finditer(r"\bWindow \[.*?\], \[(.*?)\](, \[.*?\])?\n", text):
        # physical Window prints [exprs], [partitionCols], [orderCols]
        if m.group(1).strip() == "":
            unpart += 1
    if unpart == 0:
        # fallback: Spark prints 'Window [..]' with partition spec inline
        unpart = len(re.findall(r"windowspecdefinition\((?:[a-z_]+#\d+L? ASC)", text))
    wscg = len(re.findall(r"WholeStageCodegen", text))
    sorts = len(re.findall(r"\bSort \[", text))
    return {
        "shuffle_exchanges": shuffles + rebal,
        "broadcast_exchanges": bcast,
        "python_nodes": arrow + mapip + mapia + fmg,
        "windows": windows,
        "unpartitioned_windows": unpart,
        "wholestage_codegen": wscg,
        "sorts": sorts,
    }


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app="plan_audit", cores=8)
    out: dict[str, dict] = {}
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf)
            text = df._jdf.queryExecution().executedPlan().toString()
            rec = audit_plan(text)
            rec["err"] = None
        except Exception as e:  # noqa: BLE001 — audit must not abort the sweep
            rec = {"err": f"{type(e).__name__}: {str(e)[:160]}"}
        out[name] = rec
        flag = ""
        if rec.get("unpartitioned_windows"):
            flag = "  <-- UNPARTITIONED WINDOW"
        if rec.get("err"):
            flag = f"  ERR {rec['err']}"
        print(
            f"{name:28s} shuf={rec.get('shuffle_exchanges','-'):>2} "
            f"bcast={rec.get('broadcast_exchanges','-'):>2} "
            f"py={rec.get('python_nodes','-'):>2} "
            f"win={rec.get('windows','-'):>2}{flag}"
        )
    with open(os.path.join(ROOT, "PLAN_AUDIT.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    worst = sorted(
        ((n, r) for n, r in out.items() if not r.get("err")),
        key=lambda x: -(x[1]["shuffle_exchanges"]),
    )[:10]
    print("\nMost-shuffling queries:")
    for n, r in worst:
        print(f"  {n:28s} {r['shuffle_exchanges']} shuffles")
    unp = [n for n, r in out.items() if r.get("unpartitioned_windows")]
    print(f"\nqueries with unpartitioned windows: {unp}")


if __name__ == "__main__":
    main()

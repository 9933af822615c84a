"""Driver-style correctness harness: run each __spark_entry__ query on Spark
and its oracle SQL on DuckDB at sf0.01; compare row count, column names/types,
and order-insensitive values."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # this checkout
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from sits_classification_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def compare(name: str, spdf: pd.DataFrame, dkdf: pd.DataFrame) -> list[str]:
    issues = []
    if sorted(spdf.columns) != sorted(dkdf.columns):
        issues.append(f"columns spark={sorted(spdf.columns)} duck={sorted(dkdf.columns)}")
        return issues
    if len(spdf) != len(dkdf):
        issues.append(f"rowcount spark={len(spdf)} duck={len(dkdf)}")
        return issues
    a, b = normalize(spdf), normalize(dkdf)
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(av, bv)) if not values_equal(x, y)
        ]
        if bad:
            issues.append(f"col {c}: {len(bad)} mismatches, first: {bad[:3]}")
    # dtype note (informational)
    da = {c: str(spdf[c].dtype) for c in spdf.columns}
    db = {c: str(dkdf[c].dtype) for c in dkdf.columns}
    dt = {c: (da[c], db[c]) for c in da if da[c] != db[c]}
    if dt:
        issues.append(f"DTYPES differ (warn): {dt}")
    return issues


def main():
    import json
    import os

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    json_out = os.environ.get("COMPARE_JSON")  # path: write driver-style JSON
    spark = get_spark(app="compare", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    failures = 0
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        report[name] = rec
        try:
            spdf = fn(spark, sf).toPandas()
            rec["spark_rows"] = len(spdf)
        except Exception as e:
            rec["err"] = f"SPARK {type(e).__name__}: {str(e)[:200]}"
            print(f"[FAIL] {name}: SPARK ERROR {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        if name not in osql:
            rec.update(rows_match=True, schema_match=True,
                       err="rows-only (no oracle declared)")
            print(f"[rows-only] {name}: {len(spdf)} rows, cols={list(spdf.columns)}")
            continue
        try:
            dkdf = con.execute(osql[name]).df()
            rec["oracle_rows"] = len(dkdf)
        except Exception as e:
            rec["err"] = f"DUCKDB {type(e).__name__}: {str(e)[:200]}"
            print(f"[FAIL] {name}: DUCKDB ERROR {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        issues = compare(name, spdf, dkdf)
        real = [i for i in issues if not i.startswith("DTYPES")]
        rec["schema_match"] = not any(i.startswith("columns") for i in real)
        rec["rows_match"] = rec["schema_match"] and not any(
            i.startswith("rowcount") for i in real
        )
        rec["hash_match"] = not real
        tag = "OK " if not real else "FAIL"
        if real:
            failures += 1
            rec["err"] = "; ".join(real)[:300]
        print(f"[{tag}] {name}: {len(spdf)} rows" + ("; " + "; ".join(issues) if issues else ""))
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(report, fh, indent=1)
    print(f"\n{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

"""Self-check harness mirroring the driver's correctness gate.

Runs every queries() entry at sf0.01 on Spark AND its oracle_sql() on DuckDB,
compares row counts and order-insensitive value hashes (columns sorted by
name, floats rounded). Run: python scripts/check_correctness.py [sf_dir]

``--json PATH`` (anywhere in argv) additionally writes a CORRECTNESS-style
artifact covering EVERY query — the driver's own artifact caps at the first
50 registry entries, so the committed full run is the repo's evidence for
the remainder (ADVICE r2 #1).
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import the engine from PYTHONPATH, not from sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

ARGS = list(sys.argv[1:])
JSON_OUT = None
if "--json" in ARGS:
    i = ARGS.index("--json")
    if i + 1 >= len(ARGS):
        raise SystemExit("usage: check_correctness.py [sf_dir] [q1,q2] --json PATH")
    JSON_OUT = ARGS[i + 1]
    del ARGS[i : i + 2]

SF = ARGS[0] if ARGS else "/root/testdata/sf0.01"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    import __spark_entry__ as ent
    from hebrew_ner_spark.session import get_spark

    spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    qs, oras = ent.queries(), ent.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    only = ARGS[1].split(",") if len(ARGS) > 1 else None
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        results[name] = rec
        try:
            sdf = fn(spark, SF).toPandas()
        except Exception as e:
            failures.append(name)
            rec["err"] = f"spark error {type(e).__name__}: {e}"
            print(f"FAIL  {name}: {rec['err']}")
            continue
        rec["spark_rows"] = len(sdf)
        if name not in oras:
            rec["err"] = "rows-only check (no oracle)"
            print(f"ok    {name}: rows-only check, {len(sdf)} rows")
            continue
        try:
            odf = con.execute(oras[name]).df()
        except Exception as e:
            failures.append(name)
            rec["err"] = f"oracle error {e}"
            print(f"FAIL  {name}: {rec['err']}")
            continue
        rec["oracle_rows"] = len(odf)
        a, b = canon(sdf), canon(odf)
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(a)} oracle={len(b)}")
            continue
        rec["rows_match"] = True
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns spark={list(a.columns)} oracle={list(b.columns)}")
            continue
        rec["schema_match"] = True
        if not a.equals(b):
            neq = (a != b).any(axis=1)
            failures.append(name)
            print(f"FAIL  {name}: {int(neq.sum())}/{len(a)} rows differ; first:")
            print(pd.concat([a[neq].head(3), b[neq].head(3)]))
            continue
        rec["hash_match"] = True
        print(f"ok    {name}: {len(a)} rows match")
    spark.stop()
    if JSON_OUT:
        with open(JSON_OUT, "w") as f:
            json.dump(results, f, indent=2)
        print(f"wrote {JSON_OUT} ({len(results)} queries)")
    # count what actually RAN — a filtered run must not print a
    # full-registry pass line it never earned
    n_run = len(results)
    subset = f" (subset of {len(qs)} registered)" if n_run < len(qs) else ""
    print(f"\n{n_run - len(failures)}/{n_run} queries pass{subset}")
    if only and n_run == 0:
        # a filter that matched nothing verified nothing — that is a
        # failure (typo'd query names must not pass a CI gate)
        print(f"ERROR: filter matched no registered query: {only}")
        return 1
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

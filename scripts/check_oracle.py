#!/usr/bin/env python
"""Local emulation of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at the given sf dir and compares
against oracle_sql() via DuckDB: row count, sorted-column names, and an
order-insensitive exact value comparison. Exit 1 on any mismatch.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v))
        else:
            df[c] = df[c].astype("float64") if df[c].dtype.kind == "f" else df[c]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument(
        "--json-out",
        default=None,
        help="write a per-query artifact (the committed full-sweep record "
        "the driver's 50-query sample can't provide — r4-verdict item 1)",
    )
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod
    from autoextraction_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", cpus=8, driver_memory="8g")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.only.split(",") if args.only else list(qs)
    failures = []
    records: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        sdf = qs[name](spark, args.sf_dir).toPandas()
        if name not in oracles:
            print(f"  {name}: rows-only ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
            records[name] = {
                "status": "rows_only", "rows": int(len(sdf)),
                "sec": round(time.time() - t0, 1),
            }
            continue
        odf = con.sql(oracles[name]).df()
        a, b = normalize(sdf), normalize(odf)
        status = "OK"
        if list(a.columns) != list(b.columns):
            status = f"SCHEMA MISMATCH {list(a.columns)} vs {list(b.columns)}"
        elif len(a) != len(b):
            status = f"ROWCOUNT {len(a)} vs {len(b)}"
        elif not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            status = f"VALUES differ on {int(bad.sum())}/{len(a)} rows"
            print(pd.concat([a[bad].head(3), b[bad].head(3)]))
        # drop the query's leaked checkpoint RDDs before the next one (the
        # bench.py lesson: accumulated DISK_ONLY blocks degrade a long
        # multi-query session)
        del sdf
        import gc

        gc.collect()
        print(f"  {name}: {status} ({len(a)} rows) [{time.time()-t0:.1f}s]")
        records[name] = {
            "status": "ok" if status == "OK" else status,
            "rows": int(len(a)),
            "sec": round(time.time() - t0, 1),
        }
        if status != "OK":
            failures.append(name)
    spark.stop()
    if args.json_out:
        import json
        import subprocess

        head = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "HEAD"],
            capture_output=True, text=True,
        ).stdout.strip()
        with open(args.json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": args.sf_dir,
                    "git_head": head,
                    "n_queries": len(records),
                    "n_ok": sum(r["status"] == "ok" for r in records.values()),
                    "n_rows_only": sum(
                        r["status"] == "rows_only" for r in records.values()
                    ),
                    "failures": failures,
                    "queries": records,
                },
                fh,
                indent=1,
            )
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all queries match the oracle")
    return 0


if __name__ == "__main__":
    sys.exit(main())

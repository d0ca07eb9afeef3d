#!/usr/bin/env python
"""Pre-driver correctness gate: run every queries() entry on Spark AND
its oracle_sql() on DuckDB at a given sf dir (default sf0.01 — the
driver's scale), compare rows / schema / order-insensitive value hash,
print one JSON line per query. Mirrors the driver's CORRECTNESS check
closely enough to catch contract drift before the round is scored.

Usage: python scripts/selfcheck.py [--sf-dir DIR] [--only q1,q2,...]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ["documents"]


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype == object:
            pdf[c] = col.astype(str)
        elif col.dtype.kind == "f":
            pdf[c] = col.round(6)
        elif col.dtype.kind in "iu":
            pdf[c] = col.astype("int64")
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return hashlib.sha256(
        pdf.to_csv(index=False, float_format="%.6f").encode()
    ).hexdigest()[:16]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from uncp_spark.session import get_spark

    spark = get_spark(os.environ.get("SPARK_GRAFT_CPUS", "16"),
                      app_name="uncp_selfcheck")
    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    n_bad = 0
    for name, q in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            spdf = q(spark, args.sf_dir).toPandas()
        except Exception as e:
            print(json.dumps({"query": name, "err": f"spark: {e}"}))
            n_bad += 1
            continue
        rec = {"query": name, "spark_rows": len(spdf),
               "spark_sec": round(time.monotonic() - t0, 1)}
        if name in oracles:
            t1 = time.monotonic()
            try:
                opdf = duck.sql(oracles[name]).df()
            except Exception as e:
                rec["err"] = f"duckdb: {e}"
                print(json.dumps(rec))
                n_bad += 1
                continue
            rec.update(
                oracle_rows=len(opdf),
                oracle_sec=round(time.monotonic() - t1, 1),
                rows_match=len(spdf) == len(opdf),
                schema_match=sorted(spdf.columns) == sorted(opdf.columns),
                hash_match=value_hash(spdf) == value_hash(opdf),
            )
            if not (rec["rows_match"] and rec["schema_match"] and rec["hash_match"]):
                n_bad += 1
        else:
            rec["err"] = "no_oracle"
        print(json.dumps(rec), flush=True)
    spark.stop()
    print(f"# selfcheck done, {n_bad} problem(s)")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()

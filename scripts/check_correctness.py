#!/usr/bin/env python
"""Local mimic of the driver's correctness gate: run every
__spark_entry__.queries() entry and its oracle_sql() twin on the same
parquet tables, compare row count, column set, and order-insensitive
values (rounded like a value-hash would see them).

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from tstoolbox_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm_cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            # Driver-equivalent precision (VERDICT r4 #2): the round
            # driver hashes exact values, so the local gate must not
            # forgive trailing-digit divergence. %.17g is a lossless
            # round-trip for IEEE doubles (and distinguishes -0.0).
            return f"{v:.17g}"
        return str(v)

    out = df.apply(lambda col: col.map(norm_cell))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(got)} (no oracle — rows-only)")
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error {e}")
            continue
        if len(got) != len(exp):
            failures.append((name, f"rows {len(got)} != {len(exp)}"))
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}")
            continue
        if sorted(got.columns) != sorted(exp.columns):
            failures.append((name, f"cols {sorted(got.columns)} != {sorted(exp.columns)}"))
            print(f"FAIL {name}: cols {sorted(got.columns)} vs {sorted(exp.columns)}")
            continue
        g, e = normalize(got), normalize(exp)
        if not g.equals(e):
            neq = (g != e).any(axis=1)
            failures.append((name, f"{int(neq.sum())} differing rows"))
            print(f"FAIL {name}: {int(neq.sum())}/{len(g)} rows differ")
            print("  spark:", g[neq].head(3).to_dict("records"))
            print("  duck :", e[neq].head(3).to_dict("records"))
        else:
            print(f"ok   {name}: rows={len(got)} values match")
    if only:
        unknown = only - set(qs)
        if unknown:
            print(f"unknown query names: {sorted(unknown)}")
            sys.exit(2)
    n_run = len([n for n in qs if not only or n in only])
    if n_run == 0:
        print("no queries selected")
        sys.exit(2)
    print(f"\n{n_run - len(failures)}/{n_run} queries match"
          + (f" (subset of {len(qs)})" if only else ""))
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()

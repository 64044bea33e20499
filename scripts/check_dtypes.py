#!/usr/bin/env python
"""Dtype audit: Spark query result dtypes must equal the DuckDB oracle
dtypes column-for-column (timestamp unit ns-vs-us excepted — the
driver hash normalizes timestamps, proven by round-1 green rows).

Why: the driver's value hash is representation-sensitive. Round 1's
only hash failure was DuckDB promoting SUM(BIGINT) to HUGEINT (→
float64/object in pandas) against Spark's bigint — values equal,
hashes different. This audit catches that whole class (HUGEINT
promotion, len() BIGINT vs size() INT, integer '//' turning float)
before the driver does.

Usage: python scripts/check_dtypes.py [sf_dir]
"""

from __future__ import annotations

import sys

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from tstoolbox_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("dtypes")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    bad = 0
    for name in qs:
        if name not in oracles:
            continue
        try:
            g = qs[name](spark, sf_dir).limit(20).toPandas()
            e = con.execute(f"SELECT * FROM ({oracles[name]}) LIMIT 20").fetchdf()
        except Exception as ex:  # noqa: BLE001
            print(f"ERR  {name}: {str(ex)[:100]}")
            bad += 1
            continue
        for c in sorted(g.columns):
            if c in e.columns:
                # a LIMIT-20 sample under arbitrary row order can catch
                # a window where one engine's slice is all-null (pandas
                # then types it object) — not a representation skew;
                # skip rather than flap.
                if g[c].isna().all() or e[c].isna().all():
                    continue
                a, b = str(g[c].dtype), str(e[c].dtype)
                # same sampling flap, partial form: the engine whose
                # 20-row slice caught a null gets pandas' int→float64
                # promotion, the other keeps intXX. Skip only that
                # exact shape — genuine width skew (HUGEINT→object,
                # int32 vs int64 with no nulls) still reports.
                ints = ("int8", "int16", "int32", "int64")
                if (g[c].isna().any() or e[c].isna().any()) and (
                    (a == "float64" and b in ints)
                    or (b == "float64" and a in ints)
                ):
                    continue
                if a != b and not (
                    a.startswith("datetime64") and b.startswith("datetime64")
                ):
                    print(f"MISMATCH {name}.{c}: spark={a} duck={b}")
                    bad += 1
    print(f"dtype mismatches: {bad}")
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Batched-IVFADC evidence: a whole query batch resolves through ONE
codes-only scan over a materialized cell-partitioned index — no
per-query driver jobs.

Kept beside ``perfbench`` because it is the only measurement of
batched IVFADC throughput (queries/s), a secondary line next to the
rollup headline. The session is sized from the host
(``$SPARK_GRAFT_CPUS`` or every core, half of RAM for the heap).

Builds a synthetic corpus (sf embeddings tiled with deterministic
jitter to ``--corpus`` vectors), trains nothing (centroids/codebooks
pinned to corpus rows, same scheme as the driver query), materializes
``ivfpq_index`` partitioned by cell, then resolves ``--queries``
query vectors through ``ivfpq_topk_batch``. ``resolve_s`` times the
WHOLE resolve — probe-table build + scan + per-query top-k; the
one-scan claim is evidenced from the executed plan (all index
FileScans read codes only, with the union-of-probes partition
filter). Appends one JSON line to BENCH/quiet_runs.jsonl tagged
kind=ivfpq_batch.

Usage: python scripts/ivfpq_batch_bench.py [--queries 1000]
       [--corpus 100000] [--nprobe 4] [--k 10]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", type=int, default=1000)
    ap.add_argument("--corpus", type=int, default=100_000)
    ap.add_argument("--nlist", type=int, default=16)
    ap.add_argument("--nprobe", type=int, default=4)
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tstoolbox_spark.session import get_spark
    from tstoolbox_spark.textops.similarity import (
        ivfpq_index,
        ivfpq_topk_batch,
    )

    spark = get_spark("ivfpq_batch_bench")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    base = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_base = base.count()
    reps = (args.corpus + n_base - 1) // n_base
    # tile with deterministic per-replica jitter so cells stay varied
    corpus = (
        base.crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
        .withColumn("vec_id", F.col("vec_id") + F.col("rep") * n_base)
        .withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: x + F.pmod(
                    F.xxhash64(F.col("vec_id"), i), F.lit(1000)
                ).cast("float") / F.lit(100000.0),
            ),
        )
        .filter(F.col("vec_id") < args.corpus)
        .select("vec_id", "embedding")
    )
    rows = base.filter(F.col("vec_id") < max(args.nlist, 16)).orderBy(
        "vec_id").collect()
    dim = len(rows[0]["embedding"])
    m, dsub = 8, dim // 8
    cents = [[float(x) for x in rows[i]["embedding"]]
             for i in range(args.nlist)]
    books = [
        [[float(x) for x in r["embedding"][mi * dsub:(mi + 1) * dsub]]
         for r in rows[:16]]
        for mi in range(m)
    ]

    work = tempfile.mkdtemp(prefix="ivfpq_batch_")
    try:
        idx_path = os.path.join(work, "idx")
        t0 = time.time()
        ivfpq_index(corpus, cents, books).write.partitionBy("cell").parquet(
            idx_path)
        index_build_s = round(time.time() - t0, 2)
        idx = spark.read.parquet(idx_path)

        queries = (
            base.filter(F.col("vec_id") < args.queries)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )
        t0 = time.time()
        out = ivfpq_topk_batch(None, queries, cents, books, k=args.k,
                               nprobe=args.nprobe, index=idx)
        n_out = out.count()
        resolve_s = round(time.time() - t0, 2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # only the INDEX scans must be codes-only; the query-side scan
        # legitimately reads the query vectors
        scan_lines = [ln for ln in plan.splitlines()
                      if "FileScan parquet" in ln and "idx" in ln]
        codes_only = bool(scan_lines) and all(
            "ReadSchema: struct<vec_id:bigint,pq_code" in ln
            for ln in scan_lines)

        rec = {
            "kind": "ivfpq_batch",
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "corpus": args.corpus, "queries": args.queries,
            "nlist": args.nlist, "nprobe": args.nprobe, "k": args.k,
            "cpus": spark.sparkContext.defaultParallelism,
            "index_build_s": index_build_s,
            "resolve_s": resolve_s, "rows_out": n_out,
            "codes_only_scan": codes_only,
            "queries_per_s": round(args.queries / resolve_s, 1),
        }
        with open(os.path.join(REPO, "BENCH", "quiet_runs.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(json.dumps(rec), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

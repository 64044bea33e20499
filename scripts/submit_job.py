#!/usr/bin/env python
"""Cluster entry point for the rollup + retention pipeline.

Launch (cluster)::

    zip -r engine.zip tstoolbox_spark
    spark-submit --py-files engine.zip scripts/submit_job.py \
        --input /data/sequences --work-dir /data/rollup \
        --buckets 4096 --target-rows-per-cell 250000

Launch (local, generated input; the session defaults to every core)::

    python scripts/submit_job.py --rows 1000000 --work-dir /tmp/rollup

Prints one JSON metrics line (sequences/sec etc.) to stdout. The
benchmark of this job is ``perfbench`` (``batch_rollup``); this script
only runs it.
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, ".")  # allow running from the repo root without install

from tstoolbox_spark.datagen import generate_sequences  # noqa: E402
from tstoolbox_spark.pipeline.runner import run_pipeline  # noqa: E402
from tstoolbox_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path of the sequence table; omit to generate")
    ap.add_argument("--rows", type=int, default=1_000_000, help="rows to generate when no --input")
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--target-rows-per-cell", type=int, default=250_000)
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--no-verify", action="store_true")
    ap.add_argument("--ttl-1m-days", type=int, default=None)
    args = ap.parse_args()

    spark = get_spark("rollup_pipeline", parallelism=args.parallelism)
    if args.input:
        # comma-separated paths = disjoint shards of one table
        seq = spark.read.parquet(*args.input.split(","))
    else:
        seq = generate_sequences(spark, args.rows)
    ttl = {"1m": args.ttl_1m_days} if args.ttl_1m_days else None
    metrics = run_pipeline(
        spark,
        seq,
        args.work_dir,
        n_buckets=args.buckets,
        target_rows_per_cell=args.target_rows_per_cell,
        verify=not args.no_verify,
        ttl_days=ttl,
    )
    print(json.dumps(metrics, default=str))


if __name__ == "__main__":
    main()

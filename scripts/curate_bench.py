#!/usr/bin/env python
"""Bench for the composed curation funnel: one `curate_corpus` run
over the sf documents table (or a synthetic corpus) with per-stage
wall times, a crash-mid-funnel resume timing, and a fully-committed
re-run timing.

Kept beside ``perfbench`` because it is the only measurement of the
curation funnel's throughput (docs/s), a secondary line next to the
rollup headline. The memcpy probe is recorded before and after the
run, the way perfbench records it: to explain outliers, never gated.
The session is sized from the host (``$SPARK_GRAFT_CPUS`` or every
core, half of RAM for the heap).

Usage: python scripts/curate_bench.py [--sf-dir D] [--synth-docs N]
Appends one JSON line to BENCH/quiet_runs.jsonl tagged
kind=curate_bench.
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
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.probes import memcpy_gbps  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--crash-after", type=int, default=4,
                    help="stages to commit before the simulated crash")
    ap.add_argument("--synth-docs", type=int, default=0,
                    help="instead of the sf documents table, run over a "
                         "synthetic hash-vocab corpus of this many docs "
                         "(the fold-ladder generator + a source column) — "
                         "the funnel's own scale ladder")
    args = ap.parse_args()

    before = memcpy_gbps()

    from pyspark.sql import functions as F

    from tstoolbox_spark.pipeline import curate
    from tstoolbox_spark.pipeline.curate import CurationSpec, curate_corpus
    from tstoolbox_spark.session import get_spark
    from tstoolbox_spark.tables import ParquetSnapshotCatalog

    spark = get_spark("curate_bench")
    work = tempfile.mkdtemp(prefix="curate_bench_")
    if args.synth_docs:
        from incremental_fold_ladder import synth_docs

        raw = synth_docs(spark, args.synth_docs).withColumn(
            "source",
            F.concat(F.lit("src"),
                     (F.crc32(F.col("doc_id").cast("binary")) % 20).cast("string")),
        )
        docs_path = os.path.join(work, "docs")
        raw.write.parquet(docs_path)
        docs = spark.read.parquet(docs_path)
        gopher_kwargs = {"min_words": 10, "min_stopword_hits": 0}
    else:
        docs = spark.read.parquet(
            os.path.join(args.sf_dir, "documents.parquet"))
        # gopher knobs tuned for the synthetic hash-vocab corpus (the
        # paper's English stopword rule zeroes it — the exact
        # per-corpus tuning the operator's docstring anticipates);
        # keeps ~86% so the whole funnel, mixture included, exercises
        # realistically
        gopher_kwargs = {"min_words": 20, "min_stopword_hits": 1,
                         "stopwords": ["a", "the"]}
    n_docs = docs.count()
    # eval set: a deterministic slice of real corpus docs, so the
    # decontamination stage has genuine 8-gram collisions to flag
    eval_df = (docs.filter(F.crc32(F.col("doc_id").cast("binary")) % 97 == 0)
               if args.synth_docs
               else docs.filter(F.col("doc_id") % 97 == 0)
               ).select("doc_id", "text")
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    spec = CurationSpec(
        mixture={s: 1.0 / len(sources) for s in sources},
        gopher_kwargs=gopher_kwargs,
    )
    rec: dict = {"kind": "curate_bench",
                 "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                 "sf_dir": ("synthetic" if args.synth_docs else args.sf_dir),
                 "cpus": spark.sparkContext.defaultParallelism,
                 "n_docs": n_docs, "memcpy_GBps_before": round(before, 2)}
    try:
        # ---- cold full run --------------------------------------------
        cat = ParquetSnapshotCatalog(os.path.join(work, "cold"))
        t0 = time.time()
        report = curate_corpus(spark, docs, cat, spec, eval_df=eval_df)
        rec["cold_total_s"] = round(time.time() - t0, 2)
        rec["cold_docs_per_s"] = round(n_docs / rec["cold_total_s"], 1)
        rec["stages"] = {k: v for k, v in report.items()}

        # ---- crash after N stage commits, then resume -----------------
        cat2 = ParquetSnapshotCatalog(os.path.join(work, "crash"))
        orig_stage = curate._stage
        built = {"n": 0}

        def crashing_stage(spark_, catalog_, name, build, report_, **kw):
            out = orig_stage(spark_, catalog_, name, build, report_, **kw)
            if not report_[name].get("resumed") and not report_[name].get("skipped"):
                built["n"] += 1
                if built["n"] >= args.crash_after:
                    raise RuntimeError("simulated crash")
            return out

        curate._stage = crashing_stage
        t0 = time.time()
        try:
            curate_corpus(spark, docs, cat2, spec, eval_df=eval_df)
        except RuntimeError:
            pass
        finally:
            curate._stage = orig_stage
        rec["pre_crash_s"] = round(time.time() - t0, 2)
        rec["stages_committed_at_crash"] = built["n"]

        t0 = time.time()
        report2 = curate_corpus(spark, docs, cat2, spec, eval_df=eval_df)
        rec["resume_total_s"] = round(time.time() - t0, 2)
        rec["resumed_stages"] = [k for k, v in report2.items()
                                 if v.get("resumed")]

        # ---- fully-committed re-run (pure metadata resume) ------------
        t0 = time.time()
        curate_corpus(spark, docs, cat, spec, eval_df=eval_df)
        rec["full_rerun_s"] = round(time.time() - t0, 2)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec["memcpy_GBps_after"] = round(memcpy_gbps(), 2)
    out = os.path.join(REPO, "BENCH", "quiet_runs.jsonl")
    with open(out, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(rec), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

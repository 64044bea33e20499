#!/usr/bin/env python
"""O(batch) evidence for the incremental near-dup fold: fold a
FIXED-size batch onto committed corpora of growing size and record
fold-vs-rebuild time at each rung.

Kept beside ``perfbench`` because it is the only scale instrument for
``pipeline/incremental_dedup``:

- the batch size is CONSTANT across rungs (the module's claim is
  per-batch cost O(batch + candidates + affected clusters), so the
  fold line should stay ~flat while the rebuild line grows with the
  corpus);
- the committed state is read back from catalog PARQUET, not carried
  as an in-session lineage chain, so the history band table streams
  from disk through the batch-side broadcast join exactly as a
  production fold would;
- the fold's result is then committed (``commit_dedup_state``, the
  batch's docs appended to the corpus table) and timed apart as
  ``commit_s``, with the MB each table's new snapshot directory holds
  (``written_mb``): the band, corpus and lineage appends write the
  batch's rows only, the cluster table is rewritten whole.

The corpus is synthetic and deterministic (:func:`synth_docs`, shared
with ``curate_bench.py``). The session is sized from the host
(``$SPARK_GRAFT_CPUS`` or every core, half of RAM for the heap).

Usage: python scripts/incremental_fold_ladder.py [rungs] [batch]
  rungs: comma-separated committed-corpus sizes (default
         50000,100000,200000)
  batch: fold batch size (default 10000)
Appends one JSON line per rung to BENCH/incremental_dedup_scale.jsonl
tagged kind=fold_ladder.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tstoolbox_spark.pipeline.incremental_dedup import (  # noqa: E402
    BANDS_TABLE,
    CLUSTERS_TABLE,
    CORPUS_TABLE,
    commit_dedup_state,
    incremental_near_dup_update,
)
from tstoolbox_spark.session import get_spark  # noqa: E402
from tstoolbox_spark.tables import ParquetSnapshotCatalog  # noqa: E402
from tstoolbox_spark.textops.dedup import near_dup_clusters  # noqa: E402


def synth_docs(spark, n: int, words_per_doc: int = 40):
    """Deterministic corpus: hash-vocab words per doc; every 20th
    doc is a near-dup of its predecessor (first word swapped)."""
    base = spark.range(0, n)
    words = F.transform(
        F.sequence(F.lit(1), F.lit(words_per_doc)),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(
                F.xxhash64(
                    # near-dups: doc 20k+1 copies doc 20k's word stream
                    (F.col("id") - F.when(F.col("id") % 20 == 1, 1)
                     .otherwise(0)).cast("string"),
                    i,
                ),
                F.lit(50_000),
            ).cast("string"),
        ),
    )
    first = F.when(F.col("id") % 20 == 1, F.lit("changed")).otherwise(
        F.element_at(words, 1)
    )
    text = F.concat_ws(
        " ", F.array_union(F.array(first), F.slice(words, 2, words_per_doc - 1))
    )
    return base.select(
        F.concat(F.lit("d"), F.lpad(F.col("id").cast("string"), 10, "0")
                 ).alias("doc_id"),
        text.alias("text"),
    )


def _mb(path: str) -> float:
    """MB of the files under ``path``."""
    return round(sum(os.path.getsize(os.path.join(root, f))
                     for root, _, files in os.walk(path) for f in files) / 1e6, 3)


def main() -> None:
    rungs = [int(x) for x in (sys.argv[1] if len(sys.argv) > 1
                              else "50000,100000,200000").split(",")]
    batch_n = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    spark = get_spark("fold_ladder")
    out_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "incremental_dedup_scale.jsonl")

    for n_corpus in rungs:
        work = tempfile.mkdtemp(prefix=f"fold_ladder_{n_corpus}_")
        try:
            docs_path = os.path.join(work, "docs")
            synth_docs(spark, n_corpus + batch_n).write.parquet(docs_path)
            docs = spark.read.parquet(docs_path)
            cut = f"d{n_corpus:010d}"
            corpus = docs.filter(F.col("doc_id") < cut)
            batch = docs.filter(F.col("doc_id") >= cut)

            # one-time state build + catalog commit (not the fold
            # under test; production state accretes batch by batch)
            t0 = time.time()
            nb0, cl0 = incremental_near_dup_update(corpus)
            cat = ParquetSnapshotCatalog(os.path.join(work, "cat"))
            commit_dedup_state(spark, cat, nb0, cl0, "init", corpus_append=corpus)
            init_s = round(time.time() - t0, 2)

            old_bands = cat.read(spark, BANDS_TABLE)
            old_clusters = cat.read(spark, CLUSTERS_TABLE)

            t0 = time.time()
            nb, cl = incremental_near_dup_update(
                batch, old_docs=corpus, old_bands=old_bands,
                old_clusters=old_clusters,
            )
            nb = nb.localCheckpoint()
            cl = cl.localCheckpoint()
            fold_s = round(time.time() - t0, 2)

            t0 = time.time()
            commit_dedup_state(spark, cat, nb, cl, "batch", corpus_append=batch)
            commit_s = round(time.time() - t0, 2)
            written_mb = {
                t: _mb(cat.current_snapshot(t)["path"])
                for t in (BANDS_TABLE, CORPUS_TABLE, CLUSTERS_TABLE, "lineage")
            }

            t0 = time.time()
            near_dup_clusters(docs).count()
            rebuild_s = round(time.time() - t0, 2)

            n_clusters = cl.count()
            rec = {
                "ts": time.time(), "kind": "fold_ladder",
                "corpus": n_corpus, "batch": batch_n,
                "cpus": spark.sparkContext.defaultParallelism,
                "init_s": init_s, "fold_s": fold_s, "commit_s": commit_s,
                "written_mb": written_mb,
                "rebuild_s": rebuild_s, "clusters_rows": n_clusters,
            }
            with open(out_path, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(json.dumps(rec), flush=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

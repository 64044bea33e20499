"""End-to-end rollup + retention job.

    sequences (doc_id, tokens, n_tok, source)
      → derive ts (timeaxis), salted bucket               [narrow]
      → cache the cells, observing rows + source digest   [1 job]
      → Gorilla-compress cells (applyInArrow), staged,    [shuffle 1]
        observing cells, raw and encoded bytes
      → stage the compress lineage rows
      → verify: decode the STAGED blobs, observing the    [no shuffle]
        round-trip digest; compare with the source's
      → publish compressed + lineage                      [one commit group]
      → partials.stage_tiers: tier 1m from the cells,     [shuffles 2, 3]
        clustered by day, cached; tiers 1h and 1d from    [no shuffle]
        the cached 1m, with day among the keys; tier
        lineage from the same frames
      → publish the three tiers + lineage                 [one commit group]
      → TTL retention drops

Each frame is computed once and each metric is taken from the action
that already runs (``DataFrame.observe``); nothing this run wrote is
read back by footer inference — staged files are read with the schema
their record carries. Every snapshot is staged (data files landed,
unreferenced) and published only after its check, Iceberg's
data-files-first discipline: a round-trip mismatch deletes the staged
directories and raises, and every table's ``current`` stays as it was.

Designed to be launched via ``spark-submit --py-files <zip> -m`` on a
cluster; scripts/submit_job.py is the entry. Resume: pass the same
``--work-dir``. A commit group a crash left half-applied is rolled
forward first (``recover_pending``); completed compress cells are
anti-joined away via lineage (lineage.pending_rows), and the pending
ones land as one new ``refs`` group beside the committed blobs, which
are carried by reference, never rewritten.

The tier block is the tier fold's own path (``partials.stage_tiers``)
run as a FULL REBUILD: every day is replaced and there is no replay
check. A resume must leave every tier's current snapshot with its
lineage rows even when another writer (a compaction) moved a tier
while the run was down, which a skipped tier write would not.
"""

from __future__ import annotations

import datetime as dt
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..tables import ParquetSnapshotCatalog
from ..timeaxis import with_time_axis
from . import bucketing, compress, lineage, partials, retention, rollup

#: the compress stage's work unit
UNIT_COLS = ["source", "bucket", "salt"]


def _noop(df: DataFrame) -> None:
    """Run a plan to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def run_pipeline(
    spark: SparkSession,
    sequences: DataFrame,
    work_dir: str,
    n_buckets: int = bucketing.DEFAULT_BUCKETS,
    target_rows_per_cell: int = 250_000,
    verify: bool = True,
    ttl_days: dict[str, int] | None = None,
    now: dt.datetime | None = None,
    key_cols: tuple[str, ...] = ("source",),
) -> dict:
    """Run the full pipeline; returns a metrics dict (the bench harness
    reads sequences/sec from it). With ``verify``, the decoded blobs'
    digest must equal the cells' before ``compressed`` is published;
    a mismatch raises AssertionError and publishes nothing."""
    catalog = ParquetSnapshotCatalog(work_dir)
    catalog.recover_pending()
    tables = ["compressed", lineage.LINEAGE_TABLE, *(f"tier_{t}" for t in rollup.TIER_ORDER)]
    # what this run replaces; a commit fails if another writer moved it
    base = {t: (catalog.current_snapshot(t) or {}).get("id") for t in tables}
    metrics: dict = {}
    phases: dict[str, float] = {}
    metrics["phases"] = phases
    t0 = time.time()

    def mark(name: str, since: list[float]) -> None:
        now_ = time.time()
        phases[name] = round(now_ - since[0], 2)
        since[0] = now_

    def publish(staged: dict[str, dict]) -> None:
        catalog.publish([(t, s, base[t]) for t, s in staged.items()])
        base.update({t: s["id"] for t, s in staged.items()})

    tick = [t0]
    cells = bucketing.bucketed(with_time_axis(sequences), target_rows_per_cell, n_buckets)
    cells.persist()
    try:
        source = Observation()
        _noop(cells.observe(source, *compress.digest()))  # fills the cache
        want = source.get
        metrics["sequences"] = n_seq = want["rows"]
        mark("scan_bucket_cache", tick)

        # ---- compress stage (resume-aware) ----------------------------
        done = lineage.completed_units(catalog, spark, "compress")
        resume = done is not None and base["compressed"] is not None
        committed = catalog.read(spark, "compressed") if resume else None
        todo = lineage.pending_rows(cells, done, UNIT_COLS)
        if done is not None:
            metrics["cells_pending"] = todo.select(*UNIT_COLS).distinct().count()
        mark("resume_bookkeeping", tick)

        staged: dict[str, dict] = {}
        raw = enc = 0
        if done is None or metrics["cells_pending"]:
            sizes = Observation()
            comp = compress.compress(todo).observe(
                sizes,
                F.count(F.lit(1)).alias("cells"),
                F.sum("raw_bytes").alias("raw"),
                F.sum("enc_bytes").alias("enc"),
            )
            # a resume appends: the committed blobs are carried by reference
            snap = catalog.stage(comp, "compressed", compression="uncompressed", append=resume)
            staged["compressed"] = snap
            # the new directory's cells, one row each, read into one
            # partition: no shuffle
            blobs = catalog.scan(spark, dict(snap, refs=snap["refs"][-1:])).coalesce(1)
            lin = lineage.lineage_rows(blobs, "compress", snap["id"], UNIT_COLS)
            staged[lineage.LINEAGE_TABLE] = catalog.stage(
                lin.coalesce(1), lineage.LINEAGE_TABLE, append=True)
            new = sizes.get
            metrics.setdefault("cells_pending", new["cells"])
            raw, enc = new["raw"] or 0, new["enc"] or 0
        mark("compress_write_lineage", tick)

        if committed is not None:
            row = committed.agg(F.sum("raw_bytes"), F.sum("enc_bytes")).first()
            raw, enc = raw + (row[0] or 0), enc + (row[1] or 0)
        metrics["raw_bytes"] = raw
        metrics["encoded_bytes"] = enc
        metrics["compression_ratio"] = (raw or 1) / max(enc or 1, 1)
        mark("size_stats", tick)

        # ---- round-trip verification, then publish (north-rule invariant)
        if verify:
            # a resume's staged record already refs the committed blobs
            blobs = catalog.scan(spark, staged["compressed"]) if staged else committed
            decoded = Observation()
            _noop(compress.decompress(blobs).observe(decoded, *compress.digest()))
            got = decoded.get
            metrics["roundtrip"] = {"total": n_seq, "mismatched": 0 if got == want else -1}
            if got != want:
                for s in staged.values():
                    shutil.rmtree(s["path"], ignore_errors=True)
                raise AssertionError(
                    f"token round-trip mismatch: source digest {want}, decoded {got}"
                )
        if staged:
            publish(staged)
            metrics["compress_snapshot"] = staged["compressed"]["id"]
        mark("verify", tick)

        # ---- tier cascade: a full rebuild, every day replaced ----------
        tier_1m = rollup.rollup_base(cells, "1m", key_cols)
        staged = partials.stage_tiers(catalog, partials.ROLLUP, tier_1m, rollup.TIER_ORDER, key_cols)
        publish(staged)
        mark("tiers_write_lineage", tick)
        metrics["tier_snapshots"] = {t: staged[f"tier_{t}"]["id"] for t in rollup.TIER_ORDER}
    finally:
        cells.unpersist()

    # ---- retention ------------------------------------------------------
    if ttl_days:
        metrics["retention_snapshots"] = retention.apply_retention(
            catalog, spark, now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None), ttl_days
        )

    metrics["total_seconds"] = time.time() - t0
    metrics["sequences_per_second"] = n_seq / metrics["total_seconds"]
    return metrics

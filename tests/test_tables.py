"""Catalog snapshot shape: manifests written before ``refs`` existed
still read, time-travel, take partition edits and expire; a table
emptied by a TTL drop or a partition overwrite reads back with the
columns and types it had; an unpartitioned snapshot reads without a
Spark job; an append carries the committed files by reference, checks
its schema and conflicts with a rival append; and expire_snapshots
reclaims what a killed writer staged, but nothing a live writer or an
open intent still needs."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from tests.test_runner import CHILD, REPO, _files
from tstoolbox_spark.datagen import generate_sequences
from tstoolbox_spark.pipeline import lineage
from tstoolbox_spark.tables import ORPHAN_AGE_S, CommitConflict, ParquetSnapshotCatalog


def test_legacy_full_snapshot_manifest(spark, tmp_path):
    root = tmp_path / "cat"
    snaps = []
    for i, n in enumerate((3, 5)):
        sid = f"170000000000{i}-0000000{i}"
        path = str(root / "t" / f"snap-{sid}")
        df = spark.range(n).selectExpr("id AS x", "CAST(id % 2 AS STRING) AS day")
        df.write.partitionBy("day").parquet(path)
        # the older full-snapshot record: ``path``, no ``refs``
        snaps.append({
            "id": sid, "ts": 0.0, "path": path, "partition_by": ["day"],
            "properties": {}, "schema": json.loads(df.schema.json()),
            "fields": {"x": 1, "day": 2},
        })
    (root / "t" / "manifest.json").write_text(
        json.dumps({"snapshots": snaps, "current": snaps[1]["id"]})
    )
    cat = ParquetSnapshotCatalog(str(root))
    assert cat.read(spark, "t").count() == 5
    assert cat.read(spark, "t", snapshot_id=snaps[0]["id"]).count() == 3
    cat.drop_partitions_before(spark, "t", "day", "1")
    assert cat.read(spark, "t").count() == 2  # day=1 of the legacy dir
    assert cat.expire_snapshots("t", keep_last=1) == 2
    assert not os.path.exists(snaps[0]["path"])
    assert not os.path.exists(os.path.join(snaps[1]["path"], "day=0"))
    assert cat.read(spark, "t").count() == 2
    assert cat.current_snapshot("t")["fields"] == {"x": 1, "day": 2}


def test_overwrite_then_drop_all_keeps_read_dtypes(spark, tmp_path):
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    df = spark.createDataFrame(
        [("2024-01-01", 1.0), ("2024-01-02", 2.0)], "day string, v double"
    )
    cat.write_snapshot(df, "t", partition_by=["day"])
    cat.overwrite_partitions(
        spark, df.where("day = '2024-01-02'"), "t", "day", ["2024-01-02"]
    )
    before = cat.read(spark, "t").dtypes
    assert before == [("v", "double"), ("day", "date")]
    cat.drop_partitions_before(spark, "t", "day", "2099-01-01")
    out = cat.read(spark, "t")
    assert out.count() == 0
    assert out.dtypes == before


def test_overwrite_to_empty_keeps_read_dtypes(spark, tmp_path):
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    df = spark.createDataFrame(
        [("2024-01-01", 1.0), ("2024-01-01", 2.0)], "day string, v double"
    )
    cat.write_snapshot(df, "t", partition_by=["day"])
    before = cat.read(spark, "t").dtypes
    assert before == [("v", "double"), ("day", "date")]
    cat.overwrite_partitions(spark, df.limit(0), "t", "day", ["2024-01-01"])
    assert cat.current_snapshot("t")["refs"] == []
    out = cat.read(spark, "t")
    assert out.count() == 0
    assert out.dtypes == before


def test_unpartitioned_read_is_footer_free(spark, tmp_path):
    """No Spark job to read a whole-directory, unpartitioned snapshot,
    and the dtypes footer inference would give, also after a rename and
    an added column, and for a table of several appended groups."""
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    df = spark.sql(
        "SELECT CAST(id AS STRING) AS doc_id, array(CAST(id AS INT)) AS tokens, id AS n, "
        "id / 3 AS v, timestamp_seconds(id) AS ts, CAST(timestamp_seconds(id) AS TIMESTAMP_NTZ) "
        "AS ts_ntz, CAST(id AS DECIMAL(38, 0)) AS d, unhex('00ff') AS b FROM range(5)"
    )
    cat.write_snapshot(df, "t")
    path = cat.current_snapshot("t")["path"]
    tracker = spark.sparkContext.statusTracker()

    def read_without_jobs(table):
        last = max(tracker.getJobIdsForGroup(None), default=-1)
        out = cat.read(spark, table)
        assert [j for j in tracker.getJobIdsForGroup(None) if j > last] == []
        return out

    assert read_without_jobs("t").dtypes == spark.read.parquet(path).dtypes
    cat.rename_column("t", "v", "value")
    cat.add_column("t", "extra", "string")
    inferred = spark.read.parquet(path).withColumnRenamed("v", "value").withColumn(
        "extra", F.lit(None).cast("string"))
    out = read_without_jobs("t")
    assert out.dtypes == inferred.dtypes
    assert out.exceptAll(inferred).count() == 0 and inferred.exceptAll(out).count() == 0

    # a lineage table grown by three appends: three groups, one scan
    row = "unit string, stage string, snapshot string, rows_out long"
    for i in range(3):
        lineage.append_lineage(cat, spark, spark.createDataFrame([(f"u{i}", "s", "x", i)], row))
    assert len(cat.current_snapshot("lineage")["refs"]) == 3
    lin = read_without_jobs("lineage")
    assert lin._jdf.queryExecution().executedPlan().toString().count("FileScan parquet") == 1
    assert sorted(r.rows_out for r in lin.collect()) == [0, 1, 2]


def _snap_dirs(cat, table):
    return sorted(e for e in os.listdir(os.path.join(cat.root, table)) if e.startswith("snap-"))


def _rows(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id AS x", "CAST(id AS STRING) AS s")


def test_append_carries_the_committed_files_by_reference(spark, tmp_path):
    """An append lists the base's groups plus its own directory, leaves
    the committed files as they were (bytes and mtime), time-travels
    back to the base's rows, and survives ``expire_snapshots`` of the
    base record."""
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    cat.write_snapshot(_rows(spark, 0, 3), "t", properties={"batch_digests": ["a"]})
    base = cat.current_snapshot("t")
    files = _files(base["path"])
    snap = cat.stage(_rows(spark, 3, 5), "t", append=True)
    cat.publish([("t", snap, base["id"])])

    cur = cat.current_snapshot("t")
    assert cur["refs"] == base["refs"] + [{"basePath": cur["path"], "paths": None}]
    assert cur["properties"]["batch_digests"] == ["a"]
    assert _files(base["path"]) == files
    assert sorted(r.x for r in cat.read(spark, "t").collect()) == [0, 1, 2, 3, 4]
    assert sorted(r.x for r in cat.read(spark, "t", snapshot_id=base["id"]).collect()) == [0, 1, 2]
    assert cat.expire_snapshots("t", keep_last=1) == 1
    assert os.path.isdir(base["path"]) and _files(base["path"]) == files
    assert sorted(r.x for r in cat.read(spark, "t").collect()) == [0, 1, 2, 3, 4]


def test_append_with_other_columns_raises_before_writing(spark, tmp_path):
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    cat.write_snapshot(_rows(spark, 0, 3), "t")
    before = _snap_dirs(cat, "t")
    for df in (_rows(spark, 3, 5).selectExpr("CAST(x AS INT) AS x", "s"),
               _rows(spark, 3, 5).withColumn("extra", F.lit(1))):
        with pytest.raises(ValueError, match="append to 't'"):
            cat.stage(df, "t", append=True)
    assert _snap_dirs(cat, "t") == before
    assert cat.read(spark, "t").count() == 3


def test_two_appends_on_one_base_cannot_both_land(spark, tmp_path):
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    base = cat.write_snapshot(_rows(spark, 0, 3), "t")
    first = cat.stage(_rows(spark, 3, 5), "t", append=True)
    second = cat.stage(_rows(spark, 5, 9), "t", append=True)
    cat.publish([("t", first, base)])
    with pytest.raises(CommitConflict):
        cat.publish([("t", second, base)])
    assert not os.path.exists(second["path"])
    assert sorted(r.x for r in cat.read(spark, "t").collect()) == [0, 1, 2, 3, 4]


def _age(path, seconds):
    old = time.time() - seconds
    for root, dirs, files in os.walk(path):
        for n in (".", *dirs, *files):
            os.utime(os.path.join(root, n), (old, old))


def test_expire_reclaims_staged_dirs_of_a_killed_run(spark, tmp_path):
    """A run SIGKILLed between staging its tiers and publishing them
    leaves snap dirs no manifest references. expire_snapshots keeps
    them while they are fresh (a live writer's would be), takes them
    and lease tombstones once old, and spares an old dir an open
    intent still names and a fresh staged one."""
    inp, work = str(tmp_path / "input"), str(tmp_path / "work")
    generate_sequences(spark, 4000, partitions=4).write.parquet(inp)
    script = tmp_path / "child.py"
    script.write_text(CHILD.format(repo=REPO, inp=inp, work=work))
    child = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=900
    )
    assert child.returncode == -signal.SIGKILL, child.stdout + child.stderr
    assert "STAGED" in child.stdout

    cat = ParquetSnapshotCatalog(work)
    tables = ("compressed", "lineage", "tier_1m", "tier_1h", "tier_1d")

    def snap_dirs():
        return {
            os.path.join(work, t, e)
            for t in tables
            for e in os.listdir(os.path.join(work, t))
            if e.startswith("snap-")
        }

    live = {s["path"] for t in tables for s in cat.snapshots(t)}
    leaked = snap_dirs() - live
    assert {os.path.basename(os.path.dirname(p)) for p in leaked} == {
        "lineage", "tier_1m", "tier_1h", "tier_1d"}

    rows = spark.range(3).select(F.col("id").alias("x"))
    fresh = cat.stage(rows, "tier_1m")["path"]
    held = cat.stage(rows, "tier_1h")
    intent = os.path.join(work, ".pending-group-held.json")
    with open(intent, "w") as f:
        json.dump([{"table": "tier_1h", "snap": held}], f)
    tomb = os.path.join(work, "tier_1d", ".commit-lock.dead-0")
    os.makedirs(tomb)
    with open(os.path.join(tomb, "owner.json"), "w") as f:
        json.dump({"pid": 0}, f)

    for t in tables:  # everything fresh: nothing goes
        cat.expire_snapshots(t, keep_last=10)
    assert snap_dirs() == live | leaked | {fresh, held["path"]} and os.path.isdir(tomb)

    for p in (*leaked, held["path"], tomb):
        _age(p, ORPHAN_AGE_S + 60)
    for t in tables:
        cat.expire_snapshots(t, keep_last=10)
    assert snap_dirs() == live | {fresh, held["path"]} and not os.path.exists(tomb)
    assert cat.read(spark, "compressed").count() > 0
    os.remove(intent)

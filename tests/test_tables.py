"""Catalog snapshot shape: manifests written before ``refs`` existed
still read, time-travel, take partition edits and expire; and a table
emptied by a TTL drop or a partition overwrite reads back with the
columns and types it had."""

from __future__ import annotations

import json
import os

from tstoolbox_spark.tables import ParquetSnapshotCatalog


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

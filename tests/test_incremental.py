"""Incremental continuous-aggregate refresh (late-arriving data).

Semantics anchor: the refreshed tier must equal a FULL recompute of
tstoolbox ``aggregate`` over raw ∪ late
(/root/reference/tstoolbox/functions/aggregate.py:237-239) — here
asserted bit-for-bit against rollup_base over the unioned raw input.

Scale property under test: the catalog-level refresh rewrites ONLY the
day partitions the late batch touches; every untouched day directory of
the previous snapshot is carried by reference (Iceberg
``overwritePartitions`` semantics) — checked on the manifest itself.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tstoolbox_spark.datagen import generate_sequences
from tstoolbox_spark.pipeline import incremental, rollup
from tstoolbox_spark.tables import ParquetSnapshotCatalog
from tstoolbox_spark.timeaxis import with_time_axis

N = 3000


@pytest.fixture(scope="module")
def seq(spark):
    df = with_time_axis(generate_sequences(spark, N, partitions=4))
    df.persist().count()
    return df


@pytest.fixture(scope="module")
def split(seq):
    """On-time rows vs a 'late' slice (two specific days' worth)."""
    late_days = ("2024-01-05", "2024-01-06")
    is_late = F.date_format("ts", "yyyy-MM-dd").isin(*late_days)
    on_time = seq.where(~is_late)
    late = seq.where(is_late)
    assert late.count() > 0
    return on_time, late, late_days


def _sorted_rows(df):
    cols = sorted(df.columns)
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_incremental_refresh_equals_full_recompute(spark, seq, split):
    on_time, late, _ = split
    existing = rollup.rollup_base(on_time, "1m")
    refreshed = incremental.incremental_tier_refresh(existing, late, "1m")
    full = rollup.rollup_base(seq, "1m")
    assert _sorted_rows(refreshed) == _sorted_rows(full)


def test_merge_partials_idempotent(spark, seq):
    tier = rollup.rollup_base(seq, "1m")
    merged = incremental.merge_partials(tier, "1m")
    assert _sorted_rows(merged) == _sorted_rows(tier)


def test_catalog_refresh_overwrites_only_touched_days(spark, seq, split, tmp_path):
    on_time, late, late_days = split
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    base_parts = rollup.day_partition(rollup.rollup_base(on_time, "1m"))
    base_sid = cat.write_snapshot(base_parts, "tier_1m", partition_by=["day"])
    base_dir = cat.current_snapshot("tier_1m")["path"]

    sid = incremental.refresh_tier_snapshot(cat, spark, "tier_1m", late, "1m")
    snap = cat.current_snapshot("tier_1m")
    assert snap["id"] == sid and snap.get("refs")

    # value parity with a full recompute over raw ∪ late
    got = cat.read(spark, "tier_1m").drop("day")
    full = rollup.rollup_base(seq, "1m")
    assert _sorted_rows(got) == _sorted_rows(full)

    # manifest shape: untouched days carried by reference into the OLD
    # snapshot dir; the touched days live ONLY in the new snapshot dir
    by_base = {g["basePath"]: g["paths"] for g in snap["refs"]}
    assert base_dir in by_base
    old_days = {os.path.basename(p).split("=", 1)[1] for p in by_base[base_dir]}
    assert not old_days & set(late_days)
    new_base = snap["path"]
    assert new_base != base_dir and new_base in by_base
    new_days = {os.path.basename(p).split("=", 1)[1] for p in by_base[new_base]}
    assert set(late_days) <= new_days
    # time travel to the pre-refresh snapshot still works
    assert cat.read(spark, "tier_1m", snapshot_id=base_sid).count() == (
        base_parts.count()
    )


def test_refresh_empty_late_batch_is_noop(spark, seq, tmp_path):
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    parts = rollup.day_partition(rollup.rollup_base(seq, "1m"))
    sid = cat.write_snapshot(parts, "tier_1m", partition_by=["day"])
    got = incremental.refresh_tier_snapshot(
        cat, spark, "tier_1m", seq.limit(0), "1m"
    )
    assert got == sid


def test_ttl_and_expire_on_overwrite_snapshot(spark, seq, split, tmp_path):
    on_time, late, late_days = split
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    base_parts = rollup.day_partition(rollup.rollup_base(on_time, "1m"))
    cat.write_snapshot(base_parts, "tier_1m", partition_by=["day"])
    incremental.refresh_tier_snapshot(cat, spark, "tier_1m", late, "1m")

    # TTL drop on a refs snapshot: metadata-only, filters every group
    cat.drop_partitions_before(spark, "tier_1m", "day", "2024-01-06")
    days = {
        str(r["day"])
        for r in cat.read(spark, "tier_1m").select("day").distinct().collect()
    }
    assert min(days) >= "2024-01-06" and "2024-01-06" in days

    # expire everything but the TTL'd snapshot: partition dirs still
    # referenced (old + new bases) survive; dropped days are reclaimed
    cat.expire_snapshots("tier_1m", keep_last=1)
    got_days = {
        str(r["day"])
        for r in cat.read(spark, "tier_1m").select("day").distinct().collect()
    }
    assert got_days == days
    # parity for the retained span vs full recompute
    full = rollup.day_partition(rollup.rollup_base(seq, "1m")).where(
        F.col("day") >= "2024-01-06"
    )
    got = cat.read(spark, "tier_1m").withColumn(
        "day", F.col("day").cast("string")
    )  # partition-dir day reads back as DATE; normalize for compare
    assert _sorted_rows(got) == _sorted_rows(full)


def test_schema_evolution_over_overwrite_snapshot(spark, seq, split, tmp_path):
    on_time, late, _ = split
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    cat.write_snapshot(
        rollup.day_partition(rollup.rollup_base(on_time, "1m")),
        "tier_1m",
        partition_by=["day"],
    )
    incremental.refresh_tier_snapshot(cat, spark, "tier_1m", late, "1m")
    cat.rename_column("tier_1m", "n_tok_sum", "tok_sum")
    df = cat.read(spark, "tier_1m")
    assert "tok_sum" in df.columns and "n_tok_sum" not in df.columns
    assert df.count() == rollup.rollup_base(seq, "1m").count()


def test_refresh_all_tiers_matches_full_rebuild(spark, seq, split, tmp_path):
    """End-to-end incremental cascade: after folding the late batch,
    every tier equals a from-scratch rebuild over raw ∪ late."""
    on_time, late, late_days = split
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    base_1m = rollup.rollup_base(on_time, "1m")
    cat.write_snapshot(
        rollup.day_partition(base_1m), "tier_1m", partition_by=["day"]
    )
    cat.write_snapshot(
        rollup.day_partition(rollup.rollup_cascade(base_1m, "1h")),
        "tier_1h",
        partition_by=["day"],
    )
    cat.write_snapshot(
        rollup.day_partition(rollup.rollup_cascade(base_1m, "1d")),
        "tier_1d",
        partition_by=["day"],
    )
    sids = incremental.refresh_all_tiers(cat, spark, late)
    assert set(sids) == {"1m", "1h", "1d"}

    full_1m = rollup.rollup_base(seq, "1m")
    expected = {
        "tier_1m": full_1m,
        "tier_1h": rollup.rollup_cascade(full_1m, "1h"),
        "tier_1d": rollup.rollup_cascade(rollup.rollup_cascade(full_1m, "1h"), "1d"),
    }
    for tbl, exp in expected.items():
        got = cat.read(spark, tbl).drop("day")
        assert _sorted_rows(got) == _sorted_rows(exp), tbl
    # coarser tiers only rewrote the touched days
    snap_1d = cat.current_snapshot("tier_1d")
    new_days = {
        os.path.basename(p).split("=", 1)[1]
        for g in snap_1d["refs"]
        if g["basePath"] == snap_1d["path"]
        for p in g["paths"]
    }
    assert new_days == set(late_days)


def test_compact_partitions_preserves_rows(spark, seq, tmp_path):
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    parts = rollup.day_partition(rollup.rollup_base(seq, "1m")).repartition(8)
    cat.write_snapshot(parts, "tier_1m", partition_by=["day"])
    before = cat.read(spark, "tier_1m")
    n, tot = before.count(), before.agg({"n_tok_sum": "sum"}).collect()[0][0]
    sid = cat.compact_partitions(spark, "tier_1m", "day")
    after = cat.read(spark, "tier_1m")
    assert after.count() == n
    assert after.agg({"n_tok_sum": "sum"}).collect()[0][0] == tot
    # every live partition now holds exactly one data file
    snap = cat.current_snapshot("tier_1m")
    assert snap["id"] == sid
    for g in snap["refs"]:
        for p in g["paths"]:
            files = [f for f in os.listdir(p) if f.endswith(".parquet")]
            assert len(files) == 1, p


def test_snapshot_diff_surfaces_changes(spark, seq, split, tmp_path):
    on_time, late, _ = split
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    s1 = cat.write_snapshot(
        rollup.day_partition(rollup.rollup_base(on_time, "1m")),
        "tier_1m",
        partition_by=["day"],
    )
    s2 = incremental.refresh_tier_snapshot(cat, spark, "tier_1m", late, "1m")
    d = cat.snapshot_diff(spark, "tier_1m", s1, s2)
    added, removed = d["added"].count(), d["removed"].count()
    assert added > 0  # late batch created/updated buckets
    # every changed bucket is on a late day
    late_parts = rollup.rollup_base(late, "1m")
    n_late_buckets = late_parts.count()
    assert added <= n_late_buckets and removed <= n_late_buckets


def test_refresh_keeps_the_tier_day_layout(spark, seq, split, tmp_path):
    """A refreshed day is written like the pipeline writes it: in every
    tier, each day's file, touched or carried, is ordered by
    (source, ts), so its row-group stats still skip by source and
    time."""
    import pyarrow.parquet as pq

    on_time, late, late_days = split
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    base_1m = rollup.rollup_base(on_time, "1m")
    tiers = {
        "1m": base_1m,
        "1h": rollup.rollup_cascade(base_1m, "1h"),
        "1d": rollup.rollup_cascade(base_1m, "1d"),
    }
    for tier, df in tiers.items():
        cat.write_snapshot(
            rollup.day_layout(df), f"tier_{tier}", partition_by=["day"]
        )
    incremental.refresh_all_tiers(cat, spark, late)
    for table in ("tier_1m", "tier_1h", "tier_1d"):
        snap = cat.current_snapshot(table)
        (new_days,) = [g["paths"] for g in snap["refs"] if g["basePath"] == snap["path"]]
        assert len(new_days) == len(late_days), table
        for day_dir in [p for g in snap["refs"] for p in g["paths"]]:
            files = [f for f in os.listdir(day_dir) if f.endswith(".parquet")]
            assert files, day_dir
            for f in files:
                t = pq.read_table(os.path.join(day_dir, f), columns=["source", "ts"])
                keys = list(zip(t["source"].to_pylist(), t["ts"].to_pylist()))
                assert keys == sorted(keys), (table, day_dir)

"""Multi-table atomic commits (several ``stage`` records, one
``publish``): all-or-nothing visibility, conflict abort, and crash
roll-forward via the write-ahead intent file.
"""

from __future__ import annotations

import json
import os

import pytest

from tstoolbox_spark.tables import CommitConflict, ParquetSnapshotCatalog


def _df(spark, n):
    return spark.range(n).withColumnRenamed("id", "x")


def test_commit_group_lands_both_tables(spark, tmp_path):
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    staged = [(t, cat.stage(_df(spark, n), t), None) for t, n in (("a", 5), ("b", 9))]
    cat.publish(staged)
    sids = {t: s["id"] for t, s, _ in staged}
    assert set(sids) == {"a", "b"}
    assert {t: cat.current_snapshot(t)["id"] for t in sids} == sids
    assert cat.read(spark, "a").count() == 5
    assert cat.read(spark, "b").count() == 9
    assert not [
        e for e in os.listdir(cat.root) if e.startswith(".pending-group-")
    ]


def test_commit_group_conflict_aborts_everything(spark, tmp_path):
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    s_a = cat.write_snapshot(_df(spark, 3), "a")
    cat.write_snapshot(_df(spark, 4), "b")
    with pytest.raises(CommitConflict):
        cat.publish([
            ("a", cat.stage(_df(spark, 10), "a"), s_a),
            ("b", cat.stage(_df(spark, 10), "b"), "stale-id"),
        ])
    # neither table moved, no orphan data dirs, no intent left behind
    assert cat.read(spark, "a").count() == 3
    assert cat.read(spark, "b").count() == 4
    assert len([d for d in os.listdir(os.path.join(cat.root, "a")) if d.startswith("snap-")]) == 1
    assert len([d for d in os.listdir(os.path.join(cat.root, "b")) if d.startswith("snap-")]) == 1
    assert not [
        e for e in os.listdir(cat.root) if e.startswith(".pending-group-")
    ]


def test_recover_pending_rolls_group_forward(spark, tmp_path):
    """Simulate a crash after the first manifest swap: the intent file
    exists, table 'a' swapped, table 'b' did not. recover_pending must
    finish the group idempotently."""
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    cat.write_snapshot(_df(spark, 1), "a")
    cat.write_snapshot(_df(spark, 1), "b")
    snap_a = cat.stage(_df(spark, 7), "a")
    snap_b = cat.stage(_df(spark, 8), "b")
    intent = os.path.join(cat.root, ".pending-group-test.json")
    with open(intent, "w") as f:
        json.dump(
            [{"table": "a", "snap": snap_a}, {"table": "b", "snap": snap_b}],
            f,
        )
    # crash point: only a's manifest swapped
    m = cat._read_manifest("a")
    m["snapshots"].append(snap_a)
    m["current"] = snap_a["id"]
    cat._write_manifest("a", m)

    assert cat.recover_pending() == 1
    assert cat.read(spark, "a").count() == 7
    assert cat.read(spark, "b").count() == 8
    # idempotent: nothing pending, second call repairs nothing
    assert cat.recover_pending() == 0
    # a's manifest holds snap_a exactly once
    ids = [s["id"] for s in cat.snapshots("a")]
    assert ids.count(snap_a["id"]) == 1

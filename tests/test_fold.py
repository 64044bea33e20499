"""``partials.fold``: one staged, replay-safe commit group per batch.

Semantics anchor: after a fold, every tier equals ``partials.base``
over raw ∪ batch, for every exact time family. On top of that: a
re-delivered batch (same rows, any order) is a no-op; a writer killed
between staging and publish moves no tier, and its retry equals an
uninterrupted run; a refresh is one manifest swap per table within a
locked Spark job budget.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from tstoolbox_spark.datagen import generate_sequences
from tstoolbox_spark.pipeline import incremental, partials, rollup
from tstoolbox_spark.tables import ParquetSnapshotCatalog
from tstoolbox_spark.timeaxis import with_time_axis

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N = 3000
KEYS = ("source",)
TIERS = tuple(rollup.TIER_ORDER)
TABLES = [f"tier_{t}" for t in TIERS]
#: every exact family with a time bucket; PHLL counts distinct doc ids
#: here (sequences carry no user id)
FAMILIES = {
    "rollup": partials.ROLLUP,
    "hist": partials.HIST,
    "ddsketch": partials.DDSKETCH,
    "phll": replace(partials.PHLL, defaults={"value_col": "doc_id"}),
    "cms": partials.CMS,
}


@pytest.fixture(scope="module")
def seq(spark):
    df = with_time_axis(generate_sequences(spark, N, partitions=4))
    df.persist().count()
    return df


@pytest.fixture(scope="module")
def split(seq):
    """On-time rows and a late batch that lands on two days."""
    is_late = F.date_format("ts", "yyyy-MM-dd").isin("2024-01-05", "2024-01-06")
    return seq.where(~is_late), seq.where(is_late)


def _same(got, want, what):
    want = want.drop("day")
    got = got.drop("day").select(*want.columns)
    assert got.dtypes == want.dtypes, what
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0, what


def _currents(cat, tables):
    return {t: (cat.current_snapshot(t) or {}).get("id") for t in tables}


def _rollup_tiers(cat, rows):
    partials.fold(cat, partials.ROLLUP, rows, KEYS, TIERS)


@pytest.mark.parametrize("name", sorted(FAMILIES))
def test_fold_onto_base_tiers_equals_base_over_all_rows(spark, seq, split, tmp_path, name):
    spec = FAMILIES[name]
    on_time, late = split
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    for t in TIERS:
        tier = rollup.day_layout(partials.base(spec, on_time, t, KEYS), KEYS)
        cat.write_snapshot(tier, f"{spec.prefix}{t}", partition_by=["day"])
    ids = partials.fold(cat, spec, late, KEYS, TIERS)
    for t in TIERS:
        assert ids[t] == cat.current_snapshot(f"{spec.prefix}{t}")["id"]
        _same(cat.read(spark, f"{spec.prefix}{t}"), partials.base(spec, seq, t, KEYS), (name, t))


def test_fold_into_empty_catalog_equals_base(spark, seq, tmp_path):
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    _rollup_tiers(cat, seq)
    for t in TIERS:
        _same(cat.read(spark, f"tier_{t}"), rollup.rollup_base(seq, t), t)
        assert cat.current_snapshot(f"tier_{t}")["properties"]["batch_digest"]
    units = cat.read(spark, "lineage").where(F.col("stage") == "tier_1m")
    assert units.count() == units.select("unit").distinct().count() > 0


def test_fold_refuses_a_partial_tier_set(spark, split, tmp_path):
    """With only the finest tier committed, the coarser tiers cannot be
    rebuilt from the touched days: the fold raises and writes nothing."""
    on_time, late = split
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    tier = rollup.day_layout(rollup.rollup_base(on_time, "1m"))
    sid = cat.write_snapshot(tier, "tier_1m", partition_by=["day"])
    with pytest.raises(FileNotFoundError, match="all must exist"):
        incremental.refresh_all_tiers(cat, spark, late)
    assert sorted(os.listdir(cat.root)) == ["tier_1m"]
    assert [s["id"] for s in cat.snapshots("tier_1m")] == [sid]


def test_folding_a_batch_twice_equals_folding_it_once(spark, seq, split, tmp_path):
    """The second delivery, even reordered and repartitioned, matches
    the digest the first recorded, so it adds no snapshot to any table
    and counts no row twice."""
    on_time, late = split
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    _rollup_tiers(cat, on_time)
    first = incremental.refresh_all_tiers(cat, spark, late)
    snaps = {t: len(cat.snapshots(t)) for t in [*TABLES, "lineage"]}
    again = incremental.refresh_all_tiers(cat, spark, late.repartition(3).orderBy(F.rand(7)))
    assert again == first
    assert {t: len(cat.snapshots(t)) for t in snaps} == snaps
    for t in TIERS:
        _same(cat.read(spark, f"tier_{t}"), rollup.rollup_base(seq, t), t)


def test_replay_is_caught_after_the_applying_record_expires(spark, tmp_path):
    """Fold A, A, B, then expire every table to its current record, and
    fold A again: A is still known (the digests applied so far ride in
    every later record, through metadata-only children too), so nothing
    is counted twice. A catalog whose records carry only the single
    ``batch_digest`` still turns a replay away."""
    seq = with_time_axis(generate_sequences(spark, 2000, partitions=4)).persist()
    day = F.date_format("ts", "yyyy-MM-dd")
    a, b = seq.where(day == "2024-01-05"), seq.where(day == "2024-01-06")
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    _rollup_tiers(cat, seq.where(~day.isin("2024-01-05", "2024-01-06")))

    def total():
        return cat.read(spark, "tier_1d").agg(F.sum("n_tok_count")).first()[0]

    def strip_digest_sets():  # as a catalog from before the carried set
        path = cat._manifest_path("tier_1m")
        with open(path) as f:
            m = json.load(f)
        for s in m["snapshots"]:
            s["properties"].pop("batch_digests", None)
        with open(path, "w") as f:
            json.dump(m, f)

    try:
        _rollup_tiers(cat, a)
        once = total()
        strip_digest_sets()
        _rollup_tiers(cat, a)
        assert total() == once < 2000
        _rollup_tiers(cat, b)
        assert total() == 2000
        cat.drop_partitions_before(spark, "tier_1m", "day", "2000-01-01")
        for t in [*TABLES, "lineage"]:
            cat.expire_snapshots(t, keep_last=1)
        _rollup_tiers(cat, a)
        assert total() == 2000
    finally:
        seq.unpersist()


def test_refresh_is_one_commit_group_within_the_job_budget(spark, split, tmp_path, monkeypatch):
    """One publish, one manifest swap per table, and at most 12 Spark
    jobs (19 when each tier was its own commit and 1h/1d re-read the
    1m tier just written)."""
    on_time, late = split
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    _rollup_tiers(cat, on_time)
    swaps, publishes = [], []
    write_manifest, publish = ParquetSnapshotCatalog._write_manifest, ParquetSnapshotCatalog.publish

    def counted_swap(self, table, manifest):
        swaps.append(table)
        write_manifest(self, table, manifest)

    def counted_publish(self, commits, intent=None):
        publishes.append([t for t, _, _ in commits])
        publish(self, commits, intent)

    monkeypatch.setattr(ParquetSnapshotCatalog, "_write_manifest", counted_swap)
    monkeypatch.setattr(ParquetSnapshotCatalog, "publish", counted_publish)
    tracker = spark.sparkContext.statusTracker()
    last = max(tracker.getJobIdsForGroup(None), default=-1)
    incremental.refresh_all_tiers(cat, spark, late)
    jobs = [j for j in tracker.getJobIdsForGroup(None) if j > last]
    assert 0 < len(jobs) <= 12, len(jobs)
    assert publishes == [[*TABLES, "lineage"]]
    assert sorted(swaps) == sorted([*TABLES, "lineage"])


def test_fold_appends_only_its_own_lineage_rows(spark, split, tmp_path):
    """A fold's lineage snapshot adds one file holding that fold's rows
    alone; the earlier folds' rows are carried by reference."""
    on_time, late = split
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    _rollup_tiers(cat, on_time)
    first = cat.current_snapshot("lineage")
    _rollup_tiers(cat, late)
    second = cat.current_snapshot("lineage")
    assert second["refs"] == first["refs"] + [{"basePath": second["path"], "paths": None}]
    assert len([f for f in os.listdir(second["path"]) if f.endswith(".parquet")]) == 1
    own = spark.read.parquet(second["path"])
    assert {r.snapshot for r in own.select("snapshot").distinct().collect()} == {
        cat.current_snapshot(t)["id"] for t in TABLES}
    assert cat.read(spark, "lineage").count() == (
        spark.read.parquet(first["path"]).count() + own.count())


CHILD = """
import os, signal, sys
sys.path.insert(0, {repo!r})
from tstoolbox_spark.pipeline import incremental
from tstoolbox_spark.session import get_spark
from tstoolbox_spark.tables import ParquetSnapshotCatalog

publish = ParquetSnapshotCatalog.publish

def publish_or_die(self, commits, intent=None):
    if any(t == "tier_1m" for t, _, _ in commits):
        if all(os.path.isdir(s["path"]) for _, s, _ in commits):
            print("STAGED", flush=True)
        os.kill(os.getpid(), signal.SIGKILL)
    publish(self, commits, intent)

ParquetSnapshotCatalog.publish = publish_or_die
spark = get_spark("fold_kill_before_publish", parallelism=2, driver_memory="2g")
incremental.refresh_all_tiers(ParquetSnapshotCatalog({work!r}), spark, spark.read.parquet({late!r}))
"""


def test_sigkill_between_staging_and_publish_moves_no_tier(spark, split, tmp_path):
    on_time, late = split
    work, ctrl, late_dir = (str(tmp_path / d) for d in ("work", "ctrl", "late"))
    late.write.parquet(late_dir)
    for root in (work, ctrl):
        _rollup_tiers(ParquetSnapshotCatalog(root), on_time)
    cat = ParquetSnapshotCatalog(work)
    tables = [*TABLES, "lineage"]
    before = (_currents(cat, tables), {t: len(cat.snapshots(t)) for t in tables})

    script = tmp_path / "child.py"
    script.write_text(CHILD.format(repo=REPO, work=work, late=late_dir))
    child = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=900
    )
    assert child.returncode == -signal.SIGKILL, child.stdout + child.stderr
    assert "STAGED" in child.stdout
    assert (_currents(cat, tables), {t: len(cat.snapshots(t)) for t in tables}) == before

    incremental.refresh_all_tiers(cat, spark, spark.read.parquet(late_dir))
    want = ParquetSnapshotCatalog(ctrl)
    incremental.refresh_all_tiers(want, spark, late)
    for t in TABLES:
        _same(cat.read(spark, t), want.read(spark, t), t)

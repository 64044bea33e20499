"""Adversarial crash-resume (VERDICT r3 #7): SIGKILL a pipeline run
mid-tier-write in a SEPARATE process, let a second writer commit to the
same catalog while the first is down (maintenance compaction — the
realistic interleaving), resume, and require:

  * final 1m/1h/1d tables identical to an uninterrupted control run,
  * no compress work unit processed twice (lineage stays unique),
  * every tier's current snapshot has exactly one lineage row per unit,
  * a writer whose base snapshot went stale surfaces CommitConflict.

Row count is env-tunable (SPARK_GRAFT_KILLTEST_ROWS, default 200k so
the per-commit gate stays fast); the round's recorded adversarial run
uses 4_000_000 — see BENCH/BASELINE.md.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from tstoolbox_spark.datagen import generate_sequences
from tstoolbox_spark.pipeline.runner import run_pipeline
from tstoolbox_spark.tables import CommitConflict, ParquetSnapshotCatalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_ROWS = int(os.environ.get("SPARK_GRAFT_KILLTEST_ROWS", "200000"))

CHILD = """
import sys
sys.path.insert(0, {repo!r})
from tstoolbox_spark.session import get_spark
from tstoolbox_spark.pipeline.runner import run_pipeline

spark = get_spark("kill_child", parallelism=8, driver_memory="6g")
seq = spark.read.parquet({inp!r})
run_pipeline(spark, seq, {work!r}, n_buckets=16,
             target_rows_per_cell=100000, verify=True)
print("CHILD_DONE", flush=True)
"""


def _tiers_equal(spark, cat_a, cat_b, tier):
    a = cat_a.read(spark, tier)
    b = cat_b.read(spark, tier)
    assert a.count() == b.count(), tier
    assert a.exceptAll(b).count() == 0, tier
    assert b.exceptAll(a).count() == 0, tier


def test_kill_mid_tier_write_then_concurrent_commit_then_resume(
    spark, tmp_path
):
    inp = str(tmp_path / "input")
    generate_sequences(spark, N_ROWS, partitions=8).write.parquet(inp)

    # ---- control: uninterrupted run ---------------------------------
    ctrl = str(tmp_path / "ctrl")
    m = run_pipeline(
        spark, spark.read.parquet(inp), ctrl, n_buckets=16,
        target_rows_per_cell=100_000, verify=True,
    )
    assert m["roundtrip"]["mismatched"] == 0

    # ---- victim: separate process, SIGKILLed during tier writes -----
    work = str(tmp_path / "work")
    script = tmp_path / "child.py"
    script.write_text(CHILD.format(repo=REPO, inp=inp, work=work))
    child = subprocess.Popen(
        [sys.executable, str(script)],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
    )
    # kill as soon as the 1m tier manifest lands — the 1h/1d writes
    # are in flight at that instant
    manifest_1m = os.path.join(work, "tier_1m", "manifest.json")
    deadline = time.time() + 900
    killed = False
    while time.time() < deadline:
        if child.poll() is not None:
            break  # finished before we could kill (tiny input)
        if os.path.exists(manifest_1m):
            os.kill(child.pid, signal.SIGKILL)
            killed = True
            break
        time.sleep(0.05)
    child.wait(timeout=60)
    assert killed, "child finished before the kill window — raise N_ROWS"

    # crashed catalog is readable: 1m intact, later tiers absent or whole
    cat = ParquetSnapshotCatalog(work)
    assert cat.exists("tier_1m")
    n_1m_after_crash = cat.read(spark, "tier_1m").count()
    assert n_1m_after_crash > 0

    # ---- second writer commits while the victim is down -------------
    # realistic maintenance interleaving: compaction rewrites tier_1m's
    # current snapshot (row-preserving) between crash and resume
    base = cat.current_snapshot("tier_1m")["id"]
    cat.compact_partitions(spark, "tier_1m", "day")
    assert cat.read(spark, "tier_1m").count() == n_1m_after_crash
    # a writer still based on the pre-compaction snapshot must conflict
    with pytest.raises(CommitConflict):
        cat.write_snapshot(
            cat.read(spark, "tier_1m"), "tier_1m", partition_by=["day"],
            expected_current=base,
        )

    # ---- resume ------------------------------------------------------
    m2 = run_pipeline(
        spark, spark.read.parquet(inp), work, n_buckets=16,
        target_rows_per_cell=100_000, verify=True,
    )
    assert m2["cells_pending"] == 0, "compress must resume, not redo"
    assert m2["roundtrip"]["mismatched"] == 0

    # ---- convergence vs control --------------------------------------
    ctrl_cat = ParquetSnapshotCatalog(ctrl)
    for tier in ("tier_1m", "tier_1h", "tier_1d"):
        _tiers_equal(spark, ctrl_cat, cat, tier)

    # ---- lineage invariants ------------------------------------------
    lin = cat.read(spark, "lineage")
    # compress units processed exactly once across crash + resume
    comp_dupes = (
        lin.filter(F.col("stage") == "compress")
        .groupBy("unit").count().filter(F.col("count") > 1).count()
    )
    assert comp_dupes == 0
    # each tier's CURRENT snapshot carries exactly one row per unit
    for tier in ("1m", "1h", "1d"):
        cur = cat.current_snapshot(f"tier_{tier}")["id"]
        cur_rows = lin.filter(
            (F.col("stage") == f"tier_{tier}") & (F.col("snapshot") == cur)
        )
        dup = (
            cur_rows.groupBy("unit").count()
            .filter(F.col("count") > 1).count()
        )
        assert dup == 0
        assert cur_rows.count() > 0


LOCK_CHILD = """
import sys, time
sys.path.insert(0, {repo!r})
from tstoolbox_spark.tables import ParquetSnapshotCatalog

ParquetSnapshotCatalog({root!r})._acquire_lock("t")
print("LOCKED", flush=True)
time.sleep(600)
"""


def test_commit_after_sigkill_inside_commit_lock(spark, tmp_path):
    """A committer SIGKILLed while holding the commit lock leaves a
    lease whose owner is gone: the next commit breaks it and lands in
    seconds instead of timing out. A live holder is never broken."""
    root = str(tmp_path / "cat")
    child = subprocess.Popen(
        [sys.executable, "-c", LOCK_CHILD.format(repo=REPO, root=root)],
        stdout=subprocess.PIPE, text=True,
    )
    assert child.stdout.readline().strip() == "LOCKED"
    cat = ParquetSnapshotCatalog(root)
    with pytest.raises(TimeoutError):
        cat._acquire_lock("t", timeout=0.5)  # holder alive: wait it out
    os.kill(child.pid, signal.SIGKILL)
    child.wait(timeout=60)

    t0 = time.monotonic()
    sid = cat.write_snapshot(spark.range(3), "t")
    assert time.monotonic() - t0 < 10
    assert cat.current_snapshot("t")["id"] == sid
    assert cat.read(spark, "t").count() == 3


COUNTER_CHILD = """
import sys
sys.path.insert(0, {repo!r})
from tstoolbox_spark.tables import ParquetSnapshotCatalog

cat = ParquetSnapshotCatalog({root!r})
for _ in range({n}):
    cat._acquire_lock("t")
    try:
        with open({path!r}) as f:
            v = int(f.read())
        with open({path!r}, "w") as f:
            f.write(str(v + 1))
    finally:
        cat._release_lock("t")
"""


def test_commit_lock_excludes_concurrent_holders(tmp_path):
    """More committing processes than cores, each doing read-modify-
    write under the lease: a lost update means two holders at once."""
    workers, n = 2 * (os.cpu_count() or 2), 25
    counter = tmp_path / "counter"
    counter.write_text("0")
    script = COUNTER_CHILD.format(
        repo=REPO, root=str(tmp_path / "cat"), n=n, path=str(counter)
    )
    procs = [subprocess.Popen([sys.executable, "-c", script]) for _ in range(workers)]
    assert [p.wait(timeout=300) for p in procs] == [0] * workers
    assert int(counter.read_text()) == workers * n

"""run_pipeline's commit discipline and job budget: a fresh run stays
within 15 Spark jobs and writes the one tier layout; every snapshot is
staged, verified, then published as one commit group, so a round-trip
mismatch publishes nothing; a resume appends the pending cells and
carries the committed blobs by reference; a commit group a crash left
half-applied is rolled forward when the next run starts; a SIGKILL
between a tier's staging and its publish resumes to the control run's
tiers.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tstoolbox_spark.datagen import generate_sequences
from tstoolbox_spark.pipeline import compress
from tstoolbox_spark.pipeline.runner import run_pipeline
from tstoolbox_spark.tables import ParquetSnapshotCatalog
from tstoolbox_spark.timeaxis import with_time_axis

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N = 4000
TABLES = ("compressed", "lineage", "tier_1m", "tier_1h", "tier_1d")
#: whole sources: a source's cells depend only on its own rows, so the
#: cells of a run over these sources are cells of the run over all
HALF = ("src0", "src2")


@pytest.fixture(scope="module")
def seq(spark):
    df = generate_sequences(spark, N, partitions=4)
    df.persist().count()
    return df


def _run(spark, df, work, **kw):
    return run_pipeline(spark, df, work, n_buckets=4, target_rows_per_cell=500, **kw)


def _currents(cat):
    return {t: (cat.current_snapshot(t) or {}).get("id") for t in TABLES}


def _dirs(work):
    return {
        t: sorted(os.listdir(os.path.join(work, t)))
        for t in TABLES
        if os.path.isdir(os.path.join(work, t))
    }


def _intents(work):
    return [e for e in os.listdir(work) if e.startswith(".pending-group-")]


def _files(path):
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[p] = (os.stat(p).st_mtime_ns, f.read())
    return out


def test_fresh_run_job_budget_and_tier_layout(spark, seq, tmp_path):
    """At most 15 Spark jobs (41 before the observed-metrics runner),
    and every tier day directory holds one file in (source, ts) order —
    the layout ``rollup.day_layout`` defines, kept by the cascades that
    reuse the cached 1m clustering."""
    work = str(tmp_path / "w")
    tracker = spark.sparkContext.statusTracker()
    last = max(tracker.getJobIdsForGroup(None), default=-1)
    m = _run(spark, seq, work)
    jobs = [j for j in tracker.getJobIdsForGroup(None) if j > last]
    assert 0 < len(jobs) <= 15, len(jobs)
    assert m["sequences"] == N and m["roundtrip"]["mismatched"] == 0

    cat = ParquetSnapshotCatalog(work)
    for tier in ("tier_1m", "tier_1h", "tier_1d"):
        base = cat.current_snapshot(tier)["path"]
        days = [d for d in os.listdir(base) if d.startswith("day=")]
        assert len(days) == 30, tier
        for d in days:
            (f,) = [f for f in os.listdir(os.path.join(base, d)) if f.endswith(".parquet")]
            t = pq.read_table(os.path.join(base, d, f), columns=["source", "ts"])
            keys = list(zip(t["source"].to_pylist(), t["ts"].to_pylist()))
            assert keys == sorted(keys), (tier, d)


def test_resume_appends_pending_cells_by_reference(spark, seq, tmp_path):
    work = str(tmp_path / "w")
    m1 = _run(spark, seq.where(F.col("source").isin(*HALF)), work)
    cat = ParquetSnapshotCatalog(work)
    first = cat.current_snapshot("compressed")
    blobs = _files(first["path"])

    m2 = _run(spark, seq, work)
    assert m2["roundtrip"]["mismatched"] == 0
    assert 0 < m2["cells_pending"]
    cur = cat.current_snapshot("compressed")
    assert cur["refs"] == first["refs"] + [{"basePath": cur["path"], "paths": None}]
    assert _files(first["path"]) == blobs  # committed blobs untouched
    n_cells = m1["cells_pending"] + m2["cells_pending"]
    assert cat.read(spark, "compressed").count() == n_cells
    rt = compress.verify_roundtrip(
        with_time_axis(seq), compress.decompress(cat.read(spark, "compressed"))
    )
    assert rt == {"total": N, "mismatched": 0}
    units = cat.read(spark, "lineage").where(F.col("stage") == "compress")
    assert units.count() == units.select("unit").distinct().count() == n_cells

    # nothing pending: no compressed commit at all
    m3 = _run(spark, seq, work)
    assert m3["cells_pending"] == 0 and "compress_snapshot" not in m3
    assert cat.current_snapshot("compressed")["id"] == cur["id"]
    assert m3["raw_bytes"] == m2["raw_bytes"] and m3["roundtrip"]["mismatched"] == 0


def test_roundtrip_mismatch_publishes_nothing(spark, seq, tmp_path, monkeypatch):
    """Decoding that drops one token of one sequence must fail verify
    before anything is published: every table keeps its current
    snapshot and no staged directory is left behind."""
    work = str(tmp_path / "w")
    _run(spark, seq.where(F.col("source").isin(*HALF)), work)
    cat = ParquetSnapshotCatalog(work)
    before, dirs = _currents(cat), _dirs(work)

    victim = seq.where(~F.col("source").isin(*HALF)).first()["doc_id"]
    decompress = compress.decompress

    def lossy(df):
        out = decompress(df)
        dropped = F.expr("slice(tokens, 2, size(tokens))")
        return out.withColumn(
            "tokens", F.when(F.col("doc_id") == victim, dropped).otherwise(F.col("tokens"))
        )

    monkeypatch.setattr(compress, "decompress", lossy)
    with pytest.raises(AssertionError, match="round-trip mismatch"):
        _run(spark, seq, work)
    assert _currents(cat) == before
    assert _dirs(work) == dirs
    assert not _intents(work)


def test_start_recovers_a_half_applied_group(spark, seq, tmp_path, monkeypatch):
    """A crash between the two manifest swaps of the compress group
    leaves ``compressed`` published without its lineage; the next run
    rolls the group forward before anything else, so it finds every
    cell done and both tables agree."""
    work = str(tmp_path / "w")
    write_manifest = ParquetSnapshotCatalog._write_manifest

    def crash_on_lineage(self, table, manifest):
        if table == "lineage":
            raise OSError("simulated crash between manifest swaps")
        write_manifest(self, table, manifest)

    monkeypatch.setattr(ParquetSnapshotCatalog, "_write_manifest", crash_on_lineage)
    with pytest.raises(OSError, match="simulated crash"):
        _run(spark, seq, work)
    monkeypatch.undo()
    cat = ParquetSnapshotCatalog(work)
    assert cat.exists("compressed") and not cat.exists("lineage")
    assert len(_intents(work)) == 1

    m = _run(spark, seq, work)
    assert m["cells_pending"] == 0 and m["roundtrip"]["mismatched"] == 0
    assert not _intents(work)
    comp = cat.current_snapshot("compressed")["id"]
    units = cat.read(spark, "lineage").where(F.col("stage") == "compress")
    assert {r["snapshot"] for r in units.select("snapshot").distinct().collect()} == {comp}
    assert units.count() == cat.read(spark, "compressed").count()


CHILD = """
import os, signal, sys
sys.path.insert(0, {repo!r})
from tstoolbox_spark.pipeline.runner import run_pipeline
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
spark = get_spark("kill_before_publish", parallelism=2, driver_memory="2g")
run_pipeline(spark, spark.read.parquet({inp!r}), {work!r}, n_buckets=4,
             target_rows_per_cell=500)
"""


def test_sigkill_between_tier_staging_and_publish(spark, seq, tmp_path):
    inp, work, ctrl = (str(tmp_path / d) for d in ("input", "work", "ctrl"))
    seq.write.parquet(inp)
    script = tmp_path / "child.py"
    script.write_text(CHILD.format(repo=REPO, inp=inp, work=work))
    child = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=900
    )
    assert child.returncode == -signal.SIGKILL, child.stdout + child.stderr
    assert "STAGED" in child.stdout
    cat = ParquetSnapshotCatalog(work)
    assert cat.exists("compressed") and not cat.exists("tier_1m")

    m = _run(spark, spark.read.parquet(inp), work)
    assert m["cells_pending"] == 0 and m["roundtrip"]["mismatched"] == 0
    _run(spark, spark.read.parquet(inp), ctrl)
    want = ParquetSnapshotCatalog(ctrl)
    for tier in ("tier_1m", "tier_1h", "tier_1d"):
        a, b = cat.read(spark, tier), want.read(spark, tier)
        assert a.dtypes == b.dtypes, tier
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, tier

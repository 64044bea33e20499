"""End-to-end pipeline tests: bucketing determinism + skew fan-out,
compress round-trip (token equality), tier cascade parity vs pandas
resample (the tstoolbox aggregate oracle), retention drops, and
snapshot resume without double counting.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from tstoolbox_spark.datagen import generate_sequences
from tstoolbox_spark.pipeline import bucketing, compress, rollup
from tstoolbox_spark.pipeline.runner import run_pipeline
from tstoolbox_spark.tables import ParquetSnapshotCatalog
from tstoolbox_spark.timeaxis import with_time_axis

N = 4000


@pytest.fixture(scope="module")
def seq(spark):
    df = with_time_axis(generate_sequences(spark, N, partitions=4))
    df.persist().count()
    return df


def test_bucketing_deterministic_and_skew_aware(spark, seq):
    plan = bucketing.source_salt_plan(seq, target_rows_per_cell=100, n_buckets=4)
    # Zipf head must get more salts than the tail
    assert plan["src0"] > plan["src4"]
    a = bucketing.with_bucket_salt(seq, plan, 4).select("doc_id", "bucket", "salt")
    b = bucketing.with_bucket_salt(seq, plan, 4).select("doc_id", "bucket", "salt")
    assert a.exceptAll(b).count() == 0  # same doc → same cell, run to run
    # every salt within range
    mx = a.groupBy().max("salt").collect()[0][0]
    assert mx < max(plan.values())


def test_compress_roundtrip_token_equality(spark, seq):
    cells = bucketing.bucketed(seq, target_rows_per_cell=500, n_buckets=4)
    comp = compress.compress(cells)
    rt = compress.verify_roundtrip(cells, compress.decompress(comp))
    assert rt["total"] == N
    assert rt["mismatched"] == 0


def test_tier_parity_vs_pandas(spark, seq):
    """1m/1h/1d tier values must equal pandas resample sum/count/min/
    max/mean on the same data (tstoolbox aggregate oracle semantics)."""
    pdf = seq.select("ts", "n_tok", "source").toPandas()
    t1m = rollup.rollup_base(seq, "1m")
    t1h = rollup.rollup_cascade(t1m, "1h")
    t1d = rollup.rollup_cascade(t1h, "1d")
    for tier_df, freq in [(t1m, "min"), (t1h, "h"), (t1d, "D")]:
        got = rollup.with_mean(tier_df).toPandas()
        got = got.sort_values(["source", "ts"]).reset_index(drop=True)
        r = (
            pdf.set_index("ts")
            .groupby("source")["n_tok"]
            .resample(freq)
            .agg(["sum", "count", "min", "max", "mean"])
            .dropna(subset=["min"])  # resample pads gaps; engine emits no empty buckets
            .reset_index()
            .sort_values(["source", "ts"])
            .reset_index(drop=True)
        )
        assert len(got) == len(r)
        pd.testing.assert_series_equal(
            got["n_tok_sum"].astype("int64"), r["sum"].astype("int64"), check_names=False
        )
        pd.testing.assert_series_equal(
            got["n_tok_count"].astype("int64"), r["count"].astype("int64"), check_names=False
        )
        pd.testing.assert_series_equal(got["n_tok_mean"], r["mean"], check_names=False)


def test_pipeline_end_to_end_and_resume(spark, seq, tmp_path):
    work = str(tmp_path / "work")
    m1 = run_pipeline(spark, seq.drop("ts"), work, n_buckets=4, target_rows_per_cell=500)
    assert m1["sequences"] == N
    assert m1["roundtrip"]["mismatched"] == 0
    assert m1["compression_ratio"] > 1.2
    cat = ParquetSnapshotCatalog(work)
    rows_1m = cat.read(spark, "tier_1m").count()
    total_1m = (
        cat.read(spark, "tier_1m").agg({"n_tok_sum": "sum"}).collect()[0][0]
    )

    # resume: run again over the same input → no pending cells, tiers
    # rewritten identically (idempotent), no double counting
    m2 = run_pipeline(spark, seq.drop("ts"), work, n_buckets=4, target_rows_per_cell=500)
    assert m2["cells_pending"] == 0
    assert cat.read(spark, "tier_1m").count() == rows_1m
    assert (
        cat.read(spark, "tier_1m").agg({"n_tok_sum": "sum"}).collect()[0][0]
        == total_1m
    )


def test_retention_drops_old_partitions(spark, seq, tmp_path):
    work = str(tmp_path / "ret")
    run_pipeline(
        spark,
        seq.drop("ts"),
        work,
        n_buckets=4,
        target_rows_per_cell=500,
        verify=False,
        ttl_days={"1m": 10},
        now=dt.datetime(2024, 1, 31),  # axis spans 2024-01-01 .. 01-30
    )
    cat = ParquetSnapshotCatalog(work)
    days = [str(r["day"]) for r in cat.read(spark, "tier_1m").select("day").distinct().collect()]
    assert min(days) >= "2024-01-21"
    # 1h tier untouched (no ttl given) still has full span
    days_h = [str(r["day"]) for r in cat.read(spark, "tier_1h").select("day").distinct().collect()]
    assert min(days_h) == "2024-01-01"


def test_snapshot_catalog_atomicity(spark, tmp_path):
    cat = ParquetSnapshotCatalog(str(tmp_path / "cat"))
    df1 = spark.range(5).withColumnRenamed("id", "x")
    s1 = cat.write_snapshot(df1, "t")
    df2 = spark.range(10).withColumnRenamed("id", "x")
    s2 = cat.write_snapshot(df2, "t")
    assert cat.read(spark, "t").count() == 10
    assert cat.read(spark, "t", snapshot_id=s1).count() == 5  # time travel
    assert cat.expire_snapshots("t", keep_last=1) == 1
    assert cat.read(spark, "t").count() == 10


def test_retention_is_metadata_only(spark, seq, tmp_path):
    """VERDICT r1 §wrong-4: a TTL drop must not rewrite retained data —
    the new snapshot references the owner's day directories; zero new
    parquet files are written and expire reclaims only dropped days."""
    import os

    work = str(tmp_path / "ret_meta")
    run_pipeline(
        spark,
        seq.drop("ts"),
        work,
        n_buckets=4,
        target_rows_per_cell=500,
        verify=False,
        now=dt.datetime(2024, 1, 31),
    )
    cat = ParquetSnapshotCatalog(work)
    before = cat.current_snapshot("tier_1m")
    n_before = cat.read(spark, "tier_1m").count()

    def parquet_files():
        out = []
        for base, _, files in os.walk(os.path.join(work, "tier_1m")):
            out += [os.path.join(base, f) for f in files if f.endswith(".parquet")]
        return sorted(out)

    files_before = parquet_files()
    sid = cat.drop_partitions_before(spark, "tier_1m", "day", "2024-01-21")
    # zero data files written: the snapshot is a manifest entry only
    assert parquet_files() == files_before
    snap = cat.current_snapshot("tier_1m")
    assert snap["id"] == sid and snap["properties"]["metadata_only"]
    assert all(
        p.startswith(before["path"]) for g in snap["refs"] for p in g["paths"]
    )
    kept = cat.read(spark, "tier_1m")
    days = [str(r["day"]) for r in kept.select("day").distinct().collect()]
    assert min(days) >= "2024-01-21" and max(days) <= "2024-01-30"
    assert kept.count() < n_before
    # expire the owner: referenced days survive, dropped days reclaimed
    assert cat.expire_snapshots("tier_1m", keep_last=1) == 1
    assert cat.read(spark, "tier_1m").count() == kept.count()
    remaining_days = {
        os.path.basename(p) for p in parquet_files()
        for p in [os.path.dirname(p)]
    }
    assert all(d.split("=")[1] >= "2024-01-21" for d in remaining_days if "=" in d)


def test_fully_ttld_snapshot_survives_expire(spark, seq, tmp_path):
    """ADVICE r2 tables.py:119: a fully-TTL'd metadata-only snapshot
    (no refs left) reads as an empty frame from its recorded schema, so
    expiring the owner reclaims every day directory and the read stays
    correctly empty, with the columns and types it had before the drop."""
    work = str(tmp_path / "ret_all")
    run_pipeline(
        spark,
        seq.drop("ts"),
        work,
        n_buckets=4,
        target_rows_per_cell=500,
        verify=False,
        now=dt.datetime(2024, 1, 31),
    )
    cat = ParquetSnapshotCatalog(work)
    before = cat.read(spark, "tier_1m").dtypes
    cat.drop_partitions_before(spark, "tier_1m", "day", "2099-01-01")
    snap = cat.current_snapshot("tier_1m")
    assert snap["refs"] == []
    assert cat.read(spark, "tier_1m").count() == 0
    assert cat.expire_snapshots("tier_1m", keep_last=1) == 1
    # the current snapshot must still be readable after its owner expired
    out = cat.read(spark, "tier_1m")
    assert out.count() == 0
    assert len(out.schema.fields) > 1  # schema recovered from the manifest
    assert out.dtypes == before


def test_optimistic_concurrency_conflict(spark, tmp_path):
    """Two writers base on the same snapshot; the second commit must
    fail with CommitConflict and clean up its orphan data dir."""
    import os

    from tstoolbox_spark.tables import CommitConflict

    cat = ParquetSnapshotCatalog(str(tmp_path / "occ"))
    base = cat.write_snapshot(spark.range(3), "t")
    # writer A lands first, based on `base`
    cat.write_snapshot(spark.range(4), "t", expected_current=base)
    # writer B also based on `base` → conflict
    with pytest.raises(CommitConflict):
        cat.write_snapshot(spark.range(5), "t", expected_current=base)
    assert cat.read(spark, "t").count() == 4  # winner intact
    snap_dirs = [
        d for d in os.listdir(str(tmp_path / "occ" / "t")) if d.startswith("snap-")
    ]
    assert len(snap_dirs) == 2  # loser's dir removed

    # expecting an empty table when one exists also conflicts
    with pytest.raises(CommitConflict):
        cat.write_snapshot(spark.range(2), "t", expected_current=None)


def test_schema_evolution_rename_add(spark, tmp_path):
    """Metadata-only rename/add: zero data rewrite, stable field ids,
    time travel unaffected, next real write keeps the evolved ids."""
    import os

    cat = ParquetSnapshotCatalog(str(tmp_path / "evo"))
    df = spark.range(4).selectExpr("id AS a", "id * 2 AS b")
    s1 = cat.write_snapshot(df, "t")
    id_a = cat.current_snapshot("t")["fields"]["a"]

    s2 = cat.rename_column("t", "a", "a2")
    cur = cat.current_snapshot("t")
    assert cur["fields"]["a2"] == id_a  # id travels with the rename
    assert sorted(cat.read(spark, "t").columns) == ["a2", "b"]
    assert sorted(cat.read(spark, "t", snapshot_id=s1).columns) == ["a", "b"]

    cat.add_column("t", "c", "double")
    out = cat.read(spark, "t")
    assert sorted(out.columns) == ["a2", "b", "c"]
    assert out.filter("c IS NOT NULL").count() == 0
    assert dict(out.dtypes)["c"] == "double"

    # only one physical snap dir exists — evolution wrote no data
    snap_dirs = [
        d for d in os.listdir(str(tmp_path / "evo" / "t")) if d.startswith("snap-")
    ]
    assert len(snap_dirs) == 1

    # a later real write with the evolved names keeps the stable ids
    df2 = spark.range(2).selectExpr(
        "id AS a2", "id AS b", "CAST(id AS DOUBLE) AS c"
    )
    cat.write_snapshot(df2, "t")
    assert cat.current_snapshot("t")["fields"]["a2"] == id_a

    # expire down to the latest: the old full snapshot dir must
    # survive only if still referenced; here the latest owns its data
    cat.expire_snapshots("t", keep_last=1)
    assert cat.read(spark, "t").count() == 2


def test_schema_evolution_survives_retention(spark, tmp_path):
    """Rename → TTL drop → read: evolution state and field ids carry
    through metadata-only retention snapshots; expire keeps the data
    dirs a live evolution child references."""
    import datetime as dt2

    import pyspark.sql.functions as F2

    cat = ParquetSnapshotCatalog(str(tmp_path / "evoret"))
    df = spark.createDataFrame(
        [("2024-01-01", 1.0), ("2024-01-02", 2.0), ("2024-01-03", 3.0)],
        "day string, v double",
    )
    cat.write_snapshot(df, "t", partition_by=["day"])
    cat.rename_column("t", "v", "value")
    cat.drop_partitions_before(spark, "t", "day", "2024-01-02")
    out = cat.read(spark, "t")
    assert sorted(out.columns) == ["day", "value"]
    assert out.count() == 2
    # expire everything but current; the referenced partitions survive
    cat.expire_snapshots("t", keep_last=1)
    out2 = cat.read(spark, "t")
    assert out2.count() == 2
    assert sorted(out2.columns) == ["day", "value"]

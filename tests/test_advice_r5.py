"""Regression tests for the round-4 VERDICT items fixed in round 5:
the peak_sine small-magnitude tau (out-of-precision ROUND fix), the
driver-equivalent %.17g local gate, and the bounded-broadcast guards
in the incremental-dedup fold and the curation decontam stage."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tstoolbox_spark.pipeline import incremental_dedup as incdd
from tstoolbox_spark.pipeline.incremental_dedup import _bounded_broadcast
from tstoolbox_spark.textops.dedup import near_dup_clusters


# ---------------------------------------------------------------------------
# VERDICT r4 #5 — broadcast hints must be size-guarded
# ---------------------------------------------------------------------------


def test_bounded_broadcast_identity_contract(spark):
    df = spark.range(4).toDF("doc")
    # under the limit: a hinted (new) frame comes back
    hinted = _bounded_broadcast(df, incdd.BROADCAST_ROW_LIMIT, "x")
    assert hinted is not df
    assert "UnresolvedHint" in hinted._jdf.queryExecution().logical().toString()
    # over the limit: the SAME frame comes back, no hint attached
    assert _bounded_broadcast(df, incdd.BROADCAST_ROW_LIMIT + 1, "x") is df


def test_incremental_fold_correct_with_broadcast_fallback(spark, monkeypatch):
    """Forcing every guarded site down the shuffle-join fallback path
    (limit=0) must not change the fold result vs a full rebuild."""
    monkeypatch.setattr(incdd, "BROADCAST_ROW_LIMIT", 0)
    base = "the quick brown fox jumps over the lazy dog again and again %d"
    rows = [(f"d{i}", base % (i // 3)) for i in range(12)]
    full_df = spark.createDataFrame(rows, ["doc_id", "text"])
    b1 = spark.createDataFrame(rows[:7], ["doc_id", "text"])
    b2 = spark.createDataFrame(rows[7:], ["doc_id", "text"])

    nb1, c1 = incdd.incremental_near_dup_update(b1)
    nb1, c1 = nb1.localCheckpoint(), c1.localCheckpoint()
    _, c2 = incdd.incremental_near_dup_update(
        b2, old_docs=b1, old_bands=nb1, old_clusters=c1
    )
    got = (
        c2.toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    want = (
        near_dup_clusters(full_df)
        .select("doc_id", "cluster", "keeper")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[["doc_id", "cluster", "keeper"]], want)


def test_decontam_join_carries_no_broadcast_hint():
    """pipeline/curate.py _decontam must not hard-broadcast the
    flagged set (unbounded on an adversarially contaminated corpus) —
    source-level lock on the exact join line."""
    import inspect

    from tstoolbox_spark.pipeline import curate

    src = inspect.getsource(curate.curate_corpus)
    start = src.index("def _decontam")
    end = src.index("def _mixture")
    assert "F.broadcast" not in src[start:end]


def test_batch_candidates_history_never_shuffles(spark):
    """O(batch) fold contract: with the batch side broadcast, the
    committed band table must stream through BroadcastHashJoins —
    zero shuffle (SortMergeJoin) of history per fold."""
    rows = [(i, f"w{i//3} x y z q r s t u v") for i in range(30)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    from pyspark.sql import functions as F

    from tstoolbox_spark.pipeline.incremental_dedup import (
        _batch_candidates,
        batch_band_hashes,
    )

    old = batch_band_hashes(docs.filter(F.col("doc_id") % 2 == 0)).localCheckpoint()
    new = batch_band_hashes(docs.filter(F.col("doc_id") % 2 == 1)).persist()
    new.count()
    cand = _batch_candidates(new, old, broadcast_new=True)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    new.unpersist()


# ---------------------------------------------------------------------------
# VERDICT r4 #1 — tau must be emitted at representable magnitude
# ---------------------------------------------------------------------------


def test_peak_sine_offset_matches_epoch_delta(spark):
    import numpy as np

    from tstoolbox_spark.operators.peaks import peak_sine

    epoch0 = 1_700_000_000
    step = 3600.0
    t = np.arange(200) * step
    y = 5.0 + 2.0 * np.sin(2 * np.pi * t / (24 * step) + 0.3)
    pdf = pd.DataFrame({
        "ts": pd.to_datetime(epoch0 + t, unit="s"),
        "value": y,
    })
    sdf = spark.createDataFrame(pdf)
    out = peak_sine(sdf, "value", window=2, points=7).toPandas()
    assert len(out) > 0
    assert "tau_offset_s" in out.columns
    ts_epoch = out["ts"].astype("int64") / 1e9
    # the offset is the epoch tau re-based on the peak's own timestamp
    np.testing.assert_allclose(
        out["tau_epoch_s"] - ts_epoch, out["tau_offset_s"], atol=1e-6
    )
    # and it is small-magnitude: within one fitted period (~1 day)
    assert (out["tau_offset_s"].abs() <= 24 * step).all()


def test_local_gate_uses_full_precision():
    """scripts/check_correctness.py must hash doubles at driver
    precision — %.9g hid the r4 peak_sine divergence."""
    import importlib.util
    import pathlib

    p = pathlib.Path(__file__).resolve().parents[1] / "scripts" / "check_correctness.py"
    spec = importlib.util.spec_from_file_location("cc", p)
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)
    a = pd.DataFrame({"x": [1.7e9 + 1e-7]})
    b = pd.DataFrame({"x": [1.7e9 + 2e-7]})
    na, nb = cc.normalize(a), cc.normalize(b)
    assert not na.equals(nb)


# ---------------------------------------------------------------------------
# Round-5 review findings
# ---------------------------------------------------------------------------


def test_limb_split_double_conversion_engine_identical(spark):
    """DuckDB's direct HUGEINT→DOUBLE cast is not correctly rounded
    (two-step upper*2^64+lower arithmetic), so linear_trend's closing
    conversions go through a 3-limb split that performs the SAME IEEE
    ops on both engines. Lock parity on the known-divergent value and
    a fuzz set."""
    import random

    import duckdb

    from __spark_entry__ import _d2d_duck, _d2d_spark

    bad = "734876423906250961217697179948902048"
    random.seed(13)
    vals = [bad, "-" + bad] + [
        str(random.randrange(-10**37, 10**37)) for _ in range(300)
    ]
    sdf = spark.createDataFrame([(v,) for v in vals], ["s"]).selectExpr(
        "s", _d2d_spark("CAST(s AS DECIMAL(38,0))") + " AS d"
    )
    got = {r["s"]: r["d"] for r in sdf.collect()}
    con = duckdb.connect()
    for v in vals:
        od = con.execute(
            "SELECT " + _d2d_duck(f"CAST('{v}' AS HUGEINT)")
        ).fetchone()[0]
        assert od == got[v], (v, got[v], od)


def test_semdedup_refuses_oversized_cell(spark, monkeypatch):
    """The Arrow gram path must refuse (not OOM) when a cell exceeds
    its documented memory bound."""
    import numpy as np
    import pandas as pd

    from tstoolbox_spark.textops import similarity

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(30, 4)).astype(np.float32)
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(30), "embedding": [v.tolist() for v in vecs],
    }))
    cents = [[float(x) for x in vecs[0]]]  # one cell holds everything
    out = similarity.semdedup(emb, cents, threshold=0.5, vectorized=True)
    # normal size: fine
    assert out.count() == 30
    # shrink the bound below the 30-row cell: the worker must refuse
    monkeypatch.setattr(similarity, "SEMDEDUP_MAX_CELL", 29)
    out = similarity.semdedup(emb, cents, threshold=0.5, vectorized=True)
    with pytest.raises(Exception, match=r"ValueError: semdedup: cell 0 has 30 rows \(> 29\)"):
        out.count()

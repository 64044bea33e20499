"""CSV source/sink semantics (reference read_iso_ts / printiso) and
the streaming continuous 1m rollup."""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from tstoolbox_spark.datagen import generate_sequences
from tstoolbox_spark.pipeline.rollup import rollup_base
from tstoolbox_spark.sources import read_timeseries_csv, write_iso_csv
from tstoolbox_spark.streaming import continuous_rollup
from tstoolbox_spark.timeaxis import with_time_axis

CSV = """Datetime,Value,Value
2011-01-01 00:00:00,2.0,10
2011-01-01 01:00:00,  ,11
2011-01-01 02:00:00,9.0,
"""


def test_read_csv_blank_to_null_and_dedup(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text(CSV)
    df = read_timeseries_csv(spark, str(p))
    assert df.columns == ["ts", "Value1", "Value2"]  # Spark-side header dedup
    rows = {r["ts"].hour: (r["Value1"], r["Value2"]) for r in df.collect()}
    assert rows[0] == (2.0, 10.0)
    assert rows[1] == (None, 11.0)
    assert rows[2] == (9.0, None)


def test_read_csv_tab_sniff_and_gzip(spark, tmp_path):
    p = tmp_path / "in.tsv.gz"
    with gzip.open(p, "wt") as f:
        f.write(CSV.replace(",", "\t"))
    df = read_timeseries_csv(spark, str(p))
    assert df.count() == 3
    assert df.filter(F.col("Value1").isNull()).count() == 1


def test_read_csv_numeric_index_and_skiprows(spark, tmp_path):
    p = tmp_path / "n.csv"
    p.write_text("idx,v\n0,1\n1,2\n2,3\n")
    df = read_timeseries_csv(spark, str(p), index_type="number", skiprows=1)
    got = sorted((r["idx"], r["v"]) for r in df.collect())
    assert got == [(1.0, 2.0), (2.0, 3.0)]


def test_write_iso_csv_roundtrip(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text(CSV)
    df = read_timeseries_csv(spark, str(p))
    text = write_iso_csv(df)
    assert text.splitlines()[0] == "Datetime,Value1,Value2"
    assert "2011-01-01 00:00:00,2,10" in text  # %g float format
    out_dir = tmp_path / "outdir"
    write_iso_csv(df, str(out_dir), single_file=True)
    again = spark.read.option("header", True).csv(str(out_dir))
    assert again.count() == 3


def test_write_pickle_roundtrip(spark, tmp_path):
    import pandas as pd

    from tstoolbox_spark.sources import write_pickle

    p = tmp_path / "in.csv"
    p.write_text(CSV)
    df = read_timeseries_csv(spark, str(p))
    out = tmp_path / "series.pkl"
    write_pickle(df, str(out))
    back = pd.read_pickle(out)
    assert back.index.name == "Datetime"
    assert list(back.columns) == ["Value1", "Value2"]
    assert len(back) == 3
    assert back["Value1"].iloc[0] == 2.0


@pytest.mark.slow
def test_streaming_rollup_matches_batch(spark, tmp_path):
    seq = generate_sequences(spark, 20_000)
    in_dir = tmp_path / "stream_in"
    # two arrivals split BY EVENT TIME (early rows land first) so the
    # second file never carries data older than the advanced watermark
    # — mirrors an in-order ingest; late-data policy itself is the
    # watermark's job, not this parity test's.
    with_ts = with_time_axis(seq)
    cutoff = with_ts.agg(F.percentile_approx("ts", 0.8)).collect()[0][0]
    early = with_ts.filter(F.col("ts") <= F.lit(cutoff)).drop("ts")
    late = with_ts.filter(F.col("ts") > F.lit(cutoff)).drop("ts")
    early.write.mode("overwrite").parquet(str(in_dir))
    q = continuous_rollup(
        spark, str(in_dir), str(tmp_path / "tier"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    late.write.mode("append").parquet(str(in_dir))
    q2 = continuous_rollup(
        spark, str(in_dir), str(tmp_path / "tier"), str(tmp_path / "ckpt")
    )
    q2.awaitTermination(180)

    streamed = spark.read.parquet(str(tmp_path / "tier"))
    n_streamed = streamed.count()
    assert n_streamed > 0
    # exactly-once: no duplicate (ts, source) cells across restarts
    assert (
        streamed.groupBy("ts", "source").count().filter(F.col("count") > 1).count() == 0
    )
    # every emitted minute matches the batch rollup bit-for-bit
    batch = rollup_base(with_time_axis(seq), "1m", ("source",))
    joined = streamed.alias("s").join(
        batch.alias("b"), ["ts", "source"], "inner"
    )
    assert joined.count() == n_streamed
    mismatch = joined.filter(
        (F.col("s.n_tok_sum") != F.col("b.n_tok_sum"))
        | (F.col("s.n_tok_count") != F.col("b.n_tok_count"))
        | (F.col("s.n_tok_min") != F.col("b.n_tok_min"))
        | (F.col("s.n_tok_max") != F.col("b.n_tok_max"))
    )
    assert mismatch.count() == 0


def test_streaming_session_stats_matches_batch(spark, tmp_path):
    """session_window streaming sessions == batch sessionize-based
    session_stats (same gap) once every session is watermark-closed."""
    import datetime as dt

    from tstoolbox_spark.operators.joins import session_stats
    from tstoolbox_spark.streaming import continuous_session_stats

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user in (1, 2, 3):
        t = base + dt.timedelta(minutes=user)
        for burst in range(3):
            for i in range(4):
                rows.append((t, eid, user, "click", float(user * 10 + i)))
                eid += 1
                t += dt.timedelta(minutes=5)  # within the 30m gap
            t += dt.timedelta(hours=2)  # force a new session
    df = spark.createDataFrame(
        rows, "ts timestamp, event_id long, user_id long, event_type string, value double"
    )
    inp = str(tmp_path / "events_in")
    out = str(tmp_path / "sessions_out")
    ck = str(tmp_path / "ck")
    df.coalesce(2).write.parquet(inp)

    q = continuous_session_stats(spark, inp, out, ck, gap="30 minutes")
    q.awaitTermination(120)

    got = (
        spark.read.parquet(out)
        .orderBy("user_id", "session_start")
        .toPandas()
    )
    exp = (
        session_stats(df, "30 minutes", key_cols=["user_id"], value_col="value")
        .orderBy("user_id", "session_start")
        .toPandas()
    )
    # streaming append emits only watermark-closed sessions; with
    # availableNow the final watermark passes all but the latest data —
    # compare the sessions both sides emitted
    merged = got.merge(
        exp,
        left_on=["user_id", "session_start"],
        right_on=["user_id", "session_start"],
        how="inner",
    )
    assert len(merged) >= 6  # most of the 9 sessions close
    assert (merged["n_events_x"] == merged["n_events_y"]).all()
    assert (merged["duration_s_x"] == merged["duration_s_y"]).all()
    assert (merged["value_sum_x"] == merged["value_sum_y"]).all()
    assert (merged["session_end_last"] == merged["session_end"]).all()


def test_write_zrxp_format(spark, tmp_path):
    import datetime as dt

    from tstoolbox_spark.sources import write_zrxp

    df = spark.createDataFrame(
        [
            (dt.datetime(2020, 1, 1, 0, 0, 0), 2.0),
            (dt.datetime(2020, 1, 1, 1, 0, 0), 2.5),
        ],
        "ts timestamp, value double",
    )
    txt = write_zrxp(df, rexchange="XYZ")
    assert txt == "#REXCHANGEXYZ|*|\n20200101000000, 2\n20200101010000, 2.5\n"
    # multi-column input rejected like the reference
    import pytest as _pytest

    with _pytest.raises(ValueError, match="single"):
        write_zrxp(df.withColumn("v2", df.value))


def test_streaming_rollup_late_data_resume(spark, tmp_path):
    """Two availableNow drains over one checkpoint: the second batch's
    in-order data lands incrementally (exactly-once, no recompute of
    batch 1's minutes), and a record older than every emitted window's
    watermark-closed horizon does not corrupt already-final minutes —
    the late-data contract of the 1m streaming tier."""
    import datetime as dt

    from tstoolbox_spark.streaming import continuous_rollup

    inp = str(tmp_path / "seq_in")
    tier = str(tmp_path / "tier_1m")
    ck = str(tmp_path / "ck")
    base = dt.datetime(2024, 3, 1, 0, 0, 0)

    def seq_rows(minutes, source, start_doc):
        # with_time_axis derives ts from doc_id deterministically, so
        # write rows with explicit schema and let the axis place them
        return [
            (f"d{start_doc + i:08d}", [1, 2, 3], 3, source)
            for i, _ in enumerate(minutes)
        ]

    df1 = spark.createDataFrame(
        seq_rows(range(2000), "src0", 0),
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    df1.coalesce(1).write.mode("overwrite").parquet(inp)
    q = continuous_rollup(spark, inp, tier, ck, watermark="2 minutes")
    q.awaitTermination(120)
    first = spark.read.parquet(tier)
    n_first = first.count()
    assert n_first > 0
    sum_first = first.agg(F.sum("n_tok_sum")).collect()[0][0]

    # second drop: new docs → new minutes; same checkpoint
    df2 = spark.createDataFrame(
        seq_rows(range(2000), "src0", 100_000),
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    df2.coalesce(1).write.mode("append").parquet(inp)
    q2 = continuous_rollup(spark, inp, tier, ck, watermark="2 minutes")
    q2.awaitTermination(120)
    second = spark.read.parquet(tier)
    # exactly-once: batch-1 minutes are not duplicated; new minutes appended
    assert second.count() > n_first
    dup = (
        second.groupBy("source", "ts").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0
    assert second.agg(F.sum("n_tok_sum")).collect()[0][0] > sum_first

@pytest.mark.slow
def test_streaming_cascade_matches_batch(spark, tmp_path):
    """1h tier materialized FROM the streaming 1m tier: every emitted
    hourly bucket equals the batch rollup_cascade of the full 1m
    table bit-for-bit, and a kill-resume (second drain on the same
    checkpoints end-to-end) stays exactly-once in BOTH tiers."""
    from tstoolbox_spark.pipeline.rollup import rollup_cascade
    from tstoolbox_spark.streaming import continuous_cascade

    seq = generate_sequences(spark, 20_000)
    in_dir = str(tmp_path / "stream_in")
    t1m, t1h = str(tmp_path / "tier_1m"), str(tmp_path / "tier_1h")
    ck1, ck2 = str(tmp_path / "ck_1m"), str(tmp_path / "ck_1h")

    with_ts = with_time_axis(seq)
    cutoff = with_ts.agg(F.percentile_approx("ts", 0.8)).collect()[0][0]
    early = with_ts.filter(F.col("ts") <= F.lit(cutoff)).drop("ts")
    late = with_ts.filter(F.col("ts") > F.lit(cutoff)).drop("ts")

    # stage 1 drain: early data through 1m then 1h
    early.write.mode("overwrite").parquet(in_dir)
    continuous_rollup(spark, in_dir, t1m, ck1).awaitTermination(120)
    continuous_cascade(
        spark, t1m, t1h, ck2, tier="1h", watermark="1 minute"
    ).awaitTermination(120)
    n_hours_first = spark.read.parquet(t1h).count()
    assert n_hours_first > 0

    # kill-resume: append late data, re-drain the SAME checkpoints
    late.write.mode("append").parquet(in_dir)
    continuous_rollup(spark, in_dir, t1m, ck1).awaitTermination(180)
    continuous_cascade(
        spark, t1m, t1h, ck2, tier="1h", watermark="1 minute"
    ).awaitTermination(180)

    hourly = spark.read.parquet(t1h)
    n_hours = hourly.count()
    assert n_hours > n_hours_first
    # exactly-once across the restart, both tiers
    for path in (t1m, t1h):
        dups = (
            spark.read.parquet(path)
            .groupBy("ts", "source")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dups == 0
    # parity: every emitted hour equals the batch cascade of the full
    # batch 1m tier (the streamed 1m rows it folded are themselves
    # batch-exact per test_streaming_rollup_matches_batch)
    batch_1h = rollup_cascade(rollup_base(with_time_axis(seq), "1m"), "1h")
    joined = hourly.alias("s").join(batch_1h.alias("b"), ["ts", "source"], "inner")
    assert joined.count() == n_hours
    mismatch = joined.filter(
        (F.col("s.n_tok_sum") != F.col("b.n_tok_sum"))
        | (F.col("s.n_tok_count") != F.col("b.n_tok_count"))
        | (F.col("s.n_tok_min") != F.col("b.n_tok_min"))
        | (F.col("s.n_tok_max") != F.col("b.n_tok_max"))
    )
    assert mismatch.count() == 0


@pytest.mark.slow
def test_streaming_ingest_dedup(spark, tmp_path):
    """Streaming exact-dedup at ingest: duplicate token streams within
    the watermark are dropped; resume with new files stays
    exactly-once; output content set matches batch exact dedup."""
    from tstoolbox_spark.streaming import continuous_ingest_dedup

    seq = generate_sequences(spark, 2_000)
    # duplicate every sequence under a doc_id 1 step later (adjacent
    # event times — well inside the watermark)
    dup = seq.withColumn(
        "doc_id", F.concat(F.lit("dup-"), F.col("doc_id"))
    )
    in_dir = tmp_path / "dd_in"
    seq.unionByName(dup).write.mode("overwrite").parquet(str(in_dir))

    out, ck = str(tmp_path / "dd_out"), str(tmp_path / "dd_ck")
    q = continuous_ingest_dedup(spark, str(in_dir), out, ck)
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    # one survivor per distinct token stream
    n_distinct = seq.select("tokens").distinct().count()
    assert got.count() == got.select("tokens").distinct().count()
    assert got.select("tokens").distinct().count() == n_distinct

    # resume: append a file of already-emitted content → no re-emission
    seq.limit(100).write.mode("append").parquet(str(in_dir))
    q2 = continuous_ingest_dedup(spark, str(in_dir), out, ck)
    q2.awaitTermination(180)
    got2 = spark.read.parquet(out)
    assert got2.count() == got2.select("tokens").distinct().count()


@pytest.mark.slow
def test_streaming_ewm_matches_batch_and_resumes(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): the streamed
    per-key EWM equals the batch ewm_window(adjust=True) over the full
    series, and a kill-resume (second drain, same checkpoint)
    continues the recurrence exactly-once from the stored (num, den)
    state."""
    import numpy as np
    import pandas as pd

    from tstoolbox_spark.operators.window import ewm_window
    from tstoolbox_spark.streaming import continuous_ewm

    n = 4000
    pdf = pd.DataFrame({
        "ts": pd.date_range("2024-01-01", periods=n, freq="min"),
        "event_id": np.arange(n),
        "user_id": np.arange(n) % 7,
        "event_type": np.where(np.arange(n) % 2 == 0, "click", "view"),
        "value": np.round(np.random.RandomState(4).randn(n) * 10 + 50, 2),
    })
    df = spark.createDataFrame(pdf)
    in_dir = str(tmp_path / "ewm_in")
    out_dir = str(tmp_path / "ewm_out")
    ck = str(tmp_path / "ewm_ck")

    cutoff = pdf["ts"][n // 2]
    df.filter(F.col("ts") <= F.lit(cutoff)).write.mode("overwrite").parquet(in_dir)
    continuous_ewm(spark, in_dir, out_dir, ck, span=12).awaitTermination(120)
    first = spark.read.parquet(out_dir).count()
    assert first > 0

    # kill-resume with the later half
    df.filter(F.col("ts") > F.lit(cutoff)).write.mode("append").parquet(in_dir)
    continuous_ewm(spark, in_dir, out_dir, ck, span=12).awaitTermination(120)

    got = spark.read.parquet(out_dir)
    assert got.count() == n  # exactly-once: every row emitted once
    batch = ewm_window(
        df, "mean", value_cols=["value"], key_cols=["event_type"], span=12
    ).select("event_type", "ts", F.col("value_ewm_mean").alias("expected"))
    joined = got.join(batch, ["event_type", "ts"]).toPandas()
    assert len(joined) == n
    np.testing.assert_allclose(joined["ewm"], joined["expected"], rtol=1e-9)


def test_streaming_hist_matches_batch_and_quantiles(spark, tmp_path):
    """continuous_hist: streamed histogram partials equal the batch
    hist_base cells they cover, and quantiles read from the streamed
    tier equal quantiles from the batch tier for those buckets."""
    from tstoolbox_spark.pipeline.rollup import hist_base, hist_quantiles
    from tstoolbox_spark.streaming import continuous_hist

    seq = generate_sequences(spark, 20_000)
    in_dir = tmp_path / "hist_in"
    with_ts = with_time_axis(seq)
    cutoff = with_ts.agg(F.percentile_approx("ts", 0.8)).collect()[0][0]
    early = with_ts.filter(F.col("ts") <= F.lit(cutoff)).drop("ts")
    late = with_ts.filter(F.col("ts") > F.lit(cutoff)).drop("ts")
    early.write.mode("overwrite").parquet(str(in_dir))
    q = continuous_hist(
        spark, str(in_dir), str(tmp_path / "htier"), str(tmp_path / "hck")
    )
    q.awaitTermination(120)
    late.write.mode("append").parquet(str(in_dir))
    q2 = continuous_hist(
        spark, str(in_dir), str(tmp_path / "htier"), str(tmp_path / "hck")
    )
    q2.awaitTermination(180)

    streamed = spark.read.parquet(str(tmp_path / "htier"))
    n = streamed.count()
    assert n > 0
    # exactly-once: one row per (ts, source, v)
    assert (
        streamed.groupBy("ts", "source", "v")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )
    # cell parity vs the batch histogram
    batch = hist_base(with_time_axis(seq), "1m")
    joined = streamed.alias("s").join(
        batch.alias("b"), ["ts", "source", "v"], "inner"
    )
    assert joined.count() == n
    assert joined.filter(F.col("s.cnt") != F.col("b.cnt")).count() == 0
    # quantiles from the streamed tier match quantiles from the batch
    # tier on the emitted buckets
    emitted = streamed.select("ts", "source").distinct()
    qa = hist_quantiles(streamed).join(emitted, ["source", "ts"])
    qb = hist_quantiles(batch).join(emitted, ["source", "ts"])
    assert qa.exceptAll(qb).count() == 0 and qb.exceptAll(qa).count() == 0


def test_streaming_cms_matches_batch(spark, tmp_path):
    """continuous_cms: streamed sketch partials equal the batch
    cms_partials cells they cover, and a folded global estimate reads
    identically from either side (kill-resume, exactly-once)."""
    from tstoolbox_spark.pipeline.cms import cms_estimate, cms_merge, cms_partials
    from tstoolbox_spark.streaming import continuous_cms

    seq = generate_sequences(spark, 20_000)
    in_dir = tmp_path / "cms_in"
    with_ts = with_time_axis(seq)
    cutoff = with_ts.agg(F.percentile_approx("ts", 0.8)).collect()[0][0]
    with_ts.filter(F.col("ts") <= F.lit(cutoff)).drop("ts").write.mode(
        "overwrite"
    ).parquet(str(in_dir))
    continuous_cms(
        spark, str(in_dir), str(tmp_path / "ctier"), str(tmp_path / "cck"),
        key_col="source",
    ).awaitTermination(120)
    with_ts.filter(F.col("ts") > F.lit(cutoff)).drop("ts").write.mode(
        "append"
    ).parquet(str(in_dir))
    continuous_cms(
        spark, str(in_dir), str(tmp_path / "ctier"), str(tmp_path / "cck"),
        key_col="source",
    ).awaitTermination(180)

    streamed = spark.read.parquet(str(tmp_path / "ctier"))
    n = streamed.count()
    assert n > 0
    # exactly-once: one row per (ts, j, bucket)
    assert (
        streamed.groupBy("ts", "j", "bucket")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )
    # cell parity vs the batch grid
    batch = cms_partials(with_time_axis(seq), "source", tier="1m")
    joined = streamed.alias("s").join(
        batch.alias("b"), ["ts", "j", "bucket"], "inner"
    )
    assert joined.count() == n
    assert joined.filter(F.col("s.cnt") != F.col("b.cnt")).count() == 0
    # estimates folded over the emitted buckets match batch folds
    emitted = streamed.select("ts").distinct()
    ga = cms_merge(streamed, tier=None)
    gb = cms_merge(batch.join(emitted, "ts"), tier=None)
    probes = seq.select("source").distinct()
    ea = cms_estimate(ga, probes, "source").collect()
    eb = cms_estimate(gb, probes, "source").collect()
    assert sorted(map(tuple, ea)) == sorted(map(tuple, eb))


def test_streaming_bloom_matches_batch(spark, tmp_path):
    """continuous_bloom: folding the streamed per-bucket word tables
    equals the batch bloom_build over the same rows (bit_or is the
    lossless merge), and membership reads carry over."""
    from tstoolbox_spark.pipeline.bloom import (
        bloom_build,
        bloom_merge,
        bloom_probe,
    )
    from tstoolbox_spark.streaming import continuous_bloom

    seq = generate_sequences(spark, 5_000)
    in_dir = tmp_path / "bf_in"
    with_time_axis(seq).drop("ts").write.mode("overwrite").parquet(str(in_dir))
    continuous_bloom(
        spark, str(in_dir), str(tmp_path / "bft"), str(tmp_path / "bfck")
    ).awaitTermination(120)
    streamed = spark.read.parquet(str(tmp_path / "bft"))
    assert streamed.count() > 0
    folded = bloom_merge(streamed.drop("ts"))
    # the streamed fold covers only CLOSED buckets; batch-build the
    # same covered rows and compare word tables exactly
    emitted = streamed.select("ts").distinct()
    covered = (
        with_time_axis(seq)
        .withColumn("ts", F.date_trunc("minute", "ts"))
        .join(emitted, "ts")
    )
    batch = bloom_build(covered, "doc_id")
    a = {r["word"]: r["mask"] for r in folded.collect()}
    b = {r["word"]: r["mask"] for r in batch.collect()}
    assert a == b
    # membership: every covered id reads true from the folded filter
    misses = (
        bloom_probe(folded, covered.select(F.col("doc_id").cast("string")
                                           .alias("doc_id")), "doc_id")
        .filter("NOT maybe_member")
        .count()
    )
    assert misses == 0


def test_read_csv_lenient_dates_and_file_url(spark, tmp_path):
    """Reference read_iso_ts parity (tsutils.py:606-641): URL sources
    and non-ISO timestamp formats both ingest."""
    from tstoolbox_spark.sources.csv import read_timeseries_csv

    p = tmp_path / "fuzzy.csv"
    p.write_text(
        "Datetime,flow\n"
        "2024-01-01 00:00:00,1.0\n"       # ISO
        "2024/01/01 01:00,2.0\n"          # slashed, minute precision
        "01/02/2024,3.0\n"                # MDY → Jan 2
        "\"Jan 3, 2024\",4.0\n"           # month name (quoted comma)
        "15.01.2024,5.0\n"                # dotted DMY
    )
    df = read_timeseries_csv(spark, str(p))
    rows = {r.flow: r.ts for r in df.collect()}
    import datetime as dt
    assert rows[1.0] == dt.datetime(2024, 1, 1, 0, 0)
    assert rows[2.0] == dt.datetime(2024, 1, 1, 1, 0)
    assert rows[3.0] == dt.datetime(2024, 1, 2)
    assert rows[4.0] == dt.datetime(2024, 1, 3)
    assert rows[5.0] == dt.datetime(2024, 1, 15)
    # file:// URL path (offline-safe URL ingest)
    df2 = read_timeseries_csv(spark, f"file://{p}")
    assert df2.count() == 5
    assert {r.flow for r in df2.collect()} == {1.0, 2.0, 3.0, 4.0, 5.0}


def test_streaming_phll_matches_batch(spark, tmp_path):
    """continuous_phll: streamed register partials equal the batch
    phll_partial cells they cover (register MAX is idempotent — safe
    under the two-phase resume), and a cascaded global estimate reads
    identically from either side."""
    from tstoolbox_spark.pipeline.hll import (
        phll_estimate,
        phll_partial,
    )
    from tstoolbox_spark.streaming import continuous_phll

    seq = generate_sequences(spark, 20_000)
    in_dir = tmp_path / "phll_in"
    with_ts = with_time_axis(seq)
    cutoff = with_ts.agg(F.percentile_approx("ts", 0.8)).collect()[0][0]
    with_ts.filter(F.col("ts") <= F.lit(cutoff)).drop("ts").write.mode(
        "overwrite"
    ).parquet(str(in_dir))
    continuous_phll(
        spark, str(in_dir), str(tmp_path / "ptier"), str(tmp_path / "pck"),
    ).awaitTermination(120)
    with_ts.filter(F.col("ts") > F.lit(cutoff)).drop("ts").write.mode(
        "append"
    ).parquet(str(in_dir))
    continuous_phll(
        spark, str(in_dir), str(tmp_path / "ptier"), str(tmp_path / "pck"),
    ).awaitTermination(180)

    streamed = spark.read.parquet(str(tmp_path / "ptier"))
    n = streamed.count()
    assert n > 0
    # exactly-once: one row per (ts, idx)
    assert (
        streamed.groupBy("ts", "idx")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )
    # register parity vs the batch partial on the emitted buckets
    batch = phll_partial(
        with_time_axis(seq), "1m", key_cols=(), value_col="doc_id"
    )
    joined = streamed.alias("s").join(
        batch.alias("b"), ["ts", "idx"], "inner"
    )
    assert joined.count() == n
    assert joined.filter(F.col("s.rho") != F.col("b.rho")).count() == 0
    # global estimate folded over the emitted buckets matches batch
    emitted = streamed.select("ts").distinct()
    fold = lambda df: (
        df.groupBy("idx").agg(F.max("rho").alias("rho"))
        .withColumn("ts", F.lit("all"))
    )
    ea = phll_estimate(fold(streamed), key_cols=()).collect()
    eb = phll_estimate(
        fold(batch.join(emitted, "ts")), key_cols=()
    ).collect()
    assert sorted(map(tuple, ea)) == sorted(map(tuple, eb))


def test_streaming_resume_across_checkpoint_managers(spark, tmp_path):
    """A checkpoint written under FileContext's manager (the default
    before the session switched to the FileSystem-based one) resumes
    under the session's manager with no cell duplicated or lost: the
    tier equals a control whose two drains both ran under the session's
    manager, and every emitted minute equals the batch rollup."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    session_manager = spark.conf.get(key, None)
    with_ts = with_time_axis(generate_sequences(spark, 5000))
    cutoff = with_ts.agg(F.percentile_approx("ts", 0.6)).collect()[0][0]
    drops = [with_ts.filter(F.col("ts") <= F.lit(cutoff)).drop("ts"),
             with_ts.filter(F.col("ts") > F.lit(cutoff)).drop("ts")]

    def drain(run, i):
        d = tmp_path / run
        drops[i].write.mode("append").parquet(str(d / "in"))
        q = continuous_rollup(spark, str(d / "in"), str(d / "tier"), str(d / "ck"))
        q.awaitTermination(180)
        return spark.read.parquet(str(d / "tier"))

    spark.conf.set(
        key, "org.apache.spark.sql.execution.streaming.checkpointing."
             "FileContextBasedCheckpointFileManager")
    try:
        drain("mixed", 0)
    finally:
        if session_manager is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, session_manager)
    mixed = drain("mixed", 1)
    drain("control", 0)
    control = drain("control", 1)

    n = mixed.count()
    assert n > 0
    assert mixed.groupBy("ts", "source").count().filter(F.col("count") > 1).count() == 0
    assert mixed.exceptAll(control).count() == 0 and control.exceptAll(mixed).count() == 0
    batch = rollup_base(with_ts, "1m", ("source",))
    assert mixed.exceptAll(batch.select(*mixed.columns)).count() == 0

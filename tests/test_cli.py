"""CLI parity surface: flag parsing, common-pipeline ordering, verb
dispatch with kwargs passthrough, and printiso output — in-process via
run_verb (one Spark session; main() only differs by session creation).
"""

from __future__ import annotations

import pytest

from tstoolbox_spark.cli import _coerce, parse_argv, run_verb


@pytest.fixture()
def csv_path(tmp_path):
    p = tmp_path / "in.csv"
    rows = ["Datetime,flow,stage"]
    for h in range(48):
        rows.append(f"2024-01-01 {h % 24:02d}:00:00,{(h % 5) + 1}.0,{h}.5"
                    if h < 24 else
                    f"2024-01-02 {h % 24:02d}:00:00,{(h % 5) + 1}.0,{h}.5")
    p.write_text("\n".join(rows) + "\n")
    return str(p)


def test_parse_argv_forms():
    verb, flags = parse_argv(
        ["aggregate", "--groupby=D", "--statistic", "mean,sum", "--clean"]
    )
    assert verb == "aggregate"
    assert flags == {"groupby": "D", "statistic": "mean,sum", "clean": "True"}


def test_coerce_types():
    assert _coerce("1") == 1
    assert _coerce("1.5") == 1.5
    assert _coerce("True") is True
    assert _coerce("mean,sum") == ["mean", "sum"]
    assert _coerce("H") == "H"


def test_cli_aggregate_matches_operator(spark, csv_path):
    from tstoolbox_spark.operators.aggregate import aggregate
    from tstoolbox_spark.sources.csv import read_timeseries_csv

    out = run_verb(
        spark,
        "aggregate",
        {"input_ts": csv_path, "groupby": "D", "statistic": "mean,sum"},
    )
    direct = aggregate(
        read_timeseries_csv(spark, csv_path), "D", ["mean", "sum"]
    )
    assert sorted(out.columns) == sorted(direct.columns)
    assert out.exceptAll(direct).count() == 0
    assert out.count() == 2  # two days


def test_cli_common_pipeline_slice_then_verb(spark, csv_path):
    out = run_verb(
        spark,
        "rolling_window",
        {
            "input_ts": csv_path,
            "start_date": "2024-01-01",
            "end_date": "2024-01-01 23:59",
            "statistic": "mean",
            "window": "3",
        },
    )
    assert out.count() == 24  # slice applied before the verb
    assert any(c.endswith("_mean") for c in out.columns)


def test_cli_equation_and_pick(spark, csv_path):
    out = run_verb(
        spark,
        "equation",
        {"input_ts": csv_path, "columns": "flow", "equation": "x1*2"},
    )
    rows = out.orderBy("ts").limit(3).collect()
    assert [r[out.columns[-1]] for r in rows] == [2.0, 4.0, 6.0]


def test_cli_identity_verbs_run_common_only(spark, csv_path):
    out = run_verb(
        spark, "dropna", {"input_ts": csv_path, "dropna": "any"}
    )
    assert out.count() == 48  # nothing null in the fixture


def test_cli_unknown_verb_exits():
    with pytest.raises(SystemExit):
        parse_argv([])  # no verb → usage + exit
    with pytest.raises(SystemExit):
        run_verb(None, "no_such_verb", {})


def test_cli_filter_dispatch(spark, csv_path):
    out = run_verb(
        spark,
        "filter",
        {
            "input_ts": csv_path,
            "columns": "flow",
            "filter_type": "hanning",
            "window_len": "5",
        },
    )
    assert out.count() == 48


def test_cli_holt_and_ljung_box(spark, csv_path):
    """New forecasting/diagnostic verbs dispatch through the CLI."""
    out = run_verb(
        spark, "holt",
        {"input_ts": csv_path, "alpha": "0.4", "beta": "0.1",
         "value_col": "flow"},
    )
    assert {"level", "trend", "fitted"} <= set(out.columns)
    assert out.count() == 48
    lb = run_verb(
        spark, "ljung_box",
        {"input_ts": csv_path, "max_lag": "3", "value_col": "flow"},
    )
    assert {"lag", "rho", "q_stat"} <= set(lb.columns)
    assert lb.count() == 3


def test_cli_aggregate_output_verbs_print_without_ts(spark, csv_path):
    """Verbs whose output has no time column (ar2, theil_sen) must
    print through write_iso_csv without the Datetime injection."""
    from tstoolbox_spark.sources.csv import write_iso_csv

    out = run_verb(
        spark, "ar2", {"input_ts": csv_path, "value_col": "flow"}
    )
    text = write_iso_csv(out)
    assert text.splitlines()[0] == "rho1,rho2,phi1,phi2,sigma2"
    assert len(text.strip().splitlines()) == 2

    ts_out = run_verb(
        spark, "theil_sen", {"input_ts": csv_path, "value_col": "flow"}
    )
    assert "slope" in write_iso_csv(ts_out).splitlines()[0]


def test_cli_tstopickle_sink(spark, csv_path, tmp_path):
    import pandas as pd

    out_path = tmp_path / "ts.pkl"
    out = run_verb(
        spark,
        "tstopickle",
        {"input_ts": csv_path, "filename": str(out_path)},
    )
    assert out.count() == 0  # sink verb: nothing on stdout
    back = pd.read_pickle(out_path)
    assert len(back) == 48 and "flow" in back.columns


def test_cli_approx_distinct_verb(spark, csv_path):
    """approx_distinct dispatches the portable-HLL partial+estimate;
    at fixture cardinalities the m=256 sketch sits deep in its linear-
    counting regime and must land within the sketch error of exact."""
    from pyspark.sql import functions as F

    from tstoolbox_spark.sources.csv import read_timeseries_csv

    out = run_verb(
        spark, "approx_distinct",
        {"input_ts": csv_path, "value_col": "flow", "tier": "1d"},
    )
    assert {"ts", "approx_distinct", "registers_present"} <= set(out.columns)
    rows = {r["ts"]: r["approx_distinct"] for r in out.collect()}
    assert len(rows) == 2  # two days in the fixture
    exact = {
        r["ts"]: r["n"]
        for r in read_timeseries_csv(spark, csv_path)
        .groupBy(F.date_trunc("day", "ts").alias("ts"))
        .agg(F.countDistinct("flow").alias("n"))
        .collect()
    }
    for ts, est in rows.items():
        assert abs(est - exact[ts]) / exact[ts] < 0.2, (ts, est, exact[ts])


def test_default_driver_heap_fits_host():
    """The derived default heap is half of physical memory, so it never
    exceeds what the host has (a fixed 48g default could not start a
    JVM on a 16 GB host)."""
    import os

    from tstoolbox_spark.session import _parse_gb, default_driver_memory

    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    heap_gb = _parse_gb(default_driver_memory())
    assert 1 <= heap_gb and heap_gb * (1 << 30) <= phys


def test_cli_main_starts_on_default_session(csv_path):
    """``python -m tstoolbox_spark`` builds its own session with the
    default heap: a verb on a tiny CSV starts, prints, and exits 0."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-m", "tstoolbox_spark", "aggregate",
         f"--input_ts={csv_path}", "--groupby=D", "--statistic=sum"],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    assert len(lines) == 3 and lines[1].startswith("2024-01-01"), proc.stdout

"""time_weighted_avg, sniff_media_type, token_entropy.

TWA oracle: literal numpy trapezoid/step integration per bucket.
Sniffer oracle: hand-built payloads with real published magic bytes.
Entropy oracle: collections.Counter + math.log2 re-derivation.
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from tstoolbox_spark.operators.aggregate import time_weighted_avg
from tstoolbox_spark.multimodal import sniff_media_type
from tstoolbox_spark.textops.quality import token_entropy


def _irregular(seed=5, n=300):
    rng = np.random.default_rng(seed)
    t0 = dt.datetime(2021, 6, 1)
    ts = [
        t0 + dt.timedelta(seconds=int(s))
        for s in np.cumsum(rng.integers(30, 2400, n))
    ]
    return pd.DataFrame(
        {
            "ts": ts,
            "key": rng.choice(["a", "b"], n),
            "value": np.round(rng.normal(10, 4, n), 2),
        }
    )


def _twa_pandas(pdf, method):
    out = {}
    for (k, b), g in pdf.groupby(["key", pdf["ts"].dt.floor("h")]):
        g = g.sort_values(["ts", "value"])
        t = g["ts"].astype("int64").to_numpy() / 1e9
        v = g["value"].to_numpy()
        dur = t[-1] - t[0]
        if dur == 0:
            out[(k, b)] = v.mean()
            continue
        if method == "linear":
            area = np.trapz(v, t)
        else:
            area = (v[:-1] * np.diff(t)).sum()
        out[(k, b)] = area / dur
    return out


def test_twa_linear_and_locf_match_numpy(spark):
    pdf = _irregular()
    df = spark.createDataFrame(pdf)
    for method in ("linear", "locf"):
        got = {
            (r["key"], pd.Timestamp(r["ts"])): r["value_twa"]
            for r in time_weighted_avg(
                df, "H", method=method, key_cols=["key"]
            ).collect()
        }
        exp = _twa_pandas(pdf, method)
        assert set(got) == set(exp)
        for k in exp:
            assert abs(got[k] - exp[k]) < 2e-6, (method, k)


def test_twa_single_sample_bucket_falls_back_to_mean(spark):
    rows = [
        ("a", dt.datetime(2021, 1, 1, 0, 30), 7.0),
        # two samples at the SAME instant: zero span, mean fallback
        ("a", dt.datetime(2021, 1, 1, 1, 15), 2.0),
        ("a", dt.datetime(2021, 1, 1, 1, 15), 4.0),
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    got = {
        pd.Timestamp(r["ts"]).hour: r["value_twa"]
        for r in time_weighted_avg(df, "H", key_cols=["key"]).collect()
    }
    assert got == {0: 7.0, 1: 3.0}


def test_twa_single_shuffle(spark):
    """Window partition key == groupBy key, so the sort-based window
    exchange is reused by the aggregate: exactly one shuffle."""
    df = spark.createDataFrame(_irregular())
    plan = (
        time_weighted_avg(df, "H", key_cols=["key"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1


def test_twa_rejects_unknown_method(spark):
    df = spark.createDataFrame(_irregular())
    try:
        time_weighted_avg(df, "H", method="spline")
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "spline" in str(e)


MAGICS = [
    (b"\xff\xd8\xff\xe0" + b"x" * 9, "image/jpeg"),
    (b"\x89PNG\r\n\x1a\n" + b"x" * 8, "image/png"),
    (b"GIF89a" + b"x" * 10, "image/gif"),
    (b"GIF87a" + b"x" * 10, "image/gif"),
    (b"OggS" + b"x" * 12, "audio/ogg"),
    (b"ID3\x03" + b"x" * 12, "audio/mpeg"),
    (b"%PDF-1.7" + b"x" * 8, "application/pdf"),
    (b"RIFF\x10\x00\x00\x00WAVEfmt ", "audio/wav"),
    (b"RIFF\x10\x00\x00\x00AVI LIST", "video/avi"),
    (b"RIFF\x10\x00\x00\x00WEBPVP8 ", "image/webp"),
    (b"\x00\x00\x00\x18ftypisom\x00\x00", "video/mp4"),
    (b"plain text, nothing magical", "application/octet-stream"),
    (b"", "application/octet-stream"),
]


def test_sniff_all_signatures(spark):
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, (p, _) in enumerate(MAGICS)],
        "asset_id long, payload binary",
    )
    got = {r["asset_id"]: r["media_type"] for r in sniff_media_type(df).collect()}
    for i, (_, mime) in enumerate(MAGICS):
        assert got[i] == mime, (i, got[i], mime)


def test_sniff_no_shuffle(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\xff\xd8\xff"))], "asset_id long, payload binary"
    )
    plan = sniff_media_type(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_token_entropy_matches_counter(spark):
    texts = [
        (0, "a a a a"),                      # zero entropy
        (1, "a b c d"),                      # 2 bits
        (2, "the cat sat on the mat"),
        (3, "x"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tok"], r["entropy_bits"])
           for r in token_entropy(df).collect()}
    for i, t in texts:
        c = Counter(t.split(" "))
        n = sum(c.values())
        h = -sum((v / n) * math.log2(v / n) for v in c.values())
        assert got[i][0] == n
        assert abs(got[i][1] - h) < 2e-6, (i, got[i], h)
    assert got[0][1] == 0.0
    assert got[1][1] == 2.0


def test_byte_stats_known_payloads(spark):
    import math

    import pyspark.sql.types as T

    from tstoolbox_spark.multimodal import byte_stats

    sch = T.StructType(
        [T.StructField("asset_id", T.StringType()),
         T.StructField("payload", T.BinaryType())]
    )
    rows = [
        ("uniform", bytes([0, 1, 2, 3] * 4)),       # 4 distinct, p=1/4 each
        ("const", b"\x00" * 8),                     # zero entropy, all NUL
        ("text", b"abab"),
    ]
    out = {r["asset_id"]: r for r in byte_stats(spark.createDataFrame(rows, sch)).collect()}
    u = out["uniform"]
    assert u["n_bytes"] == 16 and u["distinct_bytes"] == 4
    # entropy = ln 4; each of 4 terms quantized then summed
    term = math.floor(0.25 * math.log(4) * 1e6 + 0.5)
    assert u["entropy_q6"] == 4 * term
    assert u["printable_ratio"] == 0.0
    c = out["const"]
    assert c["entropy_q6"] == 0 and c["nul_ratio"] == 1.0
    t = out["text"]
    assert t["printable_ratio"] == 1.0 and t["distinct_bytes"] == 2


def test_byte_stats_vectorized_matches_explode_path(spark):
    """The Arrow-histogram default must be value-identical to the
    explode path (same integer counts, same per-term doubles),
    including dropping NULL/empty payloads, and its plan must carry
    no per-byte exchange."""
    import pandas as pd
    import pyspark.sql.types as T

    from tstoolbox_spark.multimodal import byte_stats

    sch = T.StructType(
        [T.StructField("asset_id", T.StringType()),
         T.StructField("payload", T.BinaryType())]
    )
    rows = [
        ("a", bytes(range(256)) * 3),
        ("b", b"hello world\x00\x00"),
        ("c", b"\xff" * 100),
        ("empty", b""),
        ("null", None),
        # a repeated id: one output row per input row on both paths
        ("b", b"\x00\x00"),
    ]
    df = spark.createDataFrame(rows, sch)
    vec = byte_stats(df, vectorized=True)
    key = ["asset_id", "n_bytes"]
    a = vec.toPandas().sort_values(key).reset_index(drop=True)
    b = (byte_stats(df, vectorized=False)
         .toPandas().sort_values(key).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    assert set(a["asset_id"]) == {"a", "b", "c"}
    assert len(a) == 4
    plan = vec._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas UDFs.

The container has no image/audio libraries, so the DECODE step is
stubbed (NotImplementedError or a deterministic fake) — but everything
Spark-side is real and tested: the schema, the mapInPandas batch
shape, partition sizing, and the metadata fast paths that never touch
Python (octet_length / md5 are JVM expressions).

Schema convention::

    asset_id: string, modality: string ('image'|'audio'|'video'),
    payload: binary, meta: struct<width int, height int, sample_rate
    int, duration_ms int>

At 100 TB: payloads stay in parquet binary columns; metadata-only
queries prune the payload column entirely (columnar projection), and
decode stages size partitions by bytes (`spark.sql.files.
maxPartitionBytes`) so a batch of payloads fits worker memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ASSET_SCHEMA = (
    "asset_id string, modality string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:int>"
)

HAVE_PIL = False
try:  # pragma: no cover - not installed in this container
    import PIL.Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    pass


def binary_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Metadata fast path — JVM expressions only, payload column is the
    single column read (check ReadSchema in the plan)."""
    p = F.col(payload_col)
    return df.withColumn("n_bytes", F.octet_length(p)).withColumn(
        "payload_md5", F.md5(p)
    )


def _decode_image(payload: bytes) -> np.ndarray:
    """Real decode requires PIL/libjpeg — absent here by design."""
    if not HAVE_PIL:
        raise NotImplementedError(
            "image decode requires PIL; install pillow on the cluster "
            "image. Use fake_features for plumbing tests."
        )
    raise NotImplementedError  # pragma: no cover


def fake_features(payload: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic stand-in for decode→feature-extract: dim float32
    features derived from payload bytes (stable across runs/machines).
    Keeps the UDF signature, batch shape and schema identical to a
    real extractor."""
    h = np.frombuffer(payload, dtype=np.uint8)
    if h.size == 0:
        return np.zeros(dim, dtype=np.float32)
    idx = np.arange(dim)
    sums = np.array(
        [h[i::dim].astype(np.int64).sum() for i in idx], dtype=np.float64
    )
    return ((sums % 1000) / 1000.0).astype(np.float32)


def extract_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "asset_id", dim: int = 8
) -> DataFrame:
    """Feature extraction stage: mapInPandas over payload batches.
    Swap ``fake_features`` for a real decoder on a cluster with the
    codec libraries installed — the Spark plumbing is unchanged."""
    out_schema = f"{id_col} string, features array<float>"

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                fake_features(bytes(p) if p is not None else b"", dim)
                for p in pdf[payload_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    return df.select(id_col, payload_col).mapInPandas(_extract, schema=out_schema)


def resize_stub(df: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize stage — stub: decode unavailable in this container."""
    raise NotImplementedError(
        "resize requires an image decoder (PIL) on the executors; the "
        "pipeline wiring is extract_features with a resize-aware decoder."
    )


# Published file signatures ("magic numbers", public knowledge — e.g.
# the IANA media-type registries and format specs): prefix byte
# patterns, plus the two offset rules (RIFF subtype at byte 9, ISO
# BMFF 'ftyp' at byte 5).
_PREFIX_SIGS: list[tuple[bytes, str]] = [
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"OggS", "audio/ogg"),
    (b"ID3", "audio/mpeg"),
    (b"%PDF", "application/pdf"),
]
_RIFF_SUBTYPES: list[tuple[bytes, str]] = [
    (b"WAVE", "audio/wav"),
    (b"AVI ", "video/avi"),
    (b"WEBP", "image/webp"),
]
SNIFF_FALLBACK = "application/octet-stream"


def sniff_media_type(
    df: DataFrame, payload_col: str = "payload", out_col: str = "media_type"
) -> DataFrame:
    """Detect the container format of an opaque binary payload from
    its magic bytes — REAL capability (unlike decode, sniffing needs
    no codec library): pure JVM column expressions over the first 12
    bytes, zero shuffle, and with a payload-only projection the scan
    reads nothing else.

    At 100 TB this is the cheap pre-partition step: route payloads to
    modality-specific decode stages (and quarantine mislabeled rows
    where ``media_type`` disagrees with the declared ``modality``
    column) before any expensive Python stage runs.
    """
    p = F.col(payload_col)

    def hx(b: bytes) -> str:
        return b.hex().upper()

    head = F.hex(F.substring(p, 1, 12))
    at5 = F.hex(F.substring(p, 5, 4))
    at9 = F.hex(F.substring(p, 9, 4))
    expr = None
    for sig, mime in _PREFIX_SIGS:
        cond = head.startswith(hx(sig))
        expr = F.when(cond, mime) if expr is None else expr.when(cond, mime)
    riff = head.startswith(hx(b"RIFF"))
    for sub, mime in _RIFF_SUBTYPES:
        expr = expr.when(riff & (at9 == hx(sub)), mime)
    expr = expr.when(at5 == hx(b"ftyp"), "video/mp4")
    return df.withColumn(out_col, expr.otherwise(SNIFF_FALLBACK))


def byte_stats(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "asset_id",
    vectorized: bool = True,
) -> DataFrame:
    """Codec-free byte-level payload statistics — the routing signal a
    100 TB multimodal pipeline computes BEFORE any decode stage:
    Shannon byte entropy (compressed/encrypted ≈ 8 bits, text ≈ 4-5),
    printable and NUL ratios, distinct byte count.

    Default path (``vectorized=True``): ONE Arrow batch pass builds a
    256-bin histogram per payload (``np.bincount`` over the raw
    bytes), then every statistic is a JVM array expression over the
    counts — zero shuffle, one output row per asset. The previous
    explode path shuffled one ROW PER BYTE (O(total payload bytes)
    through the exchange — the wrong shape at 100 TB); it is kept as
    ``vectorized=False`` because it is pure JVM expressions, and the
    two are value-identical (same integer counts, same per-term
    double arithmetic; parity-tested).

    Entropy terms are floor-quantized to 1e-6 per distinct byte before
    the sum, so ``entropy_q6`` (nats·10⁶) is an association-free
    BIGINT; divide by 1e6 for the float value.

    Output: (id_col, n_bytes, distinct_bytes, entropy_q6,
    printable_ratio, nul_ratio), one row per input row with a
    non-empty payload: rows that repeat an ``id_col`` value are not
    merged. Rows with NULL/empty payloads are absent from the output
    on both paths.
    """
    if vectorized:
        id_type = df.schema[id_col].dataType.simpleString()

        def gen(batches):
            import numpy as np

            for pdf in batches:
                ids, counts = [], []
                for aid, payload in zip(pdf[id_col], pdf[payload_col]):
                    if payload is None:
                        continue
                    buf = bytes(payload)
                    if not buf:
                        continue
                    ids.append(aid)
                    counts.append(
                        np.bincount(
                            np.frombuffer(buf, dtype=np.uint8), minlength=256
                        ).astype("int64").tolist()
                    )
                if not ids:
                    # an all-null/empty batch: yield nothing (an empty
                    # frame's numeric-dtype columns break Arrow's
                    # list<int64> conversion)
                    continue
                yield pd.DataFrame({
                    id_col: pd.Series(ids, dtype="object"),
                    "__counts": pd.Series(counts, dtype="object"),
                })

        hist = df.select(id_col, payload_col).mapInPandas(
            gen, schema=f"{id_col} {id_type}, __counts array<long>"
        )
        cnts = F.col("__counts")
        n = F.aggregate(cnts, F.lit(0).cast("long"), lambda a, c: a + c)
        nz = F.filter(cnts, lambda c: c > 0)

        def ent_term(c):
            p = c.cast("double") / F.col("n_bytes")
            return F.floor(-(p * F.log(p)) * F.lit(1e6) + F.lit(0.5)).cast("long")

        printable = F.aggregate(
            F.slice(cnts, 33, 95), F.lit(0).cast("long"), lambda a, c: a + c
        )
        return (
            hist.withColumn("n_bytes", n)
            .select(
                id_col,
                "n_bytes",
                F.size(nz).cast("long").alias("distinct_bytes"),
                F.aggregate(
                    nz, F.lit(0).cast("long"), lambda a, c: a + ent_term(c)
                ).alias("entropy_q6"),
                F.round(
                    printable.cast("double") / F.col("n_bytes"), 6
                ).alias("printable_ratio"),
                F.round(
                    F.element_at(cnts, 1).cast("double") / F.col("n_bytes"), 6
                ).alias("nul_ratio"),
            )
        )

    from .textops.dedup import let

    hx = F.hex(F.col(payload_col))
    # guard the empty payload: Spark's sequence(1, 0) is DESCENDING
    # ([1, 0]), so an unguarded transform fabricates two bogus byte
    # rows for a zero-length payload (latent bug found by the
    # vectorized-path parity test)
    bytes_arr = let(
        hx,
        lambda h: F.when(
            F.length(h) >= F.lit(2),
            F.transform(
                F.sequence(F.lit(1), (F.length(h) / 2).cast("int")),
                lambda i: F.conv(
                    F.substring(h, (i * 2 - 1).cast("int"), 2), 16, 10
                ).cast("int"),
            ),
        ).otherwise(F.array().cast("array<int>")),
    )
    # group by a per-row key, not the id: one output row per input row
    ex = df.select(
        F.monotonically_increasing_id().alias("row"),
        F.col(id_col).alias("aid"), F.length(payload_col).cast("long").alias("n"),
        bytes_arr.alias("bytes"),
    ).select("row", "aid", "n", F.explode("bytes").alias("b"))
    per_byte = ex.groupBy("row", "aid", "n", "b").agg(F.count(F.lit(1)).alias("c"))
    p = F.col("c").cast("double") / F.col("n")
    stats = per_byte.groupBy("row", "aid").agg(
        F.max("n").alias("n_bytes"),
        F.count(F.lit(1)).alias("distinct_bytes"),
        F.sum(
            F.floor(-(p * F.log(p)) * F.lit(1e6) + F.lit(0.5))
        ).cast("long").alias("entropy_q6"),
        F.round(
            F.sum(F.when((F.col("b") >= 32) & (F.col("b") <= 126), F.col("c"))
                  .otherwise(F.lit(0))).cast("double") / F.max("n"),
            6,
        ).alias("printable_ratio"),
        F.round(
            F.sum(F.when(F.col("b") == 0, F.col("c")).otherwise(F.lit(0)))
            .cast("double") / F.max("n"),
            6,
        ).alias("nul_ratio"),
    )
    return stats.select(
        F.col("aid").alias(id_col),
        "n_bytes",
        "distinct_bytes",
        "entropy_q6",
        "printable_ratio",
        "nul_ratio",
    )

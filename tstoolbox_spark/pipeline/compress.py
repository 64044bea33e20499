"""Compress / decompress stages: Gorilla bucket codec inside
applyInArrow (Arrow-native grouped map — the only Python stage in the
pipeline, as the north rule mandates; zero per-row Python).

compress: (doc_id, tokens, n_tok, source, ts, bucket, salt) grouped by
(source, bucket, salt) → one row per cell:
(source, bucket, salt, n_rows, n_tokens, raw_bytes, blob).

decompress: inverse, exploding blobs back to sequence rows. Round-trip
token equality is the enforced invariant (``digest`` in the pipeline,
``verify_roundtrip`` as the exact oracle).

Why Arrow (not pandas) grouped maps: the hot columns are
``tokens: list<int32>`` and ``doc_id: utf8``. Arrow exposes both as
flat buffers — ``ListArray.flatten()`` is the already-concatenated
token stream and ``StringArray.buffers()`` give (offsets, utf8 blob) —
so the codec consumes/produces them zero-copy, with no object-array
materialization and no np.concatenate over per-row arrays.

Scale notes: each cell is sized by bucketing.py to a bounded row count
so batches fit worker memory; the groupBy is the one pre-codec shuffle.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..codec.gorilla import decode_bucket, encode_bucket

COMPRESSED_SCHEMA = (
    "source string, bucket int, salt int, n_rows long, n_tokens long, "
    "raw_bytes long, enc_bytes long, blob binary"
)

SEQUENCE_SCHEMA = (
    "doc_id string, tokens array<int>, n_tok int, source string, "
    "ts timestamp_ntz, bucket int, salt int"
)


def _string_buffers(arr: pa.Array) -> tuple[np.ndarray, bytes]:
    """(utf8 lengths, utf8 blob) from a StringArray, zero-copy."""
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    if not isinstance(arr, pa.LargeStringArray):
        arr = arr.cast(pa.large_utf8())
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int64, count=len(arr) + 1)
    offsets = offsets + arr.offset if arr.offset else offsets
    data = arr.buffers()[2]
    blob = data.to_pybytes()[offsets[0] : offsets[-1]]
    lens = np.diff(offsets).astype(np.uint64)
    return lens, blob


def _encode_cell_arrow(tbl: pa.Table) -> pa.Table:
    import pyarrow.compute as pc

    idx = pc.sort_indices(
        tbl, sort_keys=[("ts", "ascending"), ("doc_id", "ascending")]
    )
    tbl = tbl.take(idx)
    ts = tbl["ts"].to_numpy(zero_copy_only=False).astype("datetime64[us]").view(np.int64)
    n_tok = tbl["n_tok"].to_numpy(zero_copy_only=False).astype(np.int64)
    toks = tbl["tokens"].combine_chunks()
    tokens_flat = toks.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    lens, id_blob = _string_buffers(tbl["doc_id"])
    blob = encode_bucket(ts, n_tok, tokens_flat, (lens, id_blob))
    raw = len(tbl) * 16 + tokens_flat.size * 4 + len(id_blob)
    first = tbl.slice(0, 1)
    return pa.table(
        {
            "source": first["source"],
            "bucket": first["bucket"],
            "salt": first["salt"],
            "n_rows": pa.array([len(tbl)], pa.int64()),
            "n_tokens": pa.array([int(tokens_flat.size)], pa.int64()),
            "raw_bytes": pa.array([int(raw)], pa.int64()),
            # stored alongside so size accounting never re-scans blobs
            # (parquet column pruning skips the payload entirely)
            "enc_bytes": pa.array([len(blob)], pa.int64()),
            "blob": pa.array([blob], pa.binary()),
        }
    )


def compress(bucketed_df: DataFrame) -> DataFrame:
    """One compressed row per (source, bucket, salt) cell."""
    grouped = bucketed_df.groupBy("source", "bucket", "salt")
    return grouped.applyInArrow(_encode_cell_arrow, schema=COMPRESSED_SCHEMA)


def _decode_cell_arrow(batches):
    for batch in batches:
        tbl = pa.Table.from_batches([batch])
        for i in range(len(tbl)):
            blob = tbl["blob"][i].as_py()
            ts, n_tok, tokens_flat, (lens, id_blob) = decode_bucket(
                bytes(blob), raw_ids=True
            )
            n = len(n_tok)
            tok_offsets = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(n_tok, out=tok_offsets[1:])
            tokens = pa.ListArray.from_arrays(
                pa.array(tok_offsets, pa.int32()),
                pa.array(tokens_flat.astype(np.int32), pa.int32()),
            )
            id_offsets = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(lens.astype(np.int64), out=id_offsets[1:])
            doc_ids = pa.LargeStringArray.from_buffers(
                n, pa.py_buffer(id_offsets.tobytes()), pa.py_buffer(id_blob)
            ).cast(pa.string())
            yield pa.record_batch(
                {
                    "doc_id": doc_ids,
                    "tokens": tokens,
                    "n_tok": pa.array(n_tok.astype(np.int32), pa.int32()),
                    "source": pa.array([tbl["source"][i].as_py()] * n, pa.string()),
                    "ts": pa.array(ts, pa.timestamp("us")),
                    "bucket": pa.array(
                        np.full(n, tbl["bucket"][i].as_py(), dtype=np.int32), pa.int32()
                    ),
                    "salt": pa.array(
                        np.full(n, tbl["salt"][i].as_py(), dtype=np.int32), pa.int32()
                    ),
                }
            )


def decompress(compressed_df: DataFrame) -> DataFrame:
    """Explode compressed cells back to sequence rows (mapInArrow —
    each input row is independent; no shuffle)."""
    return compressed_df.mapInArrow(_decode_cell_arrow, schema=SEQUENCE_SCHEMA)


def digest(cols=("doc_id", "tokens")) -> list[Column]:
    """The digest of rows over ``cols``, as aggregate columns any
    ``DataFrame.observe`` or ``agg`` can take: the row count and two
    order-independent sums of a per-row fingerprint xxhash64(cols),
    reduced modulo two primes. The same rows in any order and
    partitioning give the same digest; a differing row changes it
    unless both reductions collide. Shuffle-free, so it rides on an
    action that already runs (the cells' cache fill and the decode of
    the staged blobs, over (doc_id, tokens): the round-trip check; a
    tier fold's touched-days collect, over every column: the batch's
    identity)."""
    h = F.xxhash64(*[F.col(c) for c in cols])
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(h, F.lit(2**31 - 1)).cast("decimal(38,0)")).alias("d1"),
        F.sum(F.pmod(h, F.lit(999999937)).cast("decimal(38,0)")).alias("d2"),
    ]


def verify_roundtrip(bucketed_df: DataFrame, decompressed_df: DataFrame) -> dict:
    """Exact per-row token-array equality vs source: full-outer join on
    doc_id, arrays compared JVM-side. Shuffles both token payloads —
    the test and benchmark oracle; the pipeline compares
    :func:`digest` values instead."""
    left = bucketed_df.select("doc_id", F.col("tokens").alias("tokens_src"))
    right = decompressed_df.select("doc_id", F.col("tokens").alias("tokens_rt"))
    joined = left.join(right, "doc_id", "full")
    agg = joined.agg(
        F.count("*").alias("total"),
        F.sum(
            F.when(
                F.col("tokens_src").isNull()
                | F.col("tokens_rt").isNull()
                | (F.col("tokens_src") != F.col("tokens_rt")),
                1,
            ).otherwise(0)
        ).alias("mismatched"),
    ).collect()[0]
    return {"total": agg["total"], "mismatched": int(agg["mismatched"] or 0)}

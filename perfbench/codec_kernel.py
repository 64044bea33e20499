"""Gorilla codec kernel timed alone, in-process on one core.

Cells are built before any timing starts, shaped like the pipeline's
cells (second-resolution timestamps sorted inside a 30-day span, the
generator's squared-uniform lengths in [1, 512], tokens below 50,000,
``doc-<12 digits>`` ids). Each blob section is timed through its own
public encoder and decoder, and every decode is checked bit-exact.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from tstoolbox_spark.codec.bitpack import pack_for_blocks, unpack_for_blocks
from tstoolbox_spark.codec.gorilla import (
    decode_bucket,
    decode_dod,
    decode_xor,
    encode_bucket,
    encode_dod,
    encode_xor,
)

SPAN_SECONDS = 30 * 24 * 3600


def make_cells(seed: int, n_cells: int, rows: int) -> list[dict]:
    rng = np.random.default_rng(seed)
    cells = []
    for c in range(n_cells):
        ts = np.sort(rng.integers(0, SPAN_SECONDS, rows)).astype(np.int64) * 1_000_000
        u = rng.random(rows)
        n_tok = (1 + u * u * 511).astype(np.int64)
        tokens = rng.integers(0, 50_000, int(n_tok.sum())).astype(np.int64)
        ids = b"".join(b"doc-%012d" % (c * rows + i) for i in range(rows))
        lens = np.full(rows, 16, dtype=np.uint64)
        cells.append({"ts": ts, "n_tok": n_tok, "tokens": tokens, "lens": lens, "blob": ids})
    return cells


def _sections():
    """name → (raw bytes of a cell's section, encode, decode-and-compare)."""
    return {
        "dod": (
            lambda c: c["ts"].size * 8,
            lambda c: encode_dod(c["ts"]),
            lambda c, b: np.array_equal(decode_dod(b)[0], c["ts"]),
        ),
        "xor": (
            lambda c: c["n_tok"].size * 8,
            lambda c: encode_xor(c["n_tok"].view(np.uint64)),
            lambda c, b: np.array_equal(decode_xor(b)[0].view(np.int64), c["n_tok"]),
        ),
        "for": (
            lambda c: c["tokens"].size * 4,
            lambda c: pack_for_blocks(c["tokens"].view(np.uint64)),
            lambda c, b: np.array_equal(unpack_for_blocks(b)[0].view(np.int64), c["tokens"]),
        ),
        "ids": (
            lambda c: c["lens"].size * 8 + len(c["blob"]),
            lambda c: pack_for_blocks(c["lens"]) + c["blob"],
            lambda c, b: np.array_equal(unpack_for_blocks(b)[0], c["lens"])
            and b[-len(c["blob"]):] == c["blob"],
        ),
        "bucket": (
            # the pipeline's raw_bytes: 16 B per row, 4 B per token, utf8 ids
            lambda c: c["ts"].size * 16 + c["tokens"].size * 4 + len(c["blob"]),
            lambda c: encode_bucket(c["ts"], c["n_tok"], c["tokens"], (c["lens"], c["blob"])),
            lambda c, b: _bucket_equal(c, decode_bucket(b, raw_ids=True)),
        ),
    }


def _bucket_equal(c: dict, out) -> bool:
    ts, n_tok, tokens, (lens, blob) = out
    return (
        np.array_equal(ts, c["ts"]) and np.array_equal(n_tok, c["n_tok"])
        and np.array_equal(tokens, c["tokens"]) and np.array_equal(lens, c["lens"])
        and bytes(blob) == c["blob"]
    )


def measure(cells: list[dict], reps: int) -> tuple[dict[str, float], int]:
    """Per-layer codec metrics and the number of decodes that were not
    bit-exact. Times are medians over ``reps`` passes over all cells."""
    metrics: dict[str, float] = {}
    mismatches = 0
    for name, (raw_of, enc, dec_eq) in _sections().items():
        raw = sum(raw_of(c) for c in cells)
        blobs = [enc(c) for c in cells]
        enc_t, dec_t = [], []
        for _ in range(reps):
            t = time.perf_counter()
            for c in cells:
                enc(c)
            enc_t.append(time.perf_counter() - t)
            t = time.perf_counter()
            ok = [dec_eq(c, b) for c, b in zip(cells, blobs)]
            dec_t.append(time.perf_counter() - t)
            mismatches += ok.count(False)
        prefix = "codec" if name == "bucket" else f"codec.{name}"
        metrics[f"{prefix}.encode_MBps"] = raw / 2**20 / statistics.median(enc_t)
        metrics[f"{prefix}.decode_MBps"] = raw / 2**20 / statistics.median(dec_t)
        if name != "bucket":
            metrics[f"{prefix}.ratio"] = raw / sum(len(b) for b in blobs)
    return metrics, mismatches

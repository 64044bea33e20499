"""Bloom-filter membership partials: set membership for unbounded ids.

Completes the repo's composable-sketch family — CMS (counts), HLL
(distinct), DDSketch (quantiles), and now Bloom (membership, Bloom
1970). The filter is W 64-bit words whose partials compose by plain
``bit_or`` — the same merge-by-aggregate shape as every other tier
partial, so map-side combine, tier cascade, and late-batch folds all
apply. Probes NEVER see a false negative; false positives are bounded
by the classic (1 − e^{−kn/m})^k with m = 64·W bits and k hash rows.

Hashing is the repo's portable md5 scheme (``textops.dedup.md5int``
with per-row salts), so the filter is deterministic and reproducible
bit-for-bit in any engine — the DuckDB oracle rebuilds the identical
words. Typical use at 10^12-sequence scale: build on the eval-set /
blocklist side (bounded), broadcast the word table (W·8 bytes), and
probe the corpus with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import partials

#: default geometry — 1024 words = 64,512 bits; with k=4 the false-
#: positive rate stays under 1% up to ~6,400 member ids per filter.
BLOOM_WORDS = 1024
BLOOM_K = 4


def exploded_positions(
    df: DataFrame,
    id_col: str,
    k: int,
    words: int,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One row per (id, hash row): ``word`` index and single-bit
    ``mask``. Bit j of a key sits at md5(key || '|bf<j>') mod 63·W;
    the division/modulo stay on exact BIGINTs (word < W, bit < 63).
    ``carry_cols`` pass through untouched (e.g. the key and event-time
    columns of a tiered filter)."""
    # imported here: the textops package is heavy, and every pipeline
    # import (Python workers included) loads this module via partials
    from ..textops.dedup import md5int

    m = 63 * words
    tmp = df
    structs = []
    for j in range(k):
        h = md5int(
            F.concat(F.col(id_col).cast("string"), F.lit(f"|bf{j}"))
        ) % F.lit(m)
        tmp = tmp.withColumn(f"__h{j}", h)
        structs.append(
            F.struct(
                F.expr(f"CAST(__h{j} DIV 63 AS BIGINT)").alias("word"),
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(__h{j} % 63 AS INT))"
                ).alias("mask"),
            )
        )
    return tmp.select(
        *carry_cols, F.col(id_col), F.explode(F.array(*structs)).alias("p")
    ).select(
        *carry_cols,
        id_col,
        F.col("p.word").alias("word"),
        F.col("p.mask").alias("mask"),
    )


def bloom_build(
    df: DataFrame, id_col: str, k: int = BLOOM_K, words: int = BLOOM_WORDS,
) -> DataFrame:
    """Build the filter (``partials.BLOOM``): one row per set word,
    ``(word, mask)`` with mask the bit_or of all member bits in that
    word. Output is bounded by ``words`` rows regardless of input size.

    Scale shape: a k-way explode of (word, bitmask) ints into one
    hash aggregate — partial aggregation collapses it map-side, the
    shuffle moves at most the word table.
    """
    return partials.base(partials.BLOOM, df, None, value_col=id_col, k=k, words=words)


def bloom_merge(parts: DataFrame) -> DataFrame:
    """Fold filters built over disjoint batches — bit_or, exact."""
    return partials.cascade(partials.BLOOM, parts, None)


def bloom_probe(
    bloom: DataFrame,
    probes: DataFrame,
    id_col: str,
    k: int = BLOOM_K,
    words: int = BLOOM_WORDS,
) -> DataFrame:
    """Membership test: ``maybe_member`` is true iff every one of the
    key's k bits is set (false ⇒ definitely absent — no false
    negatives). The word table is the BROADCAST build side (bounded at
    ``words`` rows); probes stream, and the only shuffle is the final
    per-probe groupBy."""
    probe_rows = exploded_positions(probes, id_col, k, words)
    joined = probe_rows.join(
        F.broadcast(bloom.withColumnRenamed("mask", "__fmask")),
        "word",
        "left",
    )
    bit_set = (
        F.coalesce(F.col("__fmask"), F.lit(0)).bitwiseAND(F.col("mask"))
        == F.col("mask")
    ).cast("int")
    return (
        joined.select(F.col(id_col), bit_set.alias("__set"))
        .groupBy(id_col)
        .agg((F.min("__set") == 1).alias("maybe_member"))
    )

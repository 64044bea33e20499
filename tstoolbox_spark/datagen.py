"""Deterministic generator for the engine-native input table.

Schema (authoritative, BASELINE.json ``input_hint``)::

    doc_id : string      unique; seeds ts derivation and bucketing
    tokens : array<int>  pre-tokenized sequence (int32 domain)
    n_tok  : int         = size(tokens); the rolled-up measure
    source : string      low-cardinality, Zipf-skewed (exercises salting)

Everything is generated from ``spark.range`` with pure column
expressions (xxhash64-seeded), so generation itself is distributed,
O(rows/executors), and reproducible at any scale factor — the same
doc_id always yields the same tokens, n_tok, source and ts on any
cluster size. No driver-side data, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Fixed engine epoch for the derived time axis (see timeaxis.py).
EPOCH = "2024-01-01 00:00:00"

#: Zipf-ish source skew: cumulative probability thresholds out of 1000.
#: src0 holds ~52% of all sequences — the hot source the salted
#: repartition (pipeline/bucketing.py) must break up.
SOURCE_CUMULATIVE = [
    ("src0", 520),
    ("src1", 260 + 520),
    ("src2", 130 + 780),
    ("src3", 60 + 910),
    ("src4", 1000),
]

VOCAB_SIZE = 50_000
MIN_TOKENS = 1
MAX_TOKENS = 512


def _source_expr(h: F.Column) -> F.Column:
    """Map a uniform hash to the skewed source label."""
    bucket = F.pmod(h, F.lit(1000))
    expr = None
    prev = 0
    for name, cum in SOURCE_CUMULATIVE:
        cond = bucket < F.lit(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        prev = cum
    return expr


def generate_sequences(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    partitions: int | None = None,
    max_tokens: int = MAX_TOKENS,
) -> DataFrame:
    """Build the input table with ``n_rows`` sequences.

    token values are ``xxhash64(doc_id, position, seed) mod VOCAB``;
    lengths follow a skewed (hash^2-shaped) distribution in
    [MIN_TOKENS, max_tokens].
    """
    base = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)
    doc_id = F.concat(F.lit("doc-"), F.lpad(F.col("id").cast("string"), 12, "0"))
    h = F.abs(F.xxhash64(doc_id, F.lit(seed)))
    # Skewed length: square a uniform [0,1) draw so short sequences dominate.
    u = (F.pmod(h, F.lit(1_000_003)).cast("double") / F.lit(1_000_003.0))
    n_tok = (F.lit(MIN_TOKENS) + (u * u * F.lit(max_tokens - MIN_TOKENS))).cast("int")
    df = base.select(
        doc_id.alias("doc_id"),
        n_tok.alias("n_tok"),
        _source_expr(h).alias("source"),
    )
    tokens = F.transform(
        F.sequence(F.lit(1), F.col("n_tok")),
        lambda i: F.pmod(F.xxhash64(F.col("doc_id"), i, F.lit(seed)), F.lit(VOCAB_SIZE)).cast("int"),
    )
    return df.select("doc_id", tokens.alias("tokens"), "n_tok", "source")
